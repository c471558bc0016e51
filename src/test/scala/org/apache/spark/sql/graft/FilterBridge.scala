package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader}
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.sources.Filter

/** Test-only bridge to the planner's and the parquet reader's own
  * pushability tests (`DataSourceStrategy.translateFilter` is
  * protected[sql]). The PlanShapeSpec pushdown fence asks both: a
  * dataFilter that translates into a source filter must also be one the
  * parquet reader turns into a row-group predicate, or it is a plain
  * predicate left for the row-by-row Filter.
  */
object FilterBridge {
  def translate(predicate: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(
      predicate, supportNestedPredicatePushdown = true)

  /** which source filters the parquet reader pushes into its row-group
    * predicate for `file`: ParquetFilters built from the file's footer
    * schema and the session's pushdown settings, as ParquetFileFormat
    * builds it per file. */
  def parquetAcceptor(spark: SparkSession, file: String): Filter => Boolean = {
    val conf = spark.sessionState.conf
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(
      new Path(file), spark.sessionState.newHadoopConf()), SKIP_ROW_GROUPS)
    val filters = new ParquetFilters(footer.getFileMetaData.getSchema,
      conf.parquetFilterPushDownDate, conf.parquetFilterPushDownTimestamp,
      conf.parquetFilterPushDownDecimal, conf.parquetFilterPushDownStringPredicate,
      conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis,
      // the rebase mode converts pushed date/time values; it does not
      // decide whether a filter converts
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
    f => conf.parquetFilterPushDown && filters.createFilter(f).isDefined
  }
}
