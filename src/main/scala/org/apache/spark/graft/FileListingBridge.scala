package org.apache.spark.graft

import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's private[spark] file-listing rule: the names its
  * file index hides (`_`/`.` prefixes except the parquet summaries,
  * `._COPYING_` uploads), so [[graft.Tables.parquet]] picks its footer
  * from the same files Spark's reader lists. */
object FileListingBridge {
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
