package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed MERGE (upsert + delete) into a parquet table — the "apply"
  * half of curation. Every reference pipeline ends by pushing updated
  * resources back to the store (reference
  * src/neuron_morphology/validation/create_update_curation_annotation.py
  * forge.update loop; src/neuron_morphology/morphology_registration.py
  * register-or-update); graft's equivalent is a copy-on-write merge:
  * parquet has no in-place update, so the new table state is computed
  * as target ⟗ updates on the key, written to a staging directory, and
  * swapped in.
  *
  * Scale shape: one full-outer shuffle join on the merge key — the
  * canonical copy-on-write merge (what a Delta/Iceberg MERGE lowers to
  * without the transaction log). For repeated merges into a huge table,
  * bucket both sides by the key so the join co-locates without a
  * shuffle; at 100 TB the rewrite cost is bounded by partitioning the
  * table and merging only touched partitions (partition-overwrite).
  */
object MergeWriter {

  /** Pure merge semantics (no IO): per-key, an update row wins column
    * by column over the target row (COALESCE(update, target) for the
    * columns both sides share), unmatched update rows insert, unmatched
    * target rows carry over, and rows whose update carries a true
    * `deleteFlag` are dropped. Column sets may differ: target-only
    * columns are NULL on inserted rows, update-only columns are NULL on
    * carried-over rows. */
  def mergedState(target: DataFrame, updates: DataFrame, key: String,
                  deleteFlag: Option[String] = None): DataFrame = {
    val t = target.alias("t")
    val u = updates.alias("u")
    val tCols = target.columns.filterNot(_ == key)
    val uCols = updates.columns.filterNot(c => c == key || deleteFlag.contains(c))
    val common = tCols.intersect(uCols)
    val onlyT = tCols.diff(uCols)
    val onlyU = uCols.diff(tCols)
    val outCols: Seq[Column] = col(key) +:
      (common.map(c => coalesce(col(s"u.$c"), col(s"t.$c")).as(c)) ++
        onlyT.map(c => col(s"t.$c")) ++
        onlyU.map(c => col(s"u.$c"))).toSeq
    val joined = t.join(u, Seq(key), "full_outer")
    val alive = deleteFlag match {
      case Some(f) => joined.filter(!coalesce(col(s"u.$f"), lit(false)))
      case None    => joined
    }
    alive.select(outCols: _*)
  }

  /** Copy-on-write apply: read the table at `path`, merge `updates`
    * in, write the new state to `<path>.staging`, then swap via
    * `path → path.bak`, `staging → path`, drop `path.bak`. A crash at
    * any point leaves either the live directory or a recoverable
    * `.staging`/`.bak` pair — never a window where the only copy of the
    * table is mid-delete. [[recover]] (called on entry, so checkpoint
    * replay of the streaming upsert sink self-heals) rolls an
    * interrupted swap forward or back. Idempotent: re-applying the same
    * updates yields the same state (COALESCE and delete-filter are
    * stable under repeat). */
  def applyTo(spark: SparkSession, path: String, updates: DataFrame, key: String,
              deleteFlag: Option[String] = None): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    // Path-based resolution: the filesystem OWNING `path` (s3a/hdfs/file),
    // not the configured default filesystem.
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, p)
    val merged = mergedState(graft.Tables.parquet(spark, path), updates, key, deleteFlag)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val backup = new org.apache.hadoop.fs.Path(path + ".bak")
    merged.write.mode("overwrite").parquet(staging.toString)
    if (!fs.rename(p, backup))
      throw new java.io.IOException(s"merge swap failed: $p -> $backup")
    if (!fs.rename(staging, p)) {
      fs.rename(backup, p) // roll back so the table stays readable
      throw new java.io.IOException(s"merge swap failed: $staging -> $p")
    }
    fs.delete(backup, true)
  }

  /** Partition-scoped merge: only partitions that updates actually
    * touch are read, merged and rewritten — dynamic partition
    * overwrite replaces exactly those directories and leaves every
    * other partition's files physically untouched. This is the
    * bounded-rewrite form of [[applyTo]] for partitioned tables: at
    * 100 TB a full copy-on-write swap rewrites the world, while this
    * rewrites O(touched partitions).
    *
    * Contract: `partCol` is a partition column of the table, present
    * on the updates, and STABLE under updates for existing keys (a
    * key's partition value never changes) — the standard partitioned-
    * MERGE precondition; violating it can duplicate a key across
    * partitions. Inserts may land in brand-new partitions. The touched
    * partition list is collected to the driver — it is bounded by the
    * table's partition count, a catalog-sized model, not data. */
  def applyToPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                         key: String, partCol: String,
                         deleteFlag: Option[String] = None): Unit = {
    val touched = updates.select(col(partCol)).distinct().collect().map(_.get(0))
    // a NULL partition value would three-valued-NULL out of the isin
    // filter below (existing null-partition rows silently dropped from
    // the merge) — reject it instead of corrupting
    require(!touched.contains(null),
      s"applyToPartitioned: updates carry a NULL $partCol — null partitions are not mergeable")
    if (touched.nonEmpty) {
      val target = graft.Tables.parquet(spark, path).filter(col(partCol).isin(touched: _*))
      val merged0 = mergedState(target, updates, key, deleteFlag)
      // Deletes can empty a touched partition, and dynamic overwrite
      // would then leave its old files alive — that path must LIST the
      // merged state's partitions before writing, so it caches (the
      // merged frame is consumed twice). Without a delete flag no
      // touched partition can empty (every touched partition keeps at
      // least its update rows), so the insert/update-only path — the
      // per-batch index-maintenance hot loop — skips the cache and the
      // extra listing job and goes straight to the write.
      val merged = if (deleteFlag.isEmpty) merged0 else merged0.cache()
      try {
        if (deleteFlag.nonEmpty) {
          val remaining = merged.select(col(partCol)).distinct().collect().map(_.get(0)).toSet
          // a touched partition whose rows were ALL deleted emits no
          // output, so dynamic overwrite would leave its old files alive.
          // Drop those dirs BEFORE the write: their correct final state is
          // absence, so a crash in between leaves a consistent (partially
          // applied) table, and re-running the same merge heals it —
          // deleting after the write instead would let deleted rows
          // resurrect on a crash in the gap. Partition-level commit is
          // not atomic across partitions (that needs a table format with
          // a log); the merge is idempotent under replay, which is the
          // recovery story here.
          val emptied = touched.filterNot(remaining)
          if (emptied.nonEmpty) {
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            emptied.foreach { v =>
              val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .getPartitionPathString(partCol, String.valueOf(v))
              fs.delete(new org.apache.hadoop.fs.Path(p, dirName), true)
            }
          }
        }
        val conf = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(conf)
        spark.conf.set(conf, "dynamic")
        // cluster by the partition column before the write: without it
        // every shuffle task writes a file into every touched partition
        // dir (tasks × partitions small files — the classic partitioned-
        // write explosion; measured 32×50 files for a 50-row merge).
        // REBALANCE (not repartition) so AQE still splits a hot
        // partition's output across tasks instead of serializing it.
        try merged.hint("rebalance", partCol)
          .write.mode("overwrite").partitionBy(partCol).parquet(path)
        finally prev match {
          case Some(v) => spark.conf.set(conf, v)
          case None    => spark.conf.unset(conf)
        }
      } finally if (deleteFlag.nonEmpty) merged.unpersist(blocking = false)
    }
  }

  /** Complete or roll back an interrupted swap. Live table present →
    * any `.staging`/`.bak` leftovers are stale, drop them. Live table
    * missing → a staging dir with its `_SUCCESS` marker is a finished
    * write, roll it forward; otherwise roll the backup back. */
  def recover(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Unit = {
    val staging = new org.apache.hadoop.fs.Path(p.toString + ".staging")
    val backup = new org.apache.hadoop.fs.Path(p.toString + ".bak")
    if (fs.exists(p)) {
      fs.delete(staging, true)
      fs.delete(backup, true)
    } else if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
      if (!fs.rename(staging, p))
        throw new java.io.IOException(s"merge recovery failed: $staging -> $p")
      fs.delete(backup, true)
    } else if (fs.exists(backup)) {
      if (!fs.rename(backup, p))
        throw new java.io.IOException(s"merge recovery failed: $backup -> $p")
      fs.delete(staging, true)
    }
  }
}

/** q43 instance of the merge: customer master kept as a parquet table,
  * an update batch derived from orders (per-customer spend + activity,
  * customers whose every order is still 'P' flagged deleted) plus an
  * insert batch derived
  * from supplier (new parties under a shifted key range). The query
  * entry seeds a scratch table, applies the merge through the real
  * writer, and returns the post-merge state — so the driver's oracle
  * checks the WRITER's output, not just the merge expression. */
object Upsert {
  import Decimals._

  def target(customer: DataFrame): DataFrame =
    customer.select(col("c_custkey"),
      col("c_mktsegment").as("segment"),
      asScaledLong(dec2(col("c_acctbal")), 2).as("acctbal_cents"))

  def updates(orders: DataFrame, supplier: DataFrame): DataFrame = {
    val fromOrders = orders.groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum2(col("o_totalprice")).as("acctbal_cents"),
        count(lit(1)).as("n_orders"),
        bool_and(col("o_orderstatus") === "P").as("is_deleted"))
      .select(col("c_custkey"), lit("ACTIVE").as("segment"),
        col("acctbal_cents"), col("n_orders"), col("is_deleted"))
    val inserts = supplier.select(
      (col("s_suppkey") + 1000000L).as("c_custkey"),
      lit("NEW").as("segment"),
      asScaledLong(dec2(col("s_acctbal")), 2).as("acctbal_cents"),
      lit(0L).as("n_orders"),
      lit(false).as("is_deleted"))
    fromOrders.unionByName(inserts)
  }

  /** q43: seed scratch state, merge through the writer, read back. */
  def applyAndRead(spark: SparkSession, customer: DataFrame, orders: DataFrame,
                   supplier: DataFrame): DataFrame = {
    val dir = graft.Scratch.dir("graft_merge_") + "/state"
    target(customer).write.mode("overwrite").parquet(dir)
    MergeWriter.applyTo(spark, dir, updates(orders, supplier), "c_custkey", Some("is_deleted"))
    graft.Tables.parquet(spark, dir).orderBy("c_custkey")
  }

  /** q43b's update batch: zero out every overdrawn customer (deeply
    * negative ones deleted outright), insert suppliers as new parties
    * under a 'NEW' segment partition. Segment comes from the customer's
    * own row, so the partition value is stable under update — the
    * partitioned-merge precondition. */
  def partitionedUpdates(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val zeroed = customer.filter(col("c_acctbal") < 0)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        lit(0L).as("acctbal_cents"),
        (col("c_acctbal") < -900).as("is_deleted"))
    val inserts = supplier.select(
      (col("s_suppkey") + 2000000L).as("c_custkey"),
      lit("NEW").as("segment"),
      asScaledLong(dec2(col("s_acctbal")), 2).as("acctbal_cents"),
      lit(false).as("is_deleted"))
    zeroed.unionByName(inserts)
  }

  /** q43b: seed a SEGMENT-PARTITIONED table, merge through the
    * partition-scoped writer (only touched partitions rewritten), read
    * back — the bounded-rewrite push-back path checked end-to-end
    * through the real writer, like q43 checks the flat swap. */
  def applyAndReadPartitioned(spark: SparkSession, customer: DataFrame,
                              supplier: DataFrame): DataFrame = {
    val dir = graft.Scratch.dir("graft_pmerge_") + "/state"
    target(customer).hint("rebalance", "segment")
      .write.mode("overwrite").partitionBy("segment").parquet(dir)
    MergeWriter.applyToPartitioned(spark, dir, partitionedUpdates(customer, supplier),
      "c_custkey", "segment", Some("is_deleted"))
    graft.Tables.parquet(spark, dir)
      .select("c_custkey", "segment", "acctbal_cents")
      .orderBy("c_custkey")
  }
}
