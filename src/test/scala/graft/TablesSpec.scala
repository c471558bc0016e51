package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquet]] must open a table with the schema Spark's own
  * inference gives, fail the way Spark's reader fails, and run no
  * Spark job doing it. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def scratch(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def sameSchema(path: String): Unit =
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, path)

  test("schema equals Spark's inference on every testdata table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.foreach(t => sameSchema(s"$sf/$t.parquet"))
  }

  test("schema equals Spark's inference on flat, partitioned and keylog directories") {
    val flat = scratch("graft_tables_flat_") + "/t"
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x").repartition(2)
      .write.parquet(flat)
    sameSchema(flat)
    // no cache: a rewrite with other columns is read fresh
    Seq((3, true)).toDF("k", "flag").write.mode("overwrite").parquet(flat)
    sameSchema(flat)
    assert(Tables.parquet(spark, flat).columns.toSeq == Seq("k", "flag"))

    val parted = scratch("graft_tables_part_") + "/t"
    Seq((1L, 3, "p"), (2L, 7, "q"), (3L, 3, "r")).toDF("vec_id", "cell", "code")
      .write.partitionBy("cell").parquet(parted)
    sameSchema(parted)
    assert(Tables.parquet(spark, parted).columns.last == "cell")
    assert(Tables.parquet(spark, parted).filter($"cell" === 3).count() == 2)

    val keylog = scratch("graft_tables_keylog_") + "/ckpt.keylog"
    Seq(0L, 1L, 12L).foreach { b =>
      Seq((b * 10, "x")).toDF("trace_id", "c").write.parquet(s"$keylog/batch=$b")
    }
    sameSchema(keylog)
    assert(Tables.parquet(spark, keylog).filter($"batch" =!= 1L).count() == 2)
  }

  test("schema merging defers to Spark: two files with different columns") {
    val dir = scratch("graft_tables_merge_")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t/part=1")
    Seq((2L, 2.0)).toDF("id", "x").write.parquet(s"$dir/t/part=2")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      sameSchema(s"$dir/t")
      assert(Tables.parquet(spark, s"$dir/t").columns.toSet == Set("id", "s", "x", "part"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("an empty directory and a missing path fail as Spark's reader does") {
    val empty = scratch("graft_tables_empty_")
    Seq(empty, s"$empty/missing").foreach { path =>
      val theirs = intercept[Exception](spark.read.parquet(path))
      val ours = intercept[Exception](Tables.parquet(spark, path))
      assert(ours.getClass == theirs.getClass, s"$path: ${ours.getMessage}")
    }
  }

  test("opening every testdata table runs no Spark job") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      Tables.all.foreach(t => Tables.load(spark, sf, t))
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"opening ${Tables.all.size} tables ran ${jobs.get} jobs")
  }

  test("no library code reads parquet around Tables.parquet") {
    // a raw read brings the inference job back; the Bench* mains keep
    // theirs because their timed paths are a frozen contract
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isRegularFile(root.resolve("Tables.scala")), s"no sources under $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.getFileName.toString == "Tables.scala" ||
        p.getFileName.toString.startsWith("Bench"))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".read.parquet(") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty, "route these through Tables.parquet:\n" + offenders.mkString("\n"))
  }
}
