package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry, Tables}

/** The benchmark's JVM side. It calls graft only through its public entry
  * points and records what it sees: op times, spans, listener counters,
  * output fingerprints. It writes one raw JSON record; run.py turns that
  * into metrics and checks it against the expected outputs.
  *
  * Usage: Client <key> <value> ... with keys workload, data, work, out,
  * trace and cores; for a batch workload also seconds, min_passes and
  * ops (a comma list in pass order); for
  * ingest_doors plan and staged (the arrival plan and the slices run.py
  * staged) and twins. */
object Client {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0) -> p(1)).toMap
    val out = a("out")
    val rec = a("workload") match {
      case "ingest_doors" => new Doors(a).run()
      case _ => new Batch(a).run()
    }
    Files.write(Paths.get(out), Json(rec).getBytes("UTF-8"))
  }

  /** The 1-minute load average, or -1 where /proc/loadavg is unreadable. */
  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** (steal, total) CPU ticks so far from /proc/stat, (0, 0) where unreadable */
  def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }
}

/** State shared by both workload kinds. */
abstract class Run(a: Map[String, String]) {
  val t0: Long = System.nanoTime()
  val trace: Boolean = a("trace") == "1"
  val cores: Int = a("cores").toInt
  val data: String = a("data")
  val work: String = a("work")
  val spans = new Spans(trace, t0)
  val gc = new GcWatch
  val obs = new Observers(trace)
  val setups = mutable.ArrayBuffer.empty[Double]
  val loadStart: Double = Client.load1()

  def newSession(): SparkSession = {
    val s = GraftSession.local(cores)
    obs.attach(s)
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** run `f` with every job it starts tagged `pb:<kind>:<op>`. */
  def tagged[T](spark: SparkSession, kind: String, op: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"pb:$kind:$op", s"$kind $op", interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  def env(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "cores" -> cores,
    "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "spark_version" -> spark.version,
    "load1_start" -> loadStart,
    "load1_end" -> Client.load1())

  def common(spark: SparkSession): Map[String, Any] = {
    obs.drain(spark)
    val c = obs.counters
    val kinds = c.synchronized(c.byKind.map { case (k, m) => k -> m.toMap }.toMap)
    Map(
      "env" -> env(spark),
      "heap_peak_mb" -> (if (gc.notifications > 0) gc.heapPeakBytes else gc.heapNow()) / 1e6,
      "gc_pause_s" -> gc.pauseMs / 1e3,
      "spans" -> spans.json,
      "counters" -> kinds,
      "writes" -> Map("files" -> obs.writes.files, "rows" -> obs.writes.rows,
        "bytes" -> obs.writes.bytes))
  }
}

/** reports: named queries run in passes over one session. */
final class Batch(a: Map[String, String]) extends Run(a) {
  val ops: Seq[String] = a("ops").split(",").toSeq
  val seconds: Double = a("seconds").toDouble
  val minPasses: Int = a("min_passes").toInt

  /** builder call to first op: the session plus the first load of every
    * table the workload reads. */
  def setup(): SparkSession = {
    val ts = System.nanoTime()
    val spark = newSession()
    spans("tables.load", "setup") {
      Batch.TableNames.foreach(t => if (t == "events") Tables.events(spark, data) else Tables.load(spark, data, t))
    }
    setups += Client.secs(ts)
    spark
  }

  final case class Op(pass: Int, traced: Boolean, name: String, seconds: Double, rows: Long,
                      plan: Map[String, Any])

  /** one op: the operator call, then its output consumed in full through
    * `toRdd.count()`. Traced ops force the Catalyst phases in order. */
  def op(spark: SparkSession, pass: Int, name: String, traced: Boolean): (Op, DataFrame) = {
    val id = s"$pass/$name"
    val ts = System.nanoTime()
    if (!traced) {
      val df = SparkEntry.queries(name)(spark, data)
      val rows = df.queryExecution.toRdd.count()
      (Op(pass, traced, name, Client.secs(ts), rows, Map.empty), df)
    } else spans("op", id) {
      val df = spans("operators.build", id) {
        tagged(spark, "build", name)(SparkEntry.queries(name)(spark, data))
      }
      val qe = df.queryExecution
      spans("catalyst.analyze", id)(qe.analyzed)
      spans("catalyst.optimize", id)(qe.optimizedPlan)
      spans("catalyst.physical", id)(qe.executedPlan)
      val rows = spans("exec", id)(tagged(spark, "exec", name)(qe.toRdd.count()))
      val secs = Client.secs(ts)
      val tracker = qe.tracker.phases
      val plan = Map(
        "analysis_ms" -> tracker.get("analysis").map(_.durationMs).getOrElse(0L),
        "nodes" -> Plans.nodeCount(qe.executedPlan),
        "scans" -> Plans.scanCount(qe.executedPlan),
        "topk" -> Plans.topKCount(qe.executedPlan))
      (Op(pass, traced, name, secs, rows, plan), df)
    }
  }

  def run(): Map[String, Any] = {
    val spark = setup()
    val done = mutable.ArrayBuffer.empty[Op]
    val fingerprints = mutable.LinkedHashMap.empty[String, String]
    val errors = mutable.ArrayBuffer.empty[String]
    def attempt(pass: Int, name: String, traced: Boolean): Option[(Op, DataFrame)] =
      try Some(op(spark, pass, name, traced))
      catch { case e: Exception =>
        errors += s"$pass/$name: ${e.toString.take(300)}"
        None
      }
    gc.timed = true
    // pass 0 is the cold pass. Each op's fingerprint is taken right
    // after it, outside its timer.
    ops.foreach { name =>
      attempt(0, name, traced = false).foreach { case (o, df) =>
        done += o
        gc.timed = false
        try fingerprints(name) = Fingerprint(df)
        catch { case e: Exception => errors += s"fingerprint/$name: ${e.toString.take(300)}" }
        gc.timed = true
      }
    }
    // warm passes: tracing alternates off/on in a traced run, so the
    // two kinds of pass give the trace overhead on the same session. The
    // host's steal share of each pass is recorded, not acted on.
    val warm0 = System.nanoTime()
    val passSteal = mutable.Map.empty[Int, Double]
    var pass = 1
    while (pass <= minPasses || Client.secs(warm0) < seconds) {
      val traced = trace && pass % 2 == 0
      obs.drain(spark)
      obs.counters.synchronized { if (traced) obs.counters.byKind.clear() }
      if (traced) { obs.writes.files = 0; obs.writes.rows = 0; obs.writes.bytes = 0 }
      val (s0, t0) = Client.cpuTicks()
      ops.foreach(name => attempt(pass, name, traced).foreach(done += _._1))
      val (s1, t1) = Client.cpuTicks()
      passSteal(pass) = if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0
      obs.drain(spark)
      if (traced) snapshot()
      pass += 1
    }
    gc.timed = false
    val rec = common(spark)
    stop(spark)
    // further set-ups, each in a fresh session, for a median
    (0 until 2).foreach(_ => stop(setup()))
    val fns = if (trace) FunctionProbe.run(this) else Map.empty
    rec ++ Map(
      "kind" -> "batch",
      "ops" -> done.toSeq.map(o => Map("pass" -> o.pass, "traced" -> o.traced, "name" -> o.name,
        "s" -> o.seconds, "rows" -> o.rows, "plan" -> o.plan)),
      "fingerprints" -> fingerprints.toMap,
      "errors" -> errors.toSeq,
      "traced_counters" -> tracedCounters.toSeq,
      "functions" -> fns,
      "pass_steal" -> passSteal.map { case (p, st) => p.toString -> st },
      "setups" -> setups.toSeq,
      "spans" -> spans.json)
  }

  /** counters of each traced pass, as taken at its end */
  val tracedCounters = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def snapshot(): Unit = {
    val c = obs.counters
    tracedCounters += Map(
      "kinds" -> c.synchronized(c.byKind.map { case (k, m) => k -> m.toMap }.toMap),
      "writes" -> Map("files" -> obs.writes.files, "rows" -> obs.writes.rows,
        "bytes" -> obs.writes.bytes))
  }
}

object Batch {
  /** every table the queries read, loaded once by each set-up */
  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
}

/** ns per row of graft's SQL functions, each over the documents and
  * embeddings (repeated 20 times, cached) with its output consumed, in a
  * session built with `spark.sql.extensions=graft.GraftExtensions`. The
  * cost of the same query without the function is subtracted. */
object FunctionProbe {
  def run(b: Batch): Map[String, Double] = {
    System.setProperty("spark.sql.extensions", "graft.GraftExtensions")
    val spark = try GraftSession.local(b.cores) finally System.clearProperty("spark.sql.extensions")
    try {
      val copies = spark.range(20).toDF("copy")
      Tables.documents(spark, b.data).crossJoin(copies).selectExpr("split(text, ' ') AS toks", "n_chars", "doc_id")
        .selectExpr("toks", "md5_shingle_hashes(toks, 5) AS sh", "greatest(n_chars, 1) AS a",
          "greatest(n_chars, 1) * 1000 + doc_id % 997 AS b")
        .cache().createOrReplaceTempView("pb_docs")
      Tables.embeddings(spark, b.data).crossJoin(copies).cache().createOrReplaceTempView("pb_vecs")
      val nDocs = spark.table("pb_docs").count().toDouble
      val nVecs = spark.table("pb_vecs").count().toDouble
      def time(sql: String): Double = {
        val t = (0 until 5).map { _ =>
          val ts = System.nanoTime()
          spark.sql(sql).queryExecution.toRdd.count()
          System.nanoTime() - ts
        }.sorted
        t(2).toDouble
      }
      def perRow(fnSql: String, baseSql: String, rows: Double): Double =
        (time(fnSql) - time(baseSql)) / rows
      val docBase = "SELECT sum(size(sh)) FROM pb_docs"
      Map(
        "md5_shingle_hashes" -> perRow("SELECT sum(size(md5_shingle_hashes(toks, 5))) FROM pb_docs",
          "SELECT sum(size(toks)) FROM pb_docs", nDocs),
        "affine_minhash" -> perRow("SELECT sum(size(affine_minhash(sh, 64))) FROM pb_docs", docBase, nDocs),
        "simhash64" -> perRow("SELECT sum(simhash64(sh) & 1) FROM pb_docs", docBase, nDocs),
        "vec_dot" -> perRow("SELECT sum(vec_dot(embedding, embedding)) FROM pb_vecs",
          "SELECT sum(size(embedding)) FROM pb_vecs", nVecs),
        "log2mb" -> perRow("SELECT sum(log2mb(a, b)) FROM pb_docs", "SELECT sum(a + b) FROM pb_docs", nDocs))
    } finally b.stop(spark)
  }
}

/** ingest_doors: arrivals through three write doors into persisted
  * stores. Phase 1 is open loop on the arrival plan's schedule; phase 2
  * drains the same slices closed loop into fresh stores. */
final class Doors(a: Map[String, String]) extends Run(a) {
  final case class Arrival(door: String, file: String, dueS: Double, rows: Long, bytes: Long)
  val plan: Seq[Arrival] = scala.io.Source.fromFile(a("plan")).getLines().filter(_.nonEmpty)
    .map(_.split("\t")).map(f => Arrival(f(0), f(1), f(2).toDouble, f(3).toLong, f(4).toLong)).toSeq
  val doors = Seq("events", "annotations", "vectors")
  val staged: String = a("staged")

  val eventSchema = StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("deleted", BooleanType)))
  val annSchema = StructType(Seq(StructField("entity_id", LongType), StructField("compartment", StringType),
    StructField("n_uses", LongType), StructField("total_qty", LongType)))

  /** progress of every streaming query, by query id */
  final class Progress extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[(String, Long, Long, Long, Map[String, Long])]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches += ((p.id.toString, p.batchId, start, start + d.getOrElse("triggerExecution", 0L), d))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  final case class Stores(root: String) {
    def events = s"$root/events_store"
    def ann = s"$root/ann_store"
    def actions = s"$root/ann_actions"
    def index = s"$root/index"
    def in(door: String) = s"$root/in/$door"
    def ckpt(door: String) = s"$root/ckpt/$door"
  }

  var cents: Seq[Seq[Double]] = Nil
  var books: Seq[Seq[Seq[Double]]] = Nil
  val want: Map[String, Set[String]] = plan.groupBy(_.door).map { case (d, xs) => d -> xs.map(_.file).toSet }

  /** one session's running doors. The annotation door is a push cycle
    * that drains what is present and stops (Trigger.AvailableNow), so a
    * caller restarts it on its checkpoint when new slices are waiting. */
  final class Live(val spark: SparkSession, val st: Stores, val emb: DataFrame, val part: DataFrame,
                   perTrigger: Option[Int]) {
    val progress = new Progress
    spark.streams.addListener(progress)
    def seedStores(): Unit = {
      Tables.events(spark, data).select("event_id", "user_id", "event_type", "value")
        .write.parquet(st.events)
      graft.operators.Curation.annotationStoreSeed(part).write.parquet(st.ann)
      graft.operators.Similarity.pqResidualEncodeWithModel(emb, cents, books)
        .write.partitionBy("cell").parquet(st.index)
    }
    def startAll(): Unit = {
      doors.foreach(d => Files.createDirectories(Paths.get(st.in(d))))
      doors.foreach(start)
    }
    val current = mutable.Map.empty[String, StreamingQuery]
    val ids = mutable.Map.empty[String, String]
    private def src(schema: StructType, door: String): DataFrame = {
      val r = spark.readStream.schema(schema)
      perTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong)).parquet(st.in(door))
    }
    def start(door: String): Unit = {
      val q = door match {
        case "events" => graft.streaming.EventStreams.upsertSink(src(eventSchema, door),
          st.events, st.ckpt(door), "event_id", Some("deleted"))
        case "annotations" => graft.streaming.EventStreams.annotationPushSink(src(annSchema, door),
          part, st.ann, st.actions, st.ckpt(door))
        case "vectors" => graft.streaming.VecStreams.indexMaintainSink(
          src(graft.streaming.VecStreams.vecsSchema, door), st.index, st.ckpt(door), cents, books)
      }
      synchronized { current(door) = q; ids(q.id.toString) = door }
    }
    /** whether door `d` has committed the batches that took all `files` */
    def committed(d: String, files: Set[String]): Boolean = {
      val fb = fileBatches(st.ckpt(d))
      files.forall(fb.contains) &&
        Files.exists(Paths.get(st.ckpt(d), "commits", files.map(fb).max.toString))
    }
    def failure: Option[String] = synchronized(current.values.flatMap(_.exception).headOption)
      .map(_.toString.take(300))
    /** wait until each door in `files` has committed the batches that
      * took all its files, as the checkpoints record them */
    def awaitDrained(files: Map[String, Set[String]], limitS: Double): Boolean = {
      val ts = System.nanoTime()
      def done = files.forall { case (d, fs) => committed(d, fs) }
      while (!done && Client.secs(ts) < limitS && failure.isEmpty) {
        val ann = current("annotations")
        if (files.contains("annotations") && !ann.isActive && ann.exception.isEmpty &&
            !committed("annotations", files("annotations")) &&
            new java.io.File(st.in("annotations")).list().length > fileBatches(st.ckpt("annotations")).size)
          start("annotations")
        Thread.sleep(20)
      }
      done
    }
    def stopAll(): Option[String] = {
      current.values.foreach(_.stop())
      failure
    }
  }

  /** builder call to running sinks: session, frozen models, seeded
    * stores, started doors. */
  def setup(root: String, perTrigger: Option[Int]): Live = {
    val ts = System.nanoTime()
    val spark = newSession()
    val st = Stores(root)
    val (emb, part) = spans("tables.load", "setup") {
      (Tables.embeddings(spark, data), Tables.part(spark, data))
    }
    spans("models", "setup") {
      cents = graft.operators.Similarity.ivfCentroids(emb, 16)
      books = graft.operators.Similarity.rpqModels(emb, cents)._2
    }
    val live = new Live(spark, st, emb, part, perTrigger)
    spans("seed", "setup")(live.seedStores())
    spans("sinks.start", "setup")(live.startAll())
    setups += Client.secs(ts)
    live
  }

  /** the file → batch map a file source keeps in its checkpoint */
  def fileBatches(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(ckpt, "sources", "0")
    if (!Files.isDirectory(dir)) Map.empty
    else dir.toFile.listFiles().toSeq
      .filter(f => !f.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala.filter(_.startsWith("{")))
      .map { l =>
        val path = """"path":"([^"]+)"""".r.findFirstMatchIn(l).get.group(1)
        val batch = """"batchId":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong
        path.split("/").last -> batch
      }.toMap
  }

  def storeFingerprints(spark: SparkSession, st: Stores): Map[String, String] = Map(
    "events" -> Fingerprint(spark.read.parquet(st.events)),
    "annotations" -> Fingerprint(spark.read.parquet(st.ann)),
    "vectors" -> Fingerprint(spark.read.parquet(st.index)
      .withColumn("cell", col("cell").cast(LongType))))

  /** each door's batch twin applied to all arrivals (the files under
    * `arrived/<door>`) at once */
  def twins(spark: SparkSession, root: String, arrived: String): Map[String, String] = {
    val st = Stores(root)
    val part = Tables.part(spark, data)
    val emb = Tables.embeddings(spark, data)
    def arrivals(door: String, schema: StructType) =
      spark.read.schema(schema).parquet(s"$arrived/$door")
    Tables.events(spark, data).select("event_id", "user_id", "event_type", "value").write.parquet(st.events)
    graft.operators.MergeWriter.applyTo(spark, st.events, arrivals("events", eventSchema),
      "event_id", Some("deleted"))
    graft.operators.Curation.annotationStoreSeed(part).write.parquet(st.ann)
    spark.read.parquet(st.ann).select(col("entity_id").as("ex_id"),
      col("compartment").as("ex_comp"), col("rev").as("prev_rev")).write.parquet(s"$root/ann_base")
    val base = spark.read.parquet(s"$root/ann_base")
    val actions = graft.operators.Curation.annotationDiff(arrivals("annotations", annSchema), base, part)
    graft.operators.MergeWriter.applyTo(spark, st.ann, actions.select(
      graft.operators.Curation.annKey(col("entity_id"), col("compartment")).as("ann_id"),
      col("entity_id"), col("compartment"), col("n_uses"), col("total_qty"),
      (org.apache.spark.sql.functions.coalesce(col("prev_rev"),
        org.apache.spark.sql.functions.lit(0L)) + 1L).as("rev")), "ann_id")
    val enc = graft.operators.Similarity.pqResidualEncodeWithModel _
    enc(emb, cents, books, 8, 64).write.partitionBy("cell").parquet(st.index)
    graft.operators.MergeWriter.applyToPartitioned(spark, st.index,
      enc(arrivals("vectors", graft.streaming.VecStreams.vecsSchema), cents, books, 8, 64),
      "vec_id", "cell")
    storeFingerprints(spark, st)
  }

  def run(): Map[String, Any] = {
    val errors = mutable.ArrayBuffer.empty[String]
    // The first set-up pays JVM warm-up. Its doors then drain the warm-up
    // slices, so the measured phases see compiled micro-batch code, as a
    // long-running ingest service does.
    val live0 = setup(s"$work/p0", Some(1))
    val warmup = doors.map(d => d -> new java.io.File(staged, s"p0/$d").list().toSet).toMap
    warmup.foreach { case (d, fs) => fs.foreach(f => Files.move(Paths.get(staged, "p0", d, f),
      Paths.get(live0.st.in(d), f), StandardCopyOption.ATOMIC_MOVE)) }
    if (!live0.awaitDrained(warmup, 120)) errors += "warm-up did not drain"
    errors ++= live0.stopAll()
    stop(live0.spark)

    // phase 1: open loop. One thread moves each staged slice into its
    // door's directory when it is due; latency counts from the due time.
    val live1 = setup(s"$work/p1", None)
    val spark1 = live1.spark
    val p1 = live1.st
    val sent = mutable.ArrayBuffer.empty[(Arrival, Long, Long)]
    obs.drain(spark1)
    obs.counters.synchronized(obs.counters.byKind.clear())
    obs.writes.files = 0; obs.writes.rows = 0; obs.writes.bytes = 0
    gc.timed = true
    val phase1Span = spans.all.length
    val start = System.currentTimeMillis()
    val ts1 = System.nanoTime()
    val drained1 = spans("phase1", "ingest") {
      val gen = new Thread(() => plan.foreach { arr =>
        val due = start + (arr.dueS * 1000).toLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(Paths.get(staged, "p1", arr.door, arr.file), Paths.get(p1.in(arr.door), arr.file),
          StandardCopyOption.ATOMIC_MOVE)
        sent.synchronized(sent += ((arr, due, System.currentTimeMillis())))
      })
      gen.start()
      val drained = live1.awaitDrained(want, 120)
      gen.join()
      drained
    }
    val phase1S = Client.secs(ts1)
    gc.timed = false
    if (!drained1) errors += "phase 1 did not drain"
    val rec = common(spark1)
    errors ++= live1.stopAll()
    val fileBatch1 = doors.map(d => d -> fileBatches(p1.ckpt(d))).toMap
    val stores1 = storeFingerprints(spark1, p1)
    val batches1 = live1.progress.synchronized(live1.progress.batches.toSeq)
    val ids1 = live1.ids.toMap
    stop(spark1)

    // phase 2: closed loop. Fresh checkpoints and stores; one door at a
    // time gets all its slices at once and drains them one file per
    // trigger, so the doors do not compete for the cores
    val p2 = Stores(s"$work/p2")
    val live2 = setup(p2.root, Some(1))
    val spark2 = live2.spark
    gc.timed = true
    val drains = doors.map { d =>
      val ts = System.nanoTime()
      val ok = spans("drain", d) {
        want(d).toSeq.sorted.foreach(f =>
          Files.move(Paths.get(staged, "p2", d, f), Paths.get(p2.in(d), f), StandardCopyOption.ATOMIC_MOVE))
        live2.awaitDrained(Map(d -> want(d)), 120)
      }
      if (!ok) errors += s"$d did not drain"
      Client.secs(ts)
    }
    val drainS = drains.sum
    gc.timed = false
    errors ++= live2.stopAll()
    val stores2 = storeFingerprints(spark2, p2)
    val twin = if (a.contains("twins")) Some(twins(spark2, s"$work/twin", s"$work/p2/in")) else None
    val batches2 = live2.progress.synchronized(live2.progress.batches.toSeq)
    val ids2 = live2.ids.toMap
    val rec2 = common(spark2)
    stop(spark2)

    def batchJson(bs: Seq[(String, Long, Long, Long, Map[String, Long])], ids: Map[String, String]) =
      bs.collect { case (id, b, s, e, d) if ids.contains(id) => Map("door" -> ids(id), "batch" -> b,
        "start_ms" -> s, "commit_ms" -> e, "durations" -> d) }
    rec ++ Map(
      "kind" -> "doors",
      "heap_peak_mb" -> math.max(rec("heap_peak_mb").asInstanceOf[Double],
        rec2("heap_peak_mb").asInstanceOf[Double]),
      "gc_pause_s" -> rec2("gc_pause_s"),
      "setups" -> setups.toSeq,
      "spans" -> spans.json,
      "phase1_s" -> phase1S,
      "phase1_span" -> phase1Span,
      "arrivals" -> sent.synchronized(sent.toSeq).map { case (arr, due, s) => Map("door" -> arr.door, "file" -> arr.file,
        "due_ms" -> due, "sent_ms" -> s, "rows" -> arr.rows, "bytes" -> arr.bytes) },
      "batches" -> batchJson(batches1, ids1),
      "file_batches" -> fileBatch1,
      "drain_s" -> drainS,
      "drain_batches" -> batchJson(batches2, ids2),
      "stores" -> Map("open_loop" -> stores1, "closed_loop" -> stores2),
      "twin" -> twin,
      "drains" -> doors.zip(drains).toMap,
      "errors" -> errors.toSeq)
  }
}

/** Minimal JSON writer for the raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
