package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory: name, start/end (ns since run start), parent
  * span index (-1 at the root) and op id. Written out when the run ends. */
final class Spans(enabled: Boolean, t0: Long) {
  final case class Span(name: String, start: Long, var end: Long, parent: Int, op: String)
  val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  def apply[T](name: String, op: String)(f: => T): T =
    if (!enabled) f
    else {
      val i = all.length
      all += Span(name, System.nanoTime() - t0, -1L, stack.headOption.getOrElse(-1), op)
      stack.push(i)
      try f finally { all(i).end = System.nanoTime() - t0; stack.pop() }
    }

  def json: Seq[Any] = all.toSeq.map(s =>
    Seq(s.name, s.start, s.end, s.parent, s.op))
}

/** JVM heap and GC pauses from GC notifications, counted while `timed`.
  * Heap is the sum of the heap pools after a collection; the non-heap
  * pools (metaspace, code cache) a notification also lists are left out. */
final class GcWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile var timed = false
  @volatile var heapPeakBytes = 0L
  @volatile var pauseMs = 0L
  @volatile var notifications = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (timed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized {
          heapPeakBytes = heapPeakBytes.max(used)
          pauseMs += info.getGcInfo.getDuration
          notifications += 1
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  /** heap in use now: the fallback when no GC ran during timed work. */
  def heapNow(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}

/** Per job-group counters from Spark's listener bus. The benchmark tags
  * its own calls with job groups `pb:<kind>:<op>`; jobs started by
  * streaming queries carry the query's run id and count as `stream`. */
final class SparkCounters extends SparkListener {
  val byKind = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val stageKind = mutable.Map.empty[Int, String]
  private val jobKind = mutable.Map.empty[Int, (String, Long)]

  private def kindOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
      case Some(g) if g.startsWith("pb:") => g.split(":")(1)
      case Some(_) => "stream"
      case None => "other"
    }
  private def add(kind: String, key: String, v: Double): Unit = synchronized {
    val m = byKind.getOrElseUpdate(kind, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = kindOf(e.properties)
    jobKind(e.jobId) = (k, e.time)
    e.stageIds.foreach(stageKind(_) = k)
    add(k, "jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKind.remove(e.jobId).foreach { case (k, t) => add(k, "job_s", (e.time - t) / 1e3) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val k = synchronized(stageKind.getOrElse(si.stageId, "other"))
    val m = si.taskMetrics
    add(k, "stages", 1)
    add(k, "tasks", si.numTasks)
    if (m != null) {
      add(k, "task_run_s", m.executorRunTime / 1e3)
      add(k, "task_cpu_s", m.executorCpuTime / 1e9)
      add(k, "gc_s", m.jvmGCTime / 1e3)
      add(k, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add(k, "shuffle_read_mb",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
      add(k, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add(k, "rows_read", m.inputMetrics.recordsRead)
      add(k, "mb_read", m.inputMetrics.bytesRead / 1e6)
    }
  }
}

/** File writes seen through the public QueryExecutionListener: every
  * data-writing command's files, rows and bytes. */
final class WriteCounters extends QueryExecutionListener {
  @volatile var files, rows, bytes = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Plans.nodes(qe.executedPlan).foreach {
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
        synchronized { files += v("numFiles"); rows += v("numOutputRows"); bytes += v("numOutputBytes") }
      case _ =>
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Plans {
  /** every node of a physical plan, looking through AQE wrappers, query
    * stages, reused exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ =>
        out += n
        n.children.foreach(walk)
        n.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  private val wrappers = Set("WholeStageCodegenExec", "InputAdapter")
  def nodeCount(p: SparkPlan): Int = nodes(p).count(n => !wrappers(n.getClass.getSimpleName))
  def scanCount(p: SparkPlan): Int = nodes(p).count { n =>
    val c = n.getClass.getSimpleName
    c == "FileSourceScanExec" || c == "BatchScanExec"
  }
  def topKCount(p: SparkPlan): Int = nodes(p).count(_.getClass.getName.contains("TopKPerKey"))
}

/** The trace-mode observers, attached to every session a run builds. */
final class Observers(val trace: Boolean) {
  val counters = new SparkCounters
  val writes = new WriteCounters
  def attach(spark: SparkSession): Unit = if (trace) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(writes)
  }
  def drain(spark: SparkSession): Unit =
    if (trace) org.apache.spark.perfbench.Drain(spark.sparkContext)
}
