package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: name, interval, parent and the batch or query it
  * belongs to. `incl` holds counters measured as deltas over the whole
  * interval (children included); `self` holds counters the listeners
  * attribute to this span while it is the innermost one in flight. */
final class Span(val id: Int, val name: String, val parent: Span,
    val opId: Long, val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  var childNs = 0L
  val incl = mutable.HashMap.empty[String, Double]
  val self = mutable.HashMap.empty[String, Double]
  val children = mutable.ArrayBuffer.empty[Span]
  def durNs: Long = endNs - startNs
  /** Duration minus the part its (sequential) children cover. */
  def selfNs: Long = durNs - childNs
  /** Interval counters minus the children's, i.e. this span's own. */
  def inclSelf(k: String): Double =
    incl.getOrElse(k, 0.0) - children.map(_.incl.getOrElse(k, 0.0)).sum
}

/** Cumulative process-wide counters read at span boundaries: bytes
  * through Hadoop's `file` scheme (summed over every FileSystem class
  * registered for it; the local file system counts no operations, only
  * bytes), GC pause and JIT compile time from the MXBeans, and Spark's
  * count of generated-code compilations. */
object ProcessCounters {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def fs(): Map[String, Double] = {
    var br, bw = 0L
    FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").foreach { s =>
        br += s.getBytesRead
        bw += s.getBytesWritten
      }
    Map("fs.bytes_read" -> br.toDouble, "fs.bytes_written" -> bw.toDouble)
  }

  def gcMs(): Double = gcs.map(g => math.max(0L, g.getCollectionTime)).sum.toDouble

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime

  private val jit = ManagementFactory.getCompilationMXBean

  def all(): Map[String, Double] = fs() ++ Map(
    "jvm.gc_ms" -> gcMs(),
    "jvm.jit_ms" -> jit.getTotalCompilationTime.toDouble,
    "spark.codegen.compiles" ->
      org.apache.spark.PerfbenchSpark.codegenCompiles.toDouble)
}

/** JVM heap high-water mark of retained data: the heap in use right
  * after each collection, from GC notifications. (The heap in use before
  * a collection mostly tracks the young generation's size, not the
  * program's data.) */
final class HeapWatch {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification,
        hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData
            .asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (after > peak) peak = after
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = peak = 0L

  def peakBytes: Long = peak

  def close(): Unit =
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
}

/** Span recorder for the traced run. Disabled, `span` just runs its
  * body and only the run's job and task totals are kept. Enabled, it
  *   - opens a span around each public call the benchmark makes and
  *     tags the calling thread's Spark jobs with the span's id (a local
  *     property, inherited by the jobs the call submits);
  *   - attributes job, stage and task metrics to the tagged span through
  *     a [[SparkListener]], and the planning phases of every executed
  *     query through a [[QueryExecutionListener]] (each phase to the
  *     innermost span open when it started);
  *   - records the [[ProcessCounters]] deltas over each span.
  * Spans stay in memory; [[spans]] hands them out at the end. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var open: Span = null
  /** Counters the listeners could not attribute to any span. */
  val unattributed = mutable.HashMap.empty[String, Double]
  /** Client-thread time spent inside the recorder itself. */
  var bookkeepingNs = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(id => Option(byId.get(id.toInt))).orNull
      e.stageIds.foreach(id => if (s != null) stageSpan.put(id, s))
      add(s, "spark.exec.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageSpan.get(e.stageInfo.stageId), "spark.exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      add(s, "spark.exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(s, "spark.exec.task_cpu_s", m.executorCpuTime / 1e9)
        add(s, "spark.exec.task_run_s", m.executorRunTime / 1e3)
        add(s, "spark.exec.shuffle_read_bytes",
          m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(s, "spark.exec.shuffle_write_bytes",
          m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s, "spark.exec.spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(s, "spark.exec.gc_ms", m.jvmGCTime.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        add(spanAtMs(p.startTimeMs), s"spark.plan.${phase}_ms",
          p.durationMs.toDouble)
      }
  }

  /** Starts counting Spark work; call when the measured phase starts.
    * Job and task counts feed the end-to-end metrics, so they are kept
    * untraced too (unattributed); planning phases only when tracing. */
  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    if (enabled) spark.listenerManager.register(planListener)
  }

  /** A listener counter summed over every span and the unattributed rest. */
  def total(k: String): Double = synchronized {
    unattributed.getOrElse(k, 0.0) + all.map(_.self.getOrElse(k, 0.0)).sum
  }

  private def add(s: Span, k: String, v: Double): Unit = synchronized {
    val m = if (s == null) unattributed else s.self
    m(k) = m.getOrElse(k, 0.0) + v
  }

  /** Innermost span open at wall-clock `ms` (latest started wins). */
  private def spanAtMs(ms: Long): Span = synchronized {
    var i = all.size - 1
    while (i >= 0) {
      val s = all(i)
      if (s.startMs <= ms && ms <= s.endMs) return s
      i -= 1
    }
    null
  }

  def span[T](name: String, opId: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val s = begin(name, opId)
      try body finally end(s)
    }

  private def begin(name: String, opId: Long): Span = {
    val t0 = System.nanoTime()
    val before = ProcessCounters.all()
    val s = synchronized {
      val s = new Span(all.size, name, open,
        if (opId >= 0 || open == null) opId else open.opId,
        System.nanoTime(), System.currentTimeMillis())
      before.foreach { case (k, v) => s.incl(k) = -v }
      all += s
      byId.put(s.id, s)
      if (open != null) open.children += s
      open = s
      s
    }
    sc.setLocalProperty(SpanProp, s.id.toString)
    bookkeepingNs += System.nanoTime() - t0
    s
  }

  private def end(s: Span): Unit = {
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val after = ProcessCounters.all()
    synchronized {
      s.endNs = endNs
      s.endMs = endMs
      after.foreach { case (k, v) => s.incl(k) = s.incl.getOrElse(k, 0.0) + v }
      if (s.parent != null) s.parent.childNs += s.durNs
      open = s.parent
    }
    sc.setLocalProperty(SpanProp,
      if (s.parent == null) null else s.parent.id.toString)
    bookkeepingNs += System.nanoTime() - endNs
  }

  /** The most recently finished top-level span (the last op). */
  def lastOp: Option[Span] = synchronized {
    all.reverseIterator.find(_.parent == null)
  }

  /** All spans, after every listener event posted so far is delivered. */
  def spans: Seq[Span] = {
    org.apache.spark.PerfbenchSpark.drain(sc)
    synchronized(all.toList)
  }

  def close(): Unit = {
    org.apache.spark.PerfbenchSpark.drain(sc)
    sc.removeSparkListener(sparkListener)
    if (enabled) spark.listenerManager.unregister(planListener)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
