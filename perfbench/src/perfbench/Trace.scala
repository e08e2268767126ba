package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One interval of the benchmark's own timeline. Times are epoch
  * milliseconds so benchmark-side spans and Spark listener spans share
  * one clock. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      kind: String, startMs: Double, endMs: Double)

/** In-memory span store, written out once when the run ends.
  * Benchmark-side spans nest through a stack (the benchmark drives
  * Spark from one thread); listener spans name their parent explicitly. */
final class Tracer {
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String)] = Nil // (span id, op id)

  @volatile var enabled: Boolean = false

  def nowMs: Double = epochOffsetMs + System.nanoTime() / 1e6
  def newId(): Long = nextId.getAndIncrement()
  def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** The innermost open span and its op id. */
  def currentSpan: Long = stack.headOption.map(_._1).getOrElse(0L)
  def currentOp: String = stack.headOption.map(_._2).getOrElse("")

  /** Time `f` as a span named `name`; `op` overrides the inherited op id. */
  def span[T](name: String, kind: String, op: String = null)(f: => T): T =
    if (!enabled) f
    else {
      val id = newId()
      val parent = currentSpan
      val opId = Option(op).getOrElse(currentOp)
      stack = (id, opId) :: stack
      val start = nowMs
      try f
      finally {
        stack = stack.tail
        add(Span(id, parent, opId, name, kind, start, nowMs))
      }
    }
}

object Tracer {
  /** Self time of each span: its duration minus the part of it that its
    * children's intervals cover (children clipped to the parent, overlaps
    * counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> math.max(0.0, (s.endMs - s.startMs) - covered)
    }.toMap
  }
}

/** Engine counters summed over one measured region. */
final class EngineTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var schedWaitMs = 0.0
  var executorCpuNs = 0L
  var executorRunMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var streamBatches = 0L
  var addBatchMs = 0L
  var walCommitMs = 0L
  var planningMs = 0L
  /** Worst-stage task skew (max / median task time) of each op. */
  val opSkew = mutable.ArrayBuffer.empty[Double]
}

/** Spark listener that turns job and stage events into spans parented to
  * the op that launched them, and sums task metrics. Jobs find their op
  * through the job group the benchmark sets per op; jobs that carry no
  * known group (streaming micro-batches run on their own thread) fall
  * back to the op that was running when the job started. */
final class EngineListener(tracer: Tracer) extends SparkListener {
  private val groupToSpan = new ConcurrentHashMap[String, (Long, String)]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, String, Double)]()
  private val stageToJob = new ConcurrentHashMap[Int, (Long, String)]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Double]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val jobParent = new ConcurrentHashMap[Int, Long]()
  private val skewByOp = mutable.HashMap.empty[String, Double]
  @volatile private var fallback: (Long, String) = (0L, "")
  var totals = new EngineTotals

  /** Called by the benchmark before an op: jobs in `group` belong to it. */
  def beginOp(group: String, spanId: Long, op: String): Unit = {
    groupToSpan.put(group, (spanId, op))
    fallback = (spanId, op)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    val (parent, op) = group.flatMap(g => Option(groupToSpan.get(g)))
      .getOrElse(fallback)
    val id = tracer.newId()
    jobSpan.put(e.jobId, (id, op, e.time.toDouble))
    e.stageIds.foreach(s => stageToJob.put(s, (id, op)))
    jobParent.put(e.jobId, parent)
    synchronized { totals.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, op, start) =>
      tracer.add(Span(id, jobParent.getOrDefault(e.jobId, 0L), op,
        "spark.job", "engine", start, e.time.toDouble))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit.put(e.stageInfo.stageId, t.toDouble: java.lang.Double))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val (parent, op) = Option(stageToJob.get(si.stageId)).getOrElse(fallback)
    val start = si.submissionTime.map(_.toDouble)
      .getOrElse(Option(stageSubmit.get(si.stageId)).map(_.doubleValue).getOrElse(tracer.nowMs))
    val end = si.completionTime.map(_.toDouble).getOrElse(tracer.nowMs)
    tracer.add(Span(tracer.newId(), parent, op, "spark.stage", "engine", start, end))
    synchronized {
      totals.stages += 1
      Option(stageTasks.remove(si.stageId)).foreach { ds =>
        if (ds.size >= 2) opStageSkew(op, ds)
      }
    }
  }

  private def opStageSkew(op: String, ds: mutable.ArrayBuffer[Long]): Unit = {
    val sorted = ds.sorted
    val med = sorted(sorted.size / 2).toDouble
    val ratio = if (med <= 0) 1.0 else sorted.last / med
    skewByOp(op) = math.max(skewByOp.getOrElse(op, 1.0), ratio)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totals.tasks += 1
    if (e.reason != TaskSuccess) totals.failedTasks += 1
    val ti = e.taskInfo
    Option(stageSubmit.get(e.stageId)).foreach(sub =>
      totals.schedWaitMs += math.max(0.0, ti.launchTime - sub.doubleValue))
    stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) +=
      ti.duration
    val m = e.taskMetrics
    if (m != null) {
      totals.executorCpuNs += m.executorCpuTime
      totals.executorRunMs += m.executorRunTime
      totals.inputBytes += m.inputMetrics.bytesRead
      totals.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      totals.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      totals.spillBytes += m.diskBytesSpilled
    }
  }

  /** Hand back the totals of the region since the last call, with the
    * per-op skew of every op seen in it. */
  def drain(): EngineTotals = synchronized {
    val t = totals
    t.opSkew ++= skewByOp.values
    skewByOp.clear()
    totals = new EngineTotals
    t
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      EngineListener.this.synchronized {
        totals.streamBatches += 1
        totals.addBatchMs += ms("addBatch")
        totals.walCommitMs += ms("walCommit")
        totals.planningMs += ms("queryPlanning")
      }
    }
  }
}

/** Process-level readings from JMX and /proc. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Wall seconds since this JVM started. */
  def sinceStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Spark's codegen compile histogram: (compilations, summed ms). The
    * reservoir keeps every sample below 1028 updates, which a run stays
    * under. */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum.toDouble)
  }
}
