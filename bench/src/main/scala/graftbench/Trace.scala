package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a layer, recorded by the benchmark around the call.
  * `startMs`/`endMs` are wall-clock milliseconds (the clock Spark stamps
  * job events with, so jobs can be attributed by interval); `durNs` is the
  * monotonic duration. `fsBytes`/`fsOps` are Hadoop FileSystem statistics
  * deltas over the span (zero unless file statistics are enabled).
  */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    layer: String,
    family: String,
    step: String,
    startMs: Long,
    endMs: Long,
    durNs: Long,
    fsBytes: Long,
    fsOps: Long) {
  def durS: Double = durNs / 1e9
}

/** Span recorder. Spans are opened and closed on the benchmark's main
  * thread only, kept in memory, and taken once per round.
  */
object Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile var fsEnabled = false

  def apply[T](name: String, layer: String, family: String = "",
      step: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val fs0 = if (fsEnabled) FsStats.snapshot() else FsStats.Zero
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = System.nanoTime() - t0
      val ms1 = System.currentTimeMillis()
      val fs1 = if (fsEnabled) FsStats.snapshot() else FsStats.Zero
      stack = stack.tail
      done += Span(id, parent, name, layer, family, step, ms0, ms1, dur,
        fs1.bytesWritten - fs0.bytesWritten, fs1.ops - fs0.ops)
    }
  }

  def take(): Vector[Span] = {
    val v = done.toVector
    done.clear()
    v
  }
}

/** Bytes written (Hadoop FileSystem and FileContext statistics, summed
  * over schemes) and file-system calls counted by [[FsOps]].
  */
final case class FsStats(bytesWritten: Long, ops: Long)

object FsStats {
  val Zero: FsStats = FsStats(0L, 0L)

  def snapshot(): FsStats = {
    val fsStats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    val fcStats =
      org.apache.hadoop.fs.FileContext.getAllStatistics.asScala.values
    FsStats((fsStats ++ fcStats).map(_.getBytesWritten).sum, FsOps.count.get)
  }
}

/** Executor-side totals of one Spark job, summed over its tasks. */
final case class JobAgg(
    id: Int,
    startMs: Long,
    endMs: Long,
    stages: Int,
    tasks: Long,
    cpuNs: Long,
    gcMs: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    spillBytes: Long,
    peakExecMem: Long,
    outputRecords: Long)

/** SparkListener registered by the benchmark (never by the program).
  * With `detail = false` it only counts jobs and rows written, which the
  * round-state self-check needs on every run; with `detail = true` it
  * also keeps per-stage task totals for the per-layer metrics.
  */
final class JobRecorder(detail: Boolean) extends SparkListener {
  private final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufBytes = 0L; var shufRecords = 0L; var spill = 0L
    var peakMem = 0L; var outRecords = 0L
  }
  private final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int],
      var endMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageAggs = mutable.HashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAggs.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.outRecords += m.outputMetrics.recordsWritten
      if (detail) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufBytes += m.shuffleWriteMetrics.bytesWritten
        a.shufRecords += m.shuffleWriteMetrics.recordsWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Jobs seen since the last call, with task totals. A stage shared by
    * several jobs ran its tasks in the earliest of them.
    */
  def take(): Vector[JobAgg] = synchronized {
    val owner = mutable.HashMap.empty[Int, Int]
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      j.stageIds.foreach(s => if (!owner.contains(s)) owner(s) = j.id)
    }
    val out = jobs.values.toVector.sortBy(_.id).map { j =>
      val own = j.stageIds.filter(s => owner.get(s).contains(j.id))
        .flatMap(stageAggs.get)
      JobAgg(j.id, j.startMs, j.endMs, own.size, own.map(_.tasks).sum,
        own.map(_.cpuNs).sum, own.map(_.gcMs).sum,
        own.map(_.shufBytes).sum, own.map(_.shufRecords).sum,
        own.map(_.spill).sum, (0L +: own.map(_.peakMem)).max,
        own.map(_.outRecords).sum)
    }
    jobs.clear()
    stageAggs.clear()
    out
  }
}

/** One micro-batch's progress as reported to the query listener. */
final case class BatchProgress(query: String, triggerMs: Long, addBatchMs: Long)

/** StreamingQueryListener registered by the benchmark. */
final class ProgressRecorder extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[BatchProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    progress += BatchProgress(Option(p.name).getOrElse(p.id.toString),
      d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L))
  }

  def take(): Vector[BatchProgress] = synchronized {
    val v = progress.toVector
    progress.clear()
    v
  }
}

/** Per-span totals after attributing each job to the innermost span open
  * when the job started. Attribution is by time interval, not job group:
  * library helpers launch jobs from pool threads that need not inherit
  * the caller's local properties.
  */
final case class SpanCost(
    span: Span,
    selfS: Double,
    jobs: Seq[JobAgg],
    driverOnlyS: Double) {
  def jobCount: Int = jobs.size
  def stages: Int = jobs.map(_.stages).sum
  def tasks: Long = jobs.map(_.tasks).sum
  def cpuS: Double = jobs.map(_.cpuNs).sum / 1e9
  def gcS: Double = jobs.map(_.gcMs).sum / 1e3
  def shuffleWriteMb: Double = jobs.map(_.shuffleWriteBytes).sum / 1048576.0
  def shuffleRecords: Long = jobs.map(_.shuffleWriteRecords).sum
  def spillMb: Double = jobs.map(_.spillBytes).sum / 1048576.0
  def peakExecMemMb: Double = (0L +: jobs.map(_.peakExecMem)).max / 1048576.0
}

object Attribution {
  /** Inclusive cost of every span (its own jobs plus its descendants'). */
  def apply(spans: Vector[Span], jobs: Vector[JobAgg]): Map[Int, SpanCost] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int =
      if (s.parent < 0 || !byId.contains(s.parent)) 0
      else 1 + depth(byId(s.parent))
    val depths = spans.map(s => s.id -> depth(s)).toMap
    val own = mutable.HashMap.empty[Int, mutable.ArrayBuffer[JobAgg]]
    jobs.foreach { j =>
      val open = spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      if (open.nonEmpty) {
        val inner = open.maxBy(s => (depths(s.id), s.startMs, s.id))
        own.getOrElseUpdate(inner.id, mutable.ArrayBuffer.empty) += j
      }
    }
    val children = spans.groupBy(_.parent)
    def inclusive(s: Span): Seq[JobAgg] =
      own.get(s.id).map(_.toSeq).getOrElse(Nil) ++
        children.getOrElse(s.id, Vector.empty).flatMap(inclusive)
    spans.map { s =>
      val js = inclusive(s)
      val kids = children.getOrElse(s.id, Vector.empty)
      val selfS = s.durS - kids.map(_.durS).sum
      s.id -> SpanCost(s, selfS, js,
        math.max(0.0, (s.endMs - s.startMs - unionMs(js, s)) / 1e3))
    }.toMap
  }

  /** Length of the union of job intervals, clipped to the span. */
  private def unionMs(js: Seq[JobAgg], s: Span): Long = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total
  }
}
