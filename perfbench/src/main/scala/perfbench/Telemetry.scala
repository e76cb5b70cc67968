package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters read through a SparkListener: jobs, tasks, executor CPU
  * and GC time, shuffle and spill bytes, plus per-stage task durations for
  * the skew figure. Snapshots are taken only after the listener bus has
  * drained (every started job and task has ended and the counters stopped
  * moving), so a window never loses its trailing task-end events. */
final class EngineMeter extends SparkListener {
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val tasksStarted = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shWrite = new AtomicLong
  private val shRead = new AtomicLong
  private val fetchWait = new AtomicLong
  private val spill = new AtomicLong
  // (stageId, attempt) -> task durations (ms) of the current window
  private val stageTasks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  // nanoTime of every job start, to count the jobs inside a traced span
  private val jobStarts = mutable.ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    synchronized(jobStarts += System.nanoTime())
  }

  /** Jobs started inside any of the given (start, end) nanoTime intervals. */
  def jobsWithin(intervals: Seq[(Long, Long)]): Int = synchronized {
    jobStarts.count(t => intervals.exists { case (a, b) => t >= a && t <= b })
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onTaskStart(e: SparkListenerTaskStart): Unit = tasksStarted.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      fetchWait.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    val dur = if (e.taskInfo != null) e.taskInfo.duration else 0L
    synchronized {
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += dur
    }
  }

  import EngineMeter.Snap

  private def raw: Snap = Snap(jobsEnded.get, tasks.get, cpuNs.get / 1e6,
    runMs.get, gcMs.get, shWrite.get, shRead.get, fetchWait.get, spill.get)

  /** Snapshot once the bus has drained (bounded wait). */
  def stable(timeoutMs: Long = 3000): Snap = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = jobsEnded.get == jobsStarted.get && tasks.get == tasksStarted.get
    var prev = raw
    Thread.sleep(20)
    var cur = raw
    while ((!settled || cur != prev) && System.nanoTime() < deadline) {
      prev = cur; Thread.sleep(20); cur = raw
    }
    cur
  }

  /** Forget the per-stage task durations (start of a measured window). */
  def resetStages(): Unit = synchronized(stageTasks.clear())

  /** max/median task duration of the stage with the largest total task
    * time since the last [[resetStages]] (1.0 for an empty window). */
  def taskSkew: Double = synchronized {
    if (stageTasks.isEmpty) 1.0
    else {
      val durs = stageTasks.values.maxBy(_.sum).sorted
      val med = Stats.quantile(durs.map(_.toDouble).toSeq, 0.5)
      if (med <= 0) durs.last.toDouble.max(1.0) else durs.last / med
    }
  }
}

object EngineMeter {
  final case class Snap(jobs: Long, tasks: Long, cpuMs: Double, runMs: Long,
                        gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                        fetchWaitMs: Long, spill: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, cpuMs - o.cpuMs,
      runMs - o.runMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, fetchWaitMs - o.fetchWaitMs, spill - o.spill)
  }
}

object StreamMeter {
  final case class Batch(addBatchMs: Long, planningMs: Long, walCommitMs: Long,
                         triggerMs: Long, stateCommitMs: Long, stateRows: Long,
                         stateMemBytes: Long, rowsUpdated: Long)
}

/** Per-batch streaming progress, collected by the benchmark's own
  * StreamingQueryListener (registered on the isolated child sessions the
  * drains run in). */
final class StreamMeter extends StreamingQueryListener {
  import StreamMeter.Batch

  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = Option(p.stateOperators).getOrElse(Array.empty)
    synchronized {
      batches += Batch(d("addBatch"), d("queryPlanning"), d("walCommit"),
        d("triggerExecution"), ops.map(_.commitTimeMs).sum,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsUpdated).sum)
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def snapshot: Seq[Batch] = synchronized(batches.toSeq)
}

/** In-memory span log for the traced run: each span has a name, start,
  * end, parent and the run id; spans are written out once, at the end. */
final class Tracer(val runId: String) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, name, t0, System.nanoTime())
    }
  }

  /** (start, end) nanoTime of every closed span called `name`. */
  def intervals(name: String): Seq[(Long, Long)] =
    spans.filter(_.name == name).map(s => (s.startNs, s.endNs)).toSeq

  /** Seconds of every closed span called `name`, in start order. */
  def durations(name: String): Seq[Double] =
    spans.filter(_.name == name).sortBy(_.startNs).map(_.seconds).toSeq

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(Json.obj(Seq(
        "run_id" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.startNs - origin) / 1e6),
        "end_ms" -> Json.num((s.endNs - origin) / 1e6))))
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Host noise: hypervisor steal ticks from /proc/stat and JIT compile time. */
object Host {
  /** Cumulative steal jiffies over all CPUs (0 where /proc/stat is absent). */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cols = src.getLines().next().trim.split("\\s+")
        if (cols.length > 8) cols(8).toLong else 0L
      } finally src.close()
    } catch { case _: Exception => 0L }

  def jitCompileMs(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime else 0L
  }

  /** Old-generation MB in use right after a full collection: the heap the
    * process retains. Young-collection peaks depend on when G1 happens to
    * run, so the benchmark samples after explicit collections only. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
      .collect { case p: java.lang.management.MemoryPoolMXBean if p.getName.contains("Old Gen") =>
        p.getUsage.getUsed }
      .sum / (1024.0 * 1024.0)
  }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer (the benchmark prints flat objects only). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
