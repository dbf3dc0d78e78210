package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Times are epoch nanoseconds on the JVM's
  * monotonic clock; `parent` is the enclosing span's index or -1. */
final case class Span(name: String, start: Long, end: Long, parent: Int, runId: String) {
  def seconds: Double = (end - start) / 1e9
}

/** Records spans in memory, or only runs the body when disabled. Not
  * thread-safe: spans are opened only by the benchmark's main thread. */
final class Tracer(enabled: Boolean) {
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var runId = ""

  def now(): Long = System.nanoTime() + epochOffset

  def run[T](id: String)(body: => T): T = { runId = id; body }

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val idx = spans.size
    spans += Span(name, now(), 0L, open.headOption.getOrElse(-1), runId)
    open = idx :: open
    try body
    finally {
      open = open.tail
      spans(idx) = spans(idx).copy(end = now())
    }
  }
}

object Trace {

  /** A span's duration minus the part of it its children cover. Children
    * may overlap each other or stick out of the parent; each instant of
    * the parent counts once. */
  def selfNanos(spans: IndexedSeq[Span], i: Int): Long = {
    val p = spans(i)
    val kids = spans.indices.filter(spans(_).parent == i)
      .map(k => (math.max(spans(k).start, p.start), math.min(spans(k).end, p.end)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var reach = p.start
    kids.foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    (p.end - p.start) - covered
  }
}

/** What the listener keeps of a finished task. Times in epoch ms. */
final case class TaskRec(finishMs: Long, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Spark counters summed over a time window. */
final case class SparkStats(stages: Int, tasks: Int, taskS: Double, maxTaskS: Double,
    shuffleWriteBytes: Long, spillBytes: Long, gcS: Double) {
  def coreUtil(wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else taskS / (wallS * cores)
}

/** Benchmark-side listener: the program itself is not instrumented.
  * Tasks and stages are attributed to spans by the window their finish
  * time falls in. */
final class TaskListener extends SparkListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val stagesDone = ArrayBuffer.empty[Long]
  @volatile var enabled = false

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(e.taskInfo.finishTime, 0L, 0L, 0L, 0L)
      else TaskRec(e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    synchronized(tasks += rec)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled)
    synchronized(stagesDone += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))

  def count: Int = synchronized(tasks.size + stagesDone.size)

  /** Events are delivered asynchronously; wait until none has arrived
    * for `quietMs`, at most `maxMs`. */
  def drain(quietMs: Long = 150, maxMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1
    while (count != last && System.currentTimeMillis() < deadline) {
      last = count
      Thread.sleep(quietMs)
    }
  }

  def within(startMs: Long, endMs: Long): SparkStats = synchronized {
    val ts = tasks.filter(t => t.finishMs >= startMs && t.finishMs <= endMs)
    SparkStats(
      stages = stagesDone.count(t => t >= startMs && t <= endMs),
      tasks = ts.size,
      taskS = ts.map(_.runMs).sum / 1e3,
      maxTaskS = if (ts.isEmpty) 0.0 else ts.map(_.runMs).max / 1e3,
      shuffleWriteBytes = ts.map(_.shuffleWriteBytes).sum,
      spillBytes = ts.map(_.spillBytes).sum,
      gcS = ts.map(_.gcMs).sum / 1e3)
  }

  def of(s: Span): SparkStats = within(s.start / 1000000L, s.end / 1000000L)
}
