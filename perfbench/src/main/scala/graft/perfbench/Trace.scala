package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** One traced interval around a call into an engine layer. `layer` is the
  * span name up to its first dot (`pipeline.produce` belongs to
  * `pipeline`). Times are nanoTime for durations and epoch milliseconds
  * for matching Spark task events, which carry wall-clock stamps.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans recorded from the benchmark's own code around each layer call.
  * Disabled, `span` only runs its body. Enabled, spans are kept in memory
  * and written out when the run ends. The parent is the innermost open
  * span of the calling thread, or an explicit id for callbacks that Spark
  * runs on its own threads (a streaming query's foreachBatch).
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var currentOp = -1L

  def current: Long = open.get.headOption.getOrElse(-1L)

  def span[T](name: String, parent: Long = Long.MinValue)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent == Long.MinValue) current else parent
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      open.set(id :: open.get)
      try body
      finally {
        open.set(open.get.tail)
        spans.add(Span(id, name, p, currentOp, s0, System.nanoTime(), m0,
          System.currentTimeMillis()))
      }
    }

  /** The root span of one timed operation; spans opened inside share its op id. */
  def op[T](opId: Long)(body: => T): T = {
    currentOp = opId
    try span("op")(body) finally currentOp = -1L
  }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Trace {

  /** Self time: the span's duration minus the part of its interval that
    * its children cover. Overlapping children (a callback running beside
    * the thread that waits for it) are merged first, so shared time is
    * subtracted once.
    */
  def selfNanos(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (parent.endNs - parent.startNs) - covered
  }

  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNanos(s, kids.getOrElse(s.id, Nil)) / 1e9).toMap
  }

  /** Each task goes to the shortest span open at its finish time — the
    * innermost layer call it ran under. Tasks outside every span (staging,
    * checks) go nowhere.
    */
  def attribute(spans: Seq[Span], tasks: Seq[TaskSample]): Map[Long, Seq[TaskSample]] =
    tasks.flatMap { t =>
      spans.filter(s => s.startMs <= t.finishMs && t.finishMs <= s.endMs)
        .minByOption(s => s.endNs - s.startNs).map(_.id -> t)
    }.groupMap(_._1)(_._2)
}

/** Per-task metrics as a SparkListener reports them. */
final case class TaskSample(finishMs: Long, runMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long)

final class TaskLog extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskSample]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(TaskSample(e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.jvmGCTime))
    }

  def samples: Seq[TaskSample] = tasks.asScala.toSeq
}
