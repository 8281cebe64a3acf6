package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Outcome of checking one operation's outputs: the input rows it
  * completed and every mismatch found (empty when the output is right).
  */
final case class Checked(rows: Double, errors: Seq[String])

/** One benchmark workload, driven by a single client in a closed loop:
  * `prepare` (untimed) → `run` (timed) → `check` (untimed), one operation
  * after another.
  */
trait Workload {
  def name: String

  /** Write the seeded inputs. Part of set-up. */
  def stage(spark: SparkSession): Unit

  /** Start from fresh state (new stream directories, empty memo caches). */
  def reset(spark: SparkSession): Unit

  /** Untimed preparation of operation `i` of a phase; false when the
    * staged inputs are used up.
    */
  def prepare(spark: SparkSession, i: Int): Boolean

  /** The timed operation. */
  def run(spark: SparkSession, i: Int, tracer: Tracer): Unit

  /** Untimed output check of the operation just run. */
  def check(spark: SparkSession, i: Int): Checked

  /** A phase of `seconds` that must run at least `minOps` operations runs
    * this many when set, instead of running until the time is up: needed
    * where operations differ so much that the mix must not depend on where
    * the clock stops.
    */
  def fixedOps(seconds: Double, minOps: Int): Option[Int] = None

  /** Untimed operations run at the end of set-up, so that the timed ones
    * find their code paths compiled.
    */
  def warmupOps: Int = 1

  /** Extra traced calls made once after a traced phase. */
  def traceFunctions(spark: SparkSession, tracer: Tracer): Unit = ()

  /** Per-layer metrics of a traced phase on `cores` cores. */
  def layerMetrics(trace: TraceView, cores: Int): Map[String, Double]

  /** Per-operation counters recorded by `check` (bytes written, rows in
    * the store, …); layer metrics take their median.
    */
  protected val counters = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  protected def record(name: String, v: Double): Unit =
    counters.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def clearCounters(): Unit = counters.clear()
  protected def medianCounter(name: String): Double =
    counters.get(name).filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
}

/** Spans and task metrics of one traced phase, with the derived views the
  * workloads report from.
  */
final class TraceView(val spans: Seq[Span], tasks: Seq[TaskSample]) {
  val byTask: Map[Long, Seq[TaskSample]] = Trace.attribute(spans, tasks)
  val self: Map[Long, Double] = Trace.selfSeconds(spans)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def medianSeconds(name: String): Double = medianOf(named(name).map(_.seconds))

  def medianSelf(name: String): Double = medianOf(named(name).map(s => self(s.id)))

  /** Σ task run time ÷ (Σ span wall × cores) over the named spans. */
  def busy(name: String, cores: Int): Double = {
    val ss = named(name)
    val wall = ss.map(_.seconds).sum
    val run = ss.flatMap(s => byTask.getOrElse(s.id, Nil)).map(_.runMs).sum / 1e3
    if (wall > 0) run / (wall * cores) else 0.0
  }

  /** Per-operation sum of a task metric over the tasks that finished
    * inside one layer's spans, nested calls included (a streaming tick's
    * micro-batches run inside its foreachBatch upsert); median over the
    * operations that entered the layer.
    */
  def layerTaskMedian(layer: String)(f: TaskSample => Double): Double = {
    val perOp = spans.filter(_.layer == layer).groupBy(_.op).values.map { ss =>
      tasks.filter(t => ss.exists(s => s.startMs <= t.finishMs && t.finishMs <= s.endMs)).map(f).sum
    }.toSeq
    medianOf(perOp)
  }

  /** Median self time per span name, for the record. */
  def selfTable: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(s => self(s.id))) }

  private def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}

object Workload {
  /** Benchmark workloads by name, in the order they are documented. */
  val names: Seq[String] = Seq("etl_customers", "events_ingest", "corpus_curation")

  def apply(name: String, seed: Long, dir: Path,
      expected: Map[String, (Long, String)]): Workload = name match {
    case "etl_customers"   => new EtlCustomers(seed, dir)
    case "events_ingest"   => new EventsIngest(seed, dir)
    case "corpus_curation" => new CorpusCuration(seed, dir, expected)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Bytes of the data files under a directory (Spark's hidden `_`/`.`
    * bookkeeping files excluded).
    */
  def dataBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala
        .filter(p => Files.isRegularFile(p))
        .filterNot { p => val n = p.getFileName.toString; n.startsWith("_") || n.startsWith(".") }
        .map(p => Files.size(p)).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator.asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}
