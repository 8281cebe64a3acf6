package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Command-line settings of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    nproc: Int, work: Path, records: Path, fingerprints: Path,
    recordFingerprints: Boolean = false)

object Args {
  /** Parse `--name value` pairs. An unknown workload is refused before any
    * work starts (the same fail-fast rule as `SPARK_GRAFT_ONLY` in
    * `graft.Bench`: a typo must never run something else).
    */
  def parse(argv: Seq[String]): Args = {
    require(argv.size % 2 == 0, s"expected --name value pairs, got: ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map { case Seq(k, v) =>
      require(k.startsWith("--"), s"expected an option name, got '$k'")
      k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work",
      "records", "fingerprints", "record-fingerprints")
    val unknownOpts = kv.keySet -- known
    require(unknownOpts.isEmpty, s"unknown options: ${unknownOpts.toSeq.sorted.mkString(", ")}")
    val workload = kv.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workload.names.contains(workload),
      s"unknown workload '$workload' (known: ${Workload.names.mkString(", ")})")
    val trace = kv.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", s"--trace takes 0 or 1, got '$trace'")
    val seconds = kv.get("seconds").map(_.toInt).getOrElse(15)
    require(seconds >= 1, "--seconds must be positive")
    Args(workload, kv.get("seed").map(_.toLong).getOrElse(1L), seconds, trace == "1",
      Runtime.getRuntime.availableProcessors, Paths.get(kv.getOrElse("work", ".bench_build/work")),
      Paths.get(kv.getOrElse("records", ".bench_build/records")),
      Paths.get(kv.getOrElse("fingerprints", "perfbench/expected_fingerprints.tsv")),
      kv.get("record-fingerprints").contains("1"))
  }
}

/** The set-up and its parts, in seconds. */
final case class SetupRun(spark: SparkSession, total: Double, start: Double, stage: Double,
    warmup: Double) {
  def summary: ListMap[String, Double] =
    ListMap("total" -> total, "start" -> start, "stage" -> stage, "warmup" -> warmup)
}

/** One timed operation as measured. */
final case class OpSample(seconds: Double, rows: Double, errors: Seq[String])

/** Samples the 1-minute load average so that a run contaminated by other
  * load on the machine shows in its own record.
  */
final class LoadSampler {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  val start: Double = os.getSystemLoadAverage
  private var max = start
  def sample(): Double = { val l = os.getSystemLoadAverage; max = math.max(max, l); l }
  def summary: ListMap[String, Double] = {
    val end = sample()
    ListMap("start" -> start, "max" -> max, "end" -> end)
  }
}

/** Drives the workloads: set-up, timed phases, checks and the result. */
final class Runner(a: Args) {
  /** Spark runs as `local[cores]`. */
  val cores: Int = math.min(Runner.Cores, a.nproc)
  private val load = new LoadSampler
  val samples = mutable.ArrayBuffer.empty[OpSample]
  private val expected =
    if (Files.exists(a.fingerprints)) CorpusCuration.readExpected(a.fingerprints) else Map.empty[String, (Long, String)]

  def workload(name: String): Workload = Workload(name, a.seed, a.work.resolve(name), expected)

  def session(cores: Int): SparkSession = {
    val spark = Sessions.builder(s"local[$cores]", cores.toString)
      .appName("graft-perfbench")
      .config("spark.local.dir", a.work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Set-up: session start, input staging and the workload's untimed
    * warm-up operations, measured from `t0Ms`.
    */
  def setup(w: Workload, cores: Int, t0Ms: Long): SetupRun = {
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val t0 = System.nanoTime()
    val spark = session(cores)
    val start = since(t0)
    val t1 = System.nanoTime()
    w.stage(spark)
    w.reset(spark)
    val stage = since(t1)
    val t2 = System.nanoTime()
    for (k <- 0 until w.warmupOps) once(spark, w, "warmup", k, new Tracer(false))
    SetupRun(spark, (System.currentTimeMillis() - t0Ms) / 1e3, start, stage, since(t2))
  }

  private def once(spark: SparkSession, w: Workload, phase: String, i: Int,
      tracer: Tracer): Option[OpSample] =
    if (!w.prepare(spark, i)) None
    else {
      val t0 = System.nanoTime()
      val failure =
        try { tracer.op(i.toLong)(w.run(spark, i, tracer)); None }
        catch { case NonFatal(e) => Some(s"operation failed: $e") }
      val secs = (System.nanoTime() - t0) / 1e9
      val checked =
        try failure.fold(w.check(spark, i))(f => Checked(0, Seq(f)))
        catch { case NonFatal(e) => Checked(0, Seq(s"check failed: $e")) }
      val s = OpSample(secs, checked.rows, checked.errors)
      samples += s
      load.sample()
      checked.errors.foreach(e => System.err.println(s"[perfbench] ${w.name} $phase op $i: $e"))
      Some(s)
    }

  /** Closed loop: one operation after another until `seconds` have passed
    * and at least `minOps` have run, or until the workload's fixed count is
    * reached when `fixedCount`.
    */
  def phase(spark: SparkSession, w: Workload, label: String, seconds: Double,
      tracer: Tracer, fixedCount: Boolean = true, minOps: Int = 1): Seq[OpSample] = {
    val fixed = if (fixedCount) w.fixedOps(seconds, minOps) else None
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[OpSample]
    var i = 0
    var more = true
    while (more && fixed.fold((System.nanoTime() - t0) / 1e9 < seconds || i < minOps)(i < _)) {
      once(spark, w, label, i, tracer) match {
        case Some(s) => out += s
        case None => more = false
      }
      i += 1
    }
    out.toSeq
  }

  private def jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** The untraced run: one set-up from JVM start, then one timed phase. */
  def endToEnd(): (ListMap[String, Double], ListMap[String, Any]) = {
    val w = workload(a.workload)
    val set = setup(w, cores, jvmStartMs)
    val spark = set.spark
    val ops = phase(spark, w, "timed", a.seconds, new Tracer(false), minOps = Stats.TailOps)
    spark.stop()
    require(ops.nonEmpty, "no operation completed")
    val lat = ops.map(_.seconds)
    val tail = Stats.tail(lat)
    val metrics = ListMap(
      "setup_s" -> set.total,
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> tail.value,
      "rows_per_s" -> ops.map(_.rows).sum / lat.sum,
      "success_rate" -> (1.0 - errorRate),
      "peak_rss_mb" -> Runner.peakRssMb)
    val extra = ListMap[String, Any](
      "op_tail_percentile" -> tail.percentile, "op_tail_samples_above" -> tail.samplesAbove,
      "ops" -> ops.size, "op_s" -> lat, "setup" -> set.summary)
    (metrics, extra)
  }

  /** The traced run. The named workload runs traced for half of the
    * seconds, then untraced and untraced on one core for a quarter each.
    * The tracing overhead is the difference of the traced and untraced
    * medians, the speed-up the ratio of one-core to untraced operation
    * time, each over the operations both phases ran (the first n of each,
    * the same queries on corpus_curation). The other workloads then run
    * traced for a quarter of the seconds each, so every layer's metrics
    * come from the workload that uses it.
    */
  def traced(): (ListMap[String, Double], ListMap[String, Any]) = {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val selfTables = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    val allSpans = mutable.ArrayBuffer.empty[(String, Span)]

    def tracedPhase(spark: SparkSession, w: Workload, seconds: Double): Seq[OpSample] = {
      val log = new TaskLog
      spark.sparkContext.addSparkListener(log)
      val tracer = new Tracer(true)
      w.clearCounters()
      val ops = phase(spark, w, "traced", seconds, tracer)
      w.traceFunctions(spark, tracer)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(log)
      val view = new TraceView(tracer.recorded, log.samples)
      metrics ++= w.layerMetrics(view, cores)
      selfTables(w.name) = view.selfTable
      allSpans ++= tracer.recorded.map(w.name -> _)
      ops
    }

    val w = workload(a.workload)
    val set = setup(w, cores, jvmStartMs)
    val spark = set.spark
    val traced = tracedPhase(spark, w, a.seconds / 2.0)
    val plain = phase(spark, w, "untraced", a.seconds / 4.0, new Tracer(false), fixedCount = false)
    spark.stop()
    val one = setup(w, 1, System.currentTimeMillis()).spark
    val single = phase(one, w, "one_core", a.seconds / 4.0, new Tracer(false), fixedCount = false)
    one.stop()
    Workload.deleteTree(a.work.resolve(w.name))

    for (other <- Workload.names if other != a.workload) {
      val o = workload(other)
      val s = setup(o, cores, System.currentTimeMillis()).spark
      tracedPhase(s, o, a.seconds / 4.0)
      s.stop()
      Workload.deleteTree(a.work.resolve(other))
    }

    def secs(xs: Seq[OpSample], n: Int) = xs.take(n).map(_.seconds)
    val nTraced = math.min(traced.size, plain.size)
    val nSingle = math.min(single.size, plain.size)
    metrics("sessions.start_s") = set.start
    metrics("sessions.warmup_s") = set.warmup
    metrics("sessions.trace_overhead_s") =
      Stats.median(secs(traced, nTraced)) - Stats.median(secs(plain, nTraced))
    metrics("sessions.speedup_vs_1core") = secs(single, nSingle).sum / secs(plain, nSingle).sum
    writeSpans(allSpans.toSeq)
    val extra = ListMap[String, Any](
      "op_untraced_s" -> secs(plain, plain.size), "op_traced_s" -> secs(traced, traced.size),
      "op_one_core_s" -> secs(single, single.size), "setup" -> set.summary,
      "self_s" -> selfTables,
      "moves" -> ListMap(Metrics.perLayer.map(m => m.name -> m.moves): _*))
    (ListMap(Metrics.perLayer.map(m => m.name -> metrics.getOrElse(m.name,
      throw new IllegalStateException(s"per-layer metric ${m.name} was not measured"))): _*), extra)
  }

  private def writeSpans(spans: Seq[(String, Span)]): Unit = {
    Files.createDirectories(a.records)
    val lines = spans.map { case (w, s) =>
      Json.render(ListMap("workload" -> w, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(a.records.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def attempted: Int = samples.size
  def failed: Int = samples.count(_.errors.nonEmpty)
  def errorRate: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted

  /** Identity of the run, so a record can be judged on its own. */
  def identity: ListMap[String, Any] = ListMap(
    "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
    "trace" -> (if (a.trace) 1 else 0), "nproc" -> a.nproc, "master" -> s"local[$cores]",
    "load1m" -> load.summary)
}

object Runner {
  /** Spark's core count, capped at nproc. Two on a 4-core machine leave
    * the scheduler, JIT and GC threads their own cores, which halved the
    * run-to-run spread of etl_customers against four.
    */
  val Cores = 2

  /** VmHWM of this JVM: the peak resident set, in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = try Args.parse(argv.toSeq) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        sys.exit(2)
    }
    if (a.recordFingerprints) { recordFingerprints(a); return }
    val r = new Runner(a)
    val (metrics, extra) = if (a.trace) r.traced() else r.endToEnd()
    val units = Metrics.units
    val correct = r.failed == 0
    val record = r.identity ++ ListMap("attempted" -> r.attempted, "failed" -> r.failed,
      "error_rate" -> r.errorRate, "errors" -> r.samples.flatMap(_.errors).take(20),
      "metrics" -> metrics) ++ extra
    Files.createDirectories(a.records)
    val recordLine = Json.render(record)
    Files.write(a.records.resolve(s"run-${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      (recordLine + "\n").getBytes("UTF-8"))
    println("[perfbench] record " + recordLine)
    println(Json.render(ListMap(
      "correct" -> correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> ListMap(metrics.toSeq.map { case (k, v) =>
        k -> ListMap("value" -> v, "unit" -> units(k)) }: _*))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Write the expected-fingerprints file from this build's query results. */
  private def recordFingerprints(a: Args): Unit = {
    val r = new Runner(a)
    val w = new CorpusCuration(a.seed, a.work.resolve("corpus_curation"))
    val spark = r.session(r.cores)
    w.stage(spark)
    val lines = CorpusCuration.Queries.map { q =>
      val t0 = System.nanoTime()
      val (n, h) = w.fingerprintOf(spark, q)
      println(f"[perfbench] $q%-24s $n%8d rows ${(System.nanoTime() - t0) / 1e9}%.2fs")
      s"$q\t$n\t$h"
    }
    spark.stop()
    Files.write(a.fingerprints, (("# query\trows\thash (see perfbench/README.md)" +: lines)
      .mkString("", "\n", "\n")).getBytes("UTF-8"))
    println(s"[perfbench] wrote ${lines.size} fingerprints to ${a.fingerprints}")
  }
}
