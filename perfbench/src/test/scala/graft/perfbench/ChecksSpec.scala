package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each workload's output check on a correct run and on a corrupted one:
  * a corrupted output must count as a failed operation in error_rate.
  */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = Files.createTempDirectory("perfbench-checks")
  private def runner(tag: String) = new Runner(Args.parse(Seq(
    "--workload", "etl_customers",
    "--work", tmp.resolve(tag).toString, "--records", tmp.resolve("records").toString,
    "--fingerprints", "expected_fingerprints.tsv")))

  /** Runs the wrapped workload, then corrupts its output before the check. */
  private final class Corrupting(w: Workload, corrupt: (SparkSession, Int) => Unit) extends Workload {
    def name: String = w.name
    def stage(s: SparkSession): Unit = w.stage(s)
    def reset(s: SparkSession): Unit = w.reset(s)
    def prepare(s: SparkSession, i: Int): Boolean = w.prepare(s, i)
    def run(s: SparkSession, i: Int, t: Tracer): Unit = { w.run(s, i, t); corrupt(s, i) }
    def check(s: SparkSession, i: Int): Checked = w.check(s, i)
    def layerMetrics(t: TraceView, cores: Int): Map[String, Double] = w.layerMetrics(t, cores)
  }

  /** Error rate after one set-up, whose warm-up is one checked operation. */
  private def errorRate(tag: String, w: Workload): (Double, Seq[String]) = {
    val r = runner(tag)
    r.setup(w, r.cores, System.currentTimeMillis())
    (r.errorRate, r.samples.flatMap(_.errors).toSeq)
  }

  private def files(dir: Path, suffix: String): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq finally s.close()
  }

  test("etl_customers: a correct run passes, a truncated sink raises error_rate") {
    val ok = errorRate("etl-ok", new EtlCustomers(5L, tmp.resolve("etl-ok"), rows = 500))
    assert(ok == (0.0, Nil))
    val dir = tmp.resolve("etl-bad")
    val (rate, errors) = errorRate("etl-bad", new Corrupting(new EtlCustomers(5L, dir, rows = 500),
      (_, i) => Files.delete(files(dir.resolve(s"run-$i/sink"), ".parquet").head)))
    assert(rate == 1.0)
    assert(errors.exists(_.contains("sink holds")), errors)
  }

  test("events_ingest: a correct tick passes, a double-counted window raises error_rate") {
    val ok = errorRate("ev-ok", new EventsIngest(5L, tmp.resolve("ev-ok"), perSlice = 300, slices = 3))
    assert(ok == (0.0, Nil))
    val dir = tmp.resolve("ev-bad")
    val (rate, errors) = errorRate("ev-bad", new Corrupting(
      new EventsIngest(5L, dir, perSlice = 300, slices = 3), (spark, _) => {
        val store = dir.resolve("stream/store").toString
        val rows = spark.read.parquet(store).orderBy(col("w_start"), col("event_type")).collect()
        val doubled = rows.head match {
          case Row(ws, et, n: Long, v) => Row(ws, et, 2 * n, v)
        }
        val schema = spark.read.parquet(store).schema
        val bad = spark.createDataFrame(java.util.Arrays.asList(doubled +: rows.tail: _*), schema)
        bad.localCheckpoint(true).write.mode("overwrite").parquet(store)
      }))
    assert(rate == 1.0)
    assert(errors.exists(_.contains("differ from a batch tumbling")), errors)
  }

  test("corpus_curation: the expected fingerprint passes, a wrong one raises error_rate") {
    val expected = CorpusCuration.readExpected(Paths.get("expected_fingerprints.tsv"))
    val ok = errorRate("cc-ok", new CorpusCuration(5L, tmp.resolve("cc-ok"), expected))
    assert(ok == (0.0, Nil))
    val wrong = expected.updated(CorpusCuration.Queries.head, (2000L, "12345"))
    val (rate, errors) = errorRate("cc-bad", new CorpusCuration(6L, tmp.resolve("cc-bad"), wrong))
    // the warm-up is one pass, in which only the first query is wrong
    assert(rate == 1.0 / CorpusCuration.Queries.size)
    assert(errors.exists(_.contains("fingerprint")), errors)
  }

  test("the fingerprint ignores row order") {
    val spark = runner("fp").session(2)
    val df = spark.range(100).selectExpr("id", "id * 0.1 AS x", "array(id, id + 1) AS a")
    assert(CorpusCuration.fingerprint(df) == CorpusCuration.fingerprint(df.orderBy(col("id").desc)))
    assert(CorpusCuration.fingerprint(df) != CorpusCuration.fingerprint(df.filter(col("id") > 0)))
  }

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    Workload.deleteTree(tmp)
  }
}
