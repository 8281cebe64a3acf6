package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}

import graft.pipeline.{CustomerPipeline, EtlDag, EtlRunReport, EtlTask, KafkaIO}

/** The paper's own path: the reference DAG of `graft.pipeline.EtlJob`
  * (produce → consume → upload under `EtlDag(retries = 1)`), fed from a
  * seeded customers table staged as parquet in place of MySQL `clientes`.
  * One operation is one DAG run into a fresh work directory.
  */
final class EtlCustomers(seed: Long, dir: Path, val rows: Long = 10000L) extends Workload {
  val name = "etl_customers"

  private val source = dir.resolve("source").toString
  private def runDir(i: Int): Path = dir.resolve(s"run-$i")
  private var expectedSums: (java.math.BigDecimal, java.math.BigDecimal) = _
  private var lastReport: Option[EtlRunReport] = None
  private var lastMicrobatches = 0

  /** Seeded stand-in for `clientes`: ids 1..n, every other value a hash of
    * (seed, id), balances DECIMAL(10,2) in the reference's ranges.
    */
  def customers(spark: SparkSession, n: Long): DataFrame = {
    def h(salt: String) = xxhash64(lit(seed), col("id"), lit(salt))
    def pick(xs: Seq[String], salt: String) =
      element_at(array(xs.map(lit): _*), (pmod(h(salt), lit(xs.size.toLong)) + 1).cast("int"))
    val first = Seq("Maria", "Juan", "Carlos", "Ana", "Lucia", "Pedro", "Sofia", "Diego", "Elena", "Jorge")
    val last = Seq("Garcia", "Lopez", "Martinez", "Perez", "Gomez", "Diaz", "Torres", "Ruiz", "Sosa")
    def cents(salt: String, max: Long) =
      (pmod(h(salt), lit(max * 100 + 1)).cast("double") / 100.0).cast(DecimalType(10, 2))
    spark.range(1, n + 1, 1, 8).select(
      col("id").cast("int").as("id"),
      pick(first, "fn").as("nombre"),
      pick(last, "ln").as("apellido"),
      concat((pmod(h("ad"), lit(9999L)) + 1).cast("string"), lit(" Calle "), pick(last, "ac")).as("direccion"),
      concat(lit("+54"), lpad(pmod(h("ph"), lit(1000000000L)).cast("string"), 10, "0")).as("telefono"),
      cents("pe", 100000).as("caja_ahorro_pesos"),
      cents("do", 10000).as("caja_ahorro_dolares"))
  }

  def stage(spark: SparkSession): Unit = {
    customers(spark, rows).write.mode("overwrite").parquet(source)
    val r = sums(spark.read.parquet(source))
    expectedSums = (r.getDecimal(1), r.getDecimal(2))
  }

  private def sums(df: DataFrame): Row =
    df.agg(count(lit(1)), sum("caja_ahorro_pesos"), sum("caja_ahorro_dolares")).head()

  def reset(spark: SparkSession): Unit = ()

  def prepare(spark: SparkSession, i: Int): Boolean = {
    Workload.deleteTree(runDir(i))
    true
  }

  def run(spark: SparkSession, i: Int, tracer: Tracer): Unit = {
    val work = runDir(i)
    val (topic, sink, ckpt, export) = (work.resolve("topic").toString,
      work.resolve("sink").toString, work.resolve("ckpt").toString,
      work.resolve("etl_output").toString)
    val produce = EtlTask("produce", () => tracer.span("pipeline.produce") {
      CustomerPipeline.toKafkaFrame(spark.read.parquet(source))
        .write.mode("overwrite").parquet(topic)
    })
    val consume = EtlTask("consume", () => tracer.span("pipeline.consume") {
      val stream = spark.readStream.schema(spark.read.parquet(topic).schema).parquet(topic)
      val q = KafkaIO.drainTo(stream, ckpt) { (batch, id) =>
        CustomerPipeline.fromKafkaFrame(batch).write.mode("overwrite").parquet(s"$sink/batch=$id")
      }.start()
      q.awaitTermination()
      lastMicrobatches = q.recentProgress.length
    })
    val upload = EtlTask("upload", () => tracer.span("pipeline.upload") {
      CustomerPipeline.exportJsonArray(spark.read.parquet(sink))
        .coalesce(1).write.mode("overwrite").text(export)
    })
    val report = tracer.span("pipeline") {
      new EtlDag(Seq(produce, consume, upload), retries = 1).runOnce()
    }
    lastReport = Some(report)
    if (!report.succeeded)
      throw new IllegalStateException("DAG run failed: " + report.tasks.flatMap(_.error).mkString("; "))
  }

  def check(spark: SparkSession, i: Int): Checked = {
    val work = runDir(i)
    val sink = spark.read.parquet(work.resolve("sink").toString)
    val exported = spark.read.text(work.resolve("etl_output").toString)
      .select(transform(from_json(col("value"), EtlCustomers.ExportIds, Map.empty[String, String]),
        x => x.getField("id")).as("ids"))
      .collect().toSeq
    val errors = EtlCustomers.errors(rows, expectedSums, sums(sink), exported.map(_.getSeq[Int](0)))
    lastReport.foreach { r =>
      record("task_attempts_per_task", r.tasks.map(_.attempts).sum.toDouble / r.tasks.size)
    }
    record("topic_bytes", Workload.dataBytes(work.resolve("topic")).toDouble)
    record("sink_bytes", Workload.dataBytes(work.resolve("sink")).toDouble)
    record("export_bytes", Workload.dataBytes(work.resolve("etl_output")).toDouble)
    record("consume_microbatches", lastMicrobatches.toDouble)
    Workload.deleteTree(work)
    Checked(rows.toDouble, errors)
  }

  def layerMetrics(t: TraceView, cores: Int): Map[String, Double] = Map(
    "pipeline.produce_s" -> t.medianSeconds("pipeline.produce"),
    "pipeline.produce_busy" -> t.busy("pipeline.produce", cores),
    "pipeline.consume_s" -> t.medianSeconds("pipeline.consume"),
    "pipeline.consume_busy" -> t.busy("pipeline.consume", cores),
    "pipeline.upload_s" -> t.medianSeconds("pipeline.upload"),
    "pipeline.upload_busy" -> t.busy("pipeline.upload", cores),
    "pipeline.topic_bytes" -> medianCounter("topic_bytes"),
    "pipeline.sink_bytes" -> medianCounter("sink_bytes"),
    "pipeline.export_bytes" -> medianCounter("export_bytes"),
    "pipeline.consume_microbatches" -> medianCounter("consume_microbatches"),
    "pipeline.task_attempts_per_task" -> medianCounter("task_attempts_per_task"),
    "pipeline.shuffle_bytes" -> t.layerTaskMedian("pipeline")(_.shuffleWriteBytes.toDouble),
    "pipeline.spill_bytes" -> t.layerTaskMedian("pipeline")(_.spillBytes.toDouble),
    "pipeline.gc_s" -> t.layerTaskMedian("pipeline")(_.gcMs / 1e3),
  )
}

object EtlCustomers {
  private val ExportIds = DataType.fromDDL("array<struct<id:int>>")

  /** Output checks of one DAG run: sink row count, exact decimal sums of
    * both balance columns, and an export array holding every id once, in
    * `id` order. `sinkSums` is (count, Σ pesos, Σ dolares) of the sink;
    * `exportIds` the id arrays of the export file's lines.
    */
  def errors(rows: Long, expected: (java.math.BigDecimal, java.math.BigDecimal),
      sinkSums: Row, exportIds: Seq[Seq[Int]]): Seq[String] = {
    val e = Seq.newBuilder[String]
    if (sinkSums.getLong(0) != rows) e += s"sink holds ${sinkSums.getLong(0)} rows, expected $rows"
    if (sinkSums.getDecimal(1) != expected._1)
      e += s"sink Σ caja_ahorro_pesos ${sinkSums.getDecimal(1)} != ${expected._1}"
    if (sinkSums.getDecimal(2) != expected._2)
      e += s"sink Σ caja_ahorro_dolares ${sinkSums.getDecimal(2)} != ${expected._2}"
    if (exportIds.size != 1) e += s"export has ${exportIds.size} JSON lines, expected one array"
    else {
      val ids = exportIds.head
      if (ids.size != rows) e += s"export array has ${ids.size} elements, expected $rows"
      else if (!ids.iterator.zipWithIndex.forall { case (id, k) => id == k + 1 })
        e += "export array is not in id order 1..n"
    }
    e.result()
  }
}
