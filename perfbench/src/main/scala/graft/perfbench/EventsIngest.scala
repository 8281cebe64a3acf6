package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.EventsIngestJob
import graft.streaming.EventStreams

/** Streaming ingest of the `events` shape. Seeded events land as a
  * sequence of slices; each slice redelivers the last minutes of the
  * previous one, and arrival order runs ahead of event time by less than
  * the 30-minute watermark, so nothing is late and every duplicate is
  * still in the dedup state. One operation is one scheduler tick: an
  * AvailableNow drain of `dedupWithinWatermark → tumbling("1 hour")` whose
  * micro-batches `EventsIngestJob.upsertWindows` merges into the window
  * store. It is timed from the slice landing to the store being updated.
  */
final class EventsIngest(seed: Long, dir: Path,
    val perSlice: Int = 2000, val slices: Int = 16) extends Workload {
  val name = "events_ingest"

  private val staged = dir.resolve("staged")
  private val stream = dir.resolve("stream")
  private def incoming = stream.resolve("incoming")
  private def storeDir = stream.resolve("store").toString
  private var landed = 0
  private var storeEvents = 0L
  private var lastQuery: Option[StreamingQuery] = None

  def stage(spark: SparkSession): Unit =
    EventsIngest.slices(spark, seed, perSlice, slices)
      .repartition(slices, col("slice"))
      .sortWithinPartitions(col("slice"), col("arrival_us"))
      .drop("arrival_us")
      .write.mode("overwrite").partitionBy("slice").parquet(staged.toString)

  def reset(spark: SparkSession): Unit = {
    Workload.deleteTree(stream)
    Files.createDirectories(incoming)
    landed = 0
    storeEvents = 0L
  }

  /** Land the next slice: copy its file beside the stream under a hidden
    * name, then rename it into place, so the file source sees it whole.
    */
  def prepare(spark: SparkSession, i: Int): Boolean =
    landed < slices && {
      val files = Files.list(staged.resolve(s"slice=$landed"))
      val src = try files.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        finally files.close()
      require(src.size == 1, s"slice $landed is staged as ${src.size} files")
      val tmp = incoming.resolve(f".slice-$landed%04d.parquet")
      Files.copy(src.head, tmp)
      Files.move(tmp, incoming.resolve(f"slice-$landed%04d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      landed += 1
      true
    }

  def run(spark: SparkSession, i: Int, tracer: Tracer): Unit = tracer.span("streaming") {
    val tick = tracer.current
    val events = spark.readStream.schema(EventsIngest.Schema).parquet(incoming.toString)
    val deduped = EventStreams.dedupWithinWatermark(events, "30 minutes", Seq("event_id"))
    val q = EventStreams.tumbling(deduped, "1 hour").writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", stream.resolve("ckpt").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        tracer.span("pipeline.upsert", parent = tick) {
          EventsIngestJob.upsertWindows(spark, b, storeDir)
        }
      }
      .start()
    lastQuery = Some(q)
    q.awaitTermination()
  }

  def check(spark: SparkSession, i: Int): Checked = {
    val store = spark.read.parquet(storeDir)
    val landedEvents = spark.read.schema(EventsIngest.Schema).parquet(incoming.toString)
    val (errors, total, storeRows) = EventsIngest.errors(store, landedEvents)
    val fresh = total - storeEvents
    storeEvents = total
    lastQuery.foreach { q =>
      val ps = q.recentProgress.toSeq
      def op(name: String) = ps.flatMap(_.stateOperators.filter(_.operatorName == name))
      val ops = ps.flatMap(_.stateOperators)
      val updated = op("stateStoreSave").map(_.numRowsUpdated).sum
      record("microbatches_per_tick", ps.size.toDouble)
      record("input_rows", ps.map(_.numInputRows).sum.toDouble)
      record("dup_dropped_rows", op("dedupeWithinWatermark")
        .map(o => o.customMetrics.asScala.get("numDroppedDuplicateRows").map(_.longValue).getOrElse(0L)).sum.toDouble)
      record("late_dropped_rows", ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
      ps.lastOption.foreach { last =>
        record("state_rows", last.stateOperators.map(_.numRowsTotal).sum.toDouble)
        record("state_bytes", last.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
      }
      record("state_commit_s", ops.map(_.commitTimeMs).sum / 1e3)
      record("wal_commit_s", ps.map(p => Option(p.durationMs.get("walCommit")).map(_.longValue).getOrElse(0L)).sum / 1e3)
      record("store_rows", storeRows.toDouble)
      if (updated > 0) record("upsert_rewrite_ratio", storeRows.toDouble / updated)
    }
    Checked(fresh.toDouble, errors)
  }

  def layerMetrics(t: TraceView, cores: Int): Map[String, Double] = Map(
    "pipeline.upsert_s" -> t.medianSeconds("pipeline.upsert"),
    "pipeline.store_rows" -> medianCounter("store_rows"),
    "pipeline.upsert_rewrite_ratio" -> medianCounter("upsert_rewrite_ratio"),
    "streaming.drain_s" -> t.medianSelf("streaming"),
    "streaming.microbatches_per_tick" -> medianCounter("microbatches_per_tick"),
    "streaming.input_rows" -> medianCounter("input_rows"),
    "streaming.dup_dropped_rows" -> medianCounter("dup_dropped_rows"),
    "streaming.late_dropped_rows" -> medianCounter("late_dropped_rows"),
    "streaming.state_rows" -> medianCounter("state_rows"),
    "streaming.state_commit_s" -> medianCounter("state_commit_s"),
    "streaming.wal_commit_s" -> medianCounter("wal_commit_s"),
    "streaming.state_bytes" -> medianCounter("state_bytes"),
    "streaming.shuffle_bytes" -> t.layerTaskMedian("streaming")(_.shuffleWriteBytes.toDouble),
    "streaming.spill_bytes" -> t.layerTaskMedian("streaming")(_.spillBytes.toDouble),
    "streaming.gc_s" -> t.layerTaskMedian("streaming")(_.gcMs / 1e3),
  )
}

object EventsIngest {
  val Schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"

  private val SliceUs = 3600L * 1000000L
  private val JitterUs = 20L * 60 * 1000000L
  private val RedeliverUs = 5L * 60 * 1000000L
  private val StartUs = 1767225600L * 1000000L // 2026-01-01T00:00:00Z

  /** Every slice's rows, with a `slice` column and the arrival time that
    * orders rows inside it. Slice k holds the events arriving in its hour
    * (event time up to 20 minutes before arrival), plus a redelivery of
    * the events that arrived in the last 5 minutes of slice k − 1. User
    * ids are skewed: the cube of a uniform draw puts most events on a few
    * users.
    */
  def slices(spark: SparkSession, seed: Long, perSlice: Int, n: Int): DataFrame = {
    def u(salt: String) =
      (pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1000000007L)).cast("double") + 0.5) / 1000000007.0
    val types = array(Seq("view", "view", "view", "click", "click", "cart", "purchase").map(lit): _*)
    val base = spark.range(0L, perSlice.toLong * n, 1, 8)
      .withColumn("slice", (col("id") / perSlice).cast("int"))
      .withColumn("arrival_us", lit(StartUs) + col("slice") * SliceUs + (u("a") * SliceUs).cast("long"))
      .select(
        col("id").as("event_id"),
        timestamp_micros(col("arrival_us") - (u("j") * JitterUs).cast("long")).as("ts"),
        (pow(u("u"), 3) * 5000).cast("long").as("user_id"),
        element_at(types, (u("t") * 7).cast("int") + 1).as("event_type"),
        round(u("v") * 100, 2).as("value"),
        col("slice"), col("arrival_us"))
    val redelivered = base
      .filter(col("slice") < n - 1 &&
        col("arrival_us") >= lit(StartUs) + (col("slice") + 1) * SliceUs - RedeliverUs)
      .withColumn("slice", col("slice") + 1)
    base.unionByName(redelivered)
  }

  /** Store checks after a tick: Σ n_events equals the number of distinct
    * events landed, and every store window equals a batch
    * `EventStreams.tumbling` over those distinct events. Returns the
    * errors, Σ n_events and the store's row count.
    */
  def errors(store: DataFrame, landed: DataFrame): (Seq[String], Long, Long) = {
    val expected = EventStreams.tumbling(landed.dropDuplicates("event_id"), "1 hour")
    def side(df: DataFrame, p: String) = df.select(col("w_start"), col("event_type"),
      col("n_events").as(s"${p}_n"), col("sum_value").as(s"${p}_v"), lit(1).as(s"${p}_row"))
    val r = side(store, "s").join(side(expected, "e"), Seq("w_start", "event_type"), "full_outer")
      .agg(coalesce(sum("s_n"), lit(0L)), coalesce(sum("e_n"), lit(0L)),
        count("s_row"), count("e_row"),
        sum(when(col("s_n") <=> col("e_n") && col("s_v") <=> col("e_v"), 0).otherwise(1)))
      .head()
    val (total, distinct, rows, expectedRows) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val differing = if (r.isNullAt(4)) 0L else r.getLong(4)
    val e = Seq.newBuilder[String]
    if (total != distinct) e += s"store Σ n_events $total != $distinct distinct events landed"
    if (differing > 0) e += s"$differing store windows differ from a batch tumbling of the distinct events"
    if (rows != expectedRows) e += s"store holds $rows windows, a batch tumbling gives $expectedRows"
    (e.result(), total, rows)
  }
}
