package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ingest.{CsvIngest, Discovery}
import graft.model.Consumption
import graft.sink.UpsertSink

/** Structured Streaming form of the reference pipeline (SURVEY.md
  * §2.9 T1-T6) — the architectural heart of the rebuild: the
  * checkpoint/missing-dates machinery the reference hand-rolls
  * dissolves into the file source's input log + offsets WAL.
  *
  *  - T1 polling trigger → `Trigger.AvailableNow` (one incremental
  *    run-to-completion per invocation, the Lambda poll analogue).
  *  - T2 offset tracking → `checkpointLocation` (offsets WAL).
  *  - T3 late-file registry → the file source discovers files in any
  *    arrival order; no registry needed. Files already seen are
  *    skipped by path through the source's input log.
  *  - T4 30-day horizon → every query reads only the landing
  *    directories of the newest day and the 30 days before it
  *    ([[Discovery.horizonGlob]], fixed when the query starts), so a
  *    file more than 30 days late is never read and a trigger lists
  *    at most 31 directories whatever the history; the rollup and the
  *    dedup also trail a `withWatermark("event_time", "30 days")`.
  *  - T5 exactly-once effect → `foreachBatch` + idempotent keyed
  *    merge ([[UpsertSink]]); a retried micro-batch converges. Its
  *    cost on restart: the engine re-creates the last committed
  *    micro-batch through the file source, whose index re-lists that
  *    batch's files — for more than 32 files a parallel listing job
  *    outside any SQL execution, paid once per restart (seen for a
  *    40-file batch: one listing job before the 3 merge jobs).
  *  - T6 in-order fail-stop → micro-batch ordering is native; a
  *    failed batch commits no offset and is retried.
  */
object IngestStream {

  /** The event-time watermark delay of the rollup and the dedup. */
  private val horizon = s"${Discovery.HorizonDays} days"

  /** Streaming CSV source over the date-partitioned directory layout
    * (csv files under each `consumption_YYYY_MM_DD` dir inside the
    * late-data horizon, [[Discovery.horizonGlob]]). Explicit schema (a
    * streaming source requires one — and so does 100 TB), then the
    * same validated parse stage as batch. */
  def source(spark: SparkSession, prefix: String, maxFilesPerTrigger: Int = 1000): DataFrame =
    CsvIngest.parse(rawStream(spark, prefix, maxFilesPerTrigger))
      .filter(col("date").isNotNull)

  private def rawStream(spark: SparkSession, prefix: String,
      maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .option("header", "true")
      // With an explicit schema Spark DEFAULT-ignores the file header
      // and maps columns by POSITION; enforceSchema=false makes the
      // reader validate each file's header against the schema instead.
      // A reordered/renamed header then fails its task and with it the
      // whole AvailableNow micro-batch (and query) — stricter than the
      // batch path's per-date skip/halt P2 semantics, but the safety
      // direction (fail vs silently loading values into the wrong
      // columns and corrupting the (date, client_id) upsert key) is the
      // same. Recovery: remove or fix the offending file and restart;
      // the checkpoint re-attempts the failed batch from its offsets.
      .option("enforceSchema", "false")
      .option("mode", "PERMISSIVE")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "*.csv")
      .schema(Consumption.rawSchema)
      .csv(Discovery.horizonGlob(spark, prefix))

  /** [[source]] plus the batch path's `_file_order` provenance struct
    * (file modification time, then path — `CsvIngest
    * .ingestWithProvenance`), projected from `_metadata` at the scan
    * so last-writer-wins is tied to file recency, not to row layout. */
  def sourceWithProvenance(spark: SparkSession, prefix: String,
      maxFilesPerTrigger: Int = 1000): DataFrame = {
    val raw = rawStream(spark, prefix, maxFilesPerTrigger)
    CsvIngest.parse(raw.withColumn("_file_order",
        struct(
          col("_metadata").getField("file_modification_time").as("mtime"),
          col("_metadata").getField("file_path").as("path"))),
          // no within-file position here: monotonically_increasing_id
          // is rejected in streaming plans and CSV has no row_index
          // metadata — duplicate keys WITHIN one file resolve
          // arbitrarily in the stream (across files stays
          // deterministic by mtime/path); the batch path
          // (CsvIngest.ingestWithProvenance) adds the in-file
          // position and fully reproduces the reference's
          // last-row-wins.
        extra = Seq("_file_order"))
      .filter(col("date").isNotNull)
  }

  /** The upsert pipeline: every micro-batch is merged idempotently
    * into the target table, one row per (date, client_id) — last
    * writer by (file modification time, path), the same leading order
    * as the batch path; an empty micro-batch writes nothing. A retried micro-batch
    * therefore picks the SAME winner per key across files (T5; a bare
    * `monotonically_increasing_id` would be partition-layout-
    * dependent). Duplicate keys WITHIN one file tie — see
    * [[sourceWithProvenance]] for why the stream cannot carry an
    * in-file position. */
  def startUpsert(spark: SparkSession, prefix: String, targetDir: String,
      checkpointDir: String): StreamingQuery = {
    val sink = new UpsertSink(spark, targetDir)
    sourceWithProvenance(spark, prefix)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink.merge(batch, "_file_order")
        ()
      }
      .start()
  }

  /** Windowed daily rollup with the reference's 30-day late-data
    * horizon as a real watermark (T4): rows more than
    * [[Discovery.HorizonDays]] days behind the max observed event time
    * are dropped, state is bounded. */
  def dailyRollup(spark: SparkSession, prefix: String): DataFrame =
    source(spark, prefix)
      .withColumn("event_time", col("date").cast(TimestampType))
      .withWatermark("event_time", horizon)
      .groupBy(window(col("event_time"), "1 day"), col("client_id"))
      .agg(sum(col("total_consumed_tokens")).as("daily_tokens"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").cast(DateType).as("date"),
        col("client_id"), col("daily_tokens"), col("n_rows"))

  /** Stream-stream interval join: match each left event to right
    * events of the same key within [0, tolerance] AFTER it. Both
    * sides carry watermarks so join state is evicted once the
    * watermark passes the interval bound — the condition every
    * unbounded stream-stream join needs to keep state finite.
    * (Spark requires an event-time bound in the join condition for
    * exactly this reason.) */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, tolerance: String,
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val l = left.withWatermark(leftTime, watermark).alias("l")
    val r = right.withWatermark(rightTime, watermark).alias("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.$rightTime >= l.$leftTime " +
        s"AND r.$rightTime <= l.$leftTime + interval $tolerance"))
  }

  /** Streaming exact deduplication (SURVEY.md §2.11 "exact dedup" in
    * its streaming form): `dropDuplicatesWithinWatermark` on the
    * natural key — duplicate rows arriving within the watermark
    * horizon are suppressed and state older than the horizon is
    * evicted, so dedup state is bounded (the 100 TB requirement; a
    * plain streaming dropDuplicates would grow state forever). */
  def dedupStream(spark: SparkSession, prefix: String): DataFrame =
    source(spark, prefix)
      .withColumn("event_time", col("date").cast(TimestampType))
      .withWatermark("event_time", horizon)
      .dropDuplicatesWithinWatermark("date", "client_id")
}
