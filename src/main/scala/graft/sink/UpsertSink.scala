package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.model.Consumption

/** Keyed last-writer-wins upsert sink (SURVEY.md §2.1 S7, §2.4 A5,
  * §2.9 T5): the reference's `INSERT … ON CONFLICT (date, client_id)
  * DO UPDATE` re-expressed relationally.
  *
  * Target is a `date=`-partitioned parquet table (Hive layout, same
  * convention as [[PartitionedWriter]]). A merge reads ONLY the
  * partitions whose dates appear in the batch and rewrites ONLY those
  * via dynamic partition overwrite — per-merge cost scales with the
  * batch's date span, not the table size, which is what survives a
  * 100 TB table taking daily batches. Untouched partitions' files are
  * never opened or rewritten. Re-running the same batch converges to
  * the same state (idempotent `foreachBatch` retry — the standard
  * Spark exactly-once-sink recipe); partition replacement goes through
  * Spark's staging-directory commit protocol, not a delete-then-rename
  * of the live table. On a real deployment the same `merge` body
  * targets Delta/Iceberg `MERGE INTO` or a JDBC batched upsert; the
  * windowed-dedup semantics (and its tests) stay identical.
  *
  * Audit semantics (`src/db_operations.py:77-91`): `created_at` is
  * preserved from the first insert of a key, `updated_at` reflects
  * the merge that last touched it, `is_active` is true.
  */
final class UpsertSink(spark: SparkSession, targetDir: String) {

  private def fs = new Path(targetDir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new Path(targetDir))

  /** Current table state (empty, correctly-typed frame when absent).
    * The partitioned read re-infers `date` from directory names; cast
    * + reorder pins the exact sink schema regardless of layout. */
  def read(): DataFrame =
    if (exists)
      spark.read.parquet(targetDir)
        .withColumn("date", col("date").cast(DateType))
        .select(Consumption.sinkSchema.fieldNames.map(col): _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Consumption.sinkSchema)

  /** A5: deterministic last-writer-wins within a batch: one row per
    * key, greatest `orderCol` wins (never `dropDuplicates`, which is
    * order-nondeterministic — SURVEY.md §7.5).
    *
    * Skew note: the window shuffles EVERY row of a key to one task
    * and sorts there — fine for the realistic many-keys batch, but a
    * 90%-one-key batch concentrates in a single task, and AQE cannot
    * split a window partition (the semantics need all of a key's
    * rows together). [[dedupBatchAgg]] is the skew-immune equivalent
    * used under hot-key pressure; PLANS.md ("Hot-key skew") records
    * both at 2M rows. */
  def dedupBatch(batch: DataFrame, orderCol: String): DataFrame = {
    val w = Window.partitionBy(Consumption.key.map(col): _*)
      .orderBy(col(orderCol).desc)
    batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Skew-immune last-writer-wins: argmax by `orderCol` as a
    * `max_by(struct(*), orderCol)` aggregation instead of a window.
    * Partial aggregation combines map-side, so a hot key collapses
    * to ONE row per input partition before the shuffle — the hot
    * task receives ~nPartitions rows, not 90% of the batch. Same
    * result as [[dedupBatch]] whenever `orderCol` is unique per key
    * (the sink always passes a strictly ordering column: ingest
    * sequence / event id); under orderCol ties both variants pick an
    * arbitrary-but-single winner. Preferred at scale; kept alongside
    * the window form because the window generalises to top-k>1 and
    * running audits where the aggregate does not. */
  def dedupBatchAgg(batch: DataFrame, orderCol: String): DataFrame = {
    val cols = batch.columns
    batch.groupBy(Consumption.key.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), col(orderCol)).as("_row"))
      .select(cols.map(c => col("_row").getField(c).as(c)): _*)
  }

  /** Merge a possibly-duplicated batch: applies the skew-immune
    * [[dedupBatchAgg]] (greatest `orderCol` wins per key) before the
    * keyed merge — the safe entry point when the caller cannot
    * guarantee one-row-per-key. Same cost shape as dedup-then-merge
    * by hand: one extra map-side-combining aggregation.
    *
    * `orderCol` may be either an auxiliary column (ingest sequence /
    * file offset — dropped after dedup, since the sink schema has no
    * home for it) or one of the sink's own value columns (e.g.
    * `total_consumed_tokens`) — the latter is kept: dropping a schema
    * column here would silently lose its data from the merged rows. */
  def merge(batch: DataFrame, orderCol: String): Long = {
    val deduped = dedupBatchAgg(batch, orderCol)
    merge(if (Consumption.schema.fieldNames.contains(orderCol)) deduped
          else deduped.drop(orderCol))
  }

  /** Merge a PRE-DEDUPLICATED batch: batch rows beat existing rows
    * per key; `created_at` keeps the oldest value seen for the key.
    * One aggregation over the union — a single shuffle on the natural
    * key — but the union's existing side is pruned to the batch's date
    * partitions, and only those partitions are rewritten. The distinct
    * dates are collected to the driver: bounded by the batch's day
    * span (a handful), never by table or batch row count.
    *
    * CONTRACT: at most one row per natural key. The union-dedup's
    * `max_by(_src)` argmax is deterministic ONLY under that invariant
    * (per key: one table row `_src=0`, one batch row `_src=1`); a
    * duplicated batch silently keeps an arbitrary row per key. Callers
    * with raw batches use [[merge(batch:DataFrame,orderCol:String)*]],
    * which dedups deterministically first. */
  def merge(batch: DataFrame): Long = {
    val now = current_timestamp()
    val incoming = batch
      .select(Consumption.schema.fieldNames.map(col): _*)
      .withColumn("created_at", now)
      .withColumn("updated_at", now)
      .withColumn("is_active", lit(true))
      .withColumn("_src", lit(1))
      // The date-collect job below and the write job would otherwise
      // each recompute the full upstream batch (CSV parse + dedup
      // window) — persist so the input is scanned once per merge.
      .persist()
    try {
      mergePersisted(incoming)
    } finally {
      incoming.unpersist()
      ()
    }
  }

  private def mergePersisted(incoming: DataFrame): Long = {
    val dates = incoming.select("date").distinct().collect()
      .map(_.getDate(0))
    // `date` is part of the natural key (NOT NULL in the reference's
    // Postgres PK) and the partition column: isin(null) silently never
    // matches existing rows, so reject rather than corrupt.
    require(!dates.contains(null), "upsert batch contains NULL date rows")
    if (dates.isEmpty) return tableCount()
    // Eager localCheckpoint severs the merged plan's lineage from the
    // live table's files BEFORE the overwrite job runs against the same
    // directory. Dynamic partition overwrite already stages-and-swaps
    // (no delete-before-scan window), but that safety hangs on the
    // per-write option below surviving every future refactor; if a
    // static overwrite ever took effect, the table would be deleted
    // before the scan ran. Materializing the touched partitions here —
    // bounded by the batch's date span, never table size — makes the
    // self-overwrite safe under either mode.
    val existing = read()
      .filter(col("date").isin(dates.toIndexedSeq: _*)) // partition-pruned scan
      .withColumn("_src", lit(0))
      .localCheckpoint(true)
    // Skew-immune union-dedup (the [[dedupBatchAgg]] shape, VERDICT
    // r6 #2): per key the union holds at most two rows with DISTINCT
    // `_src` values (batch is pre-deduplicated to one row per key,
    // the table invariantly holds one) — so `max_by(…, _src)` is a
    // deterministic unique argmax, and partial aggregation collapses
    // a hot key map-side before the shuffle, where the old
    // `row_number()` window funneled every row of a key into one
    // task. `created_at` folds as a second aggregate over the same
    // shuffle (MIN over both rows — oldest insert wins), replacing
    // the second window pass.
    val union = existing.unionByName(incoming)
    val cols = union.columns
    val merged = union
      .groupBy(Consumption.key.map(col): _*)
      .agg(
        max_by(struct(cols.map(col): _*), col("_src")).as("_row"),
        min(col("created_at")).as("_created"))
      .select(cols.filterNot(_ == "_src").map(c =>
        (if (c == "created_at") col("_created") else col("_row").getField(c)).as(c)): _*)
    // Dynamic partition overwrite: only the date= directories present
    // in `merged` are replaced, through the committer's staging dir —
    // no window where the live table is deleted. Scoped per-write so
    // the session's static-overwrite default is untouched for callers.
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date").parquet(targetDir)
    // Return the row count of the TOUCHED partitions only (partition-
    // pruned, footer-only) — a whole-table count would list every
    // file of the table on every merge, growing per-merge cost with
    // table age instead of batch span. Whole-table observability is
    // one read().count() per RUN (Pipeline) or on demand.
    spark.read.parquet(targetDir)
      .filter(col("date").cast(DateType).isin(dates.toIndexedSeq: _*))
      .count()
  }

  /** Table row count — a metadata-only scan (parquet footer row
    * counts; no data pages read), but it LISTS the whole table: call
    * once per run, not per merge. */
  private def tableCount(): Long =
    if (exists) spark.read.parquet(targetDir).count() else 0L
}
