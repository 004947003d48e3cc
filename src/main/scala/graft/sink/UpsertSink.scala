package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Consumption

/** Keyed last-writer-wins upsert sink (SURVEY.md §2.1 S7, §2.4 A5,
  * §2.9 T5): the reference's `INSERT … ON CONFLICT (date, client_id)
  * DO UPDATE` re-expressed relationally.
  *
  * Target is a `date=`-partitioned parquet table (Hive layout, same
  * convention as [[PartitionedWriter]]). Every Spark job of a merge is
  * sized by the batch, not the table: the batch is scanned once (its
  * dates and row counts come from an observation on that scan), the
  * existing side is read from the batch's own `date=` directories with
  * the sink's known schema (no table listing, no footer inference; no
  * read at all when none of them exists yet), one aggregation dedups
  * and merges in a single shuffle, and only the batch's partitions are
  * rewritten, via dynamic partition overwrite. The written row counts
  * come from an observation on the write itself. Untouched partitions'
  * files are never listed, opened or rewritten. Re-running the same
  * batch converges to the same state (idempotent `foreachBatch` retry
  * — the standard Spark exactly-once-sink recipe); partition
  * replacement goes through Spark's staging-directory commit protocol,
  * not a delete-then-rename of the live table. On a real deployment
  * the same `merge` body targets Delta/Iceberg `MERGE INTO` or a JDBC
  * batched upsert; the last-writer-wins semantics (and their tests)
  * stay identical.
  *
  * Audit semantics (`src/db_operations.py:77-91`): `created_at` is
  * preserved from the first insert of a key, `updated_at` reflects
  * the merge that last touched it, `is_active` is true.
  */
final class UpsertSink(spark: SparkSession, targetDir: String) {
  import UpsertSink._

  private def fs = new Path(targetDir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new Path(targetDir))

  /** Current table state (empty, correctly-typed frame when absent). */
  def read(): DataFrame =
    if (exists) scan(Seq(targetDir))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Consumption.sinkSchema)

  /** The table's rows under `dirs` (the table root or its `date=`
    * directories), read with the sink schema: `date` comes from the
    * directory names, typed by that schema, and no parquet footer is
    * read to infer a schema. */
  private def scan(dirs: Seq[String]): DataFrame =
    spark.read.schema(Consumption.sinkSchema).option("basePath", targetDir)
      .parquet(dirs: _*)
      .select(Consumption.sinkSchema.fieldNames.map(col): _*)

  /** Merge a possibly-duplicated batch: per key the row with the
    * greatest `orderCol` wins within the batch (deterministic, never
    * `dropDuplicates` — SURVEY.md §7.5), and batch rows beat existing
    * rows.
    *
    * `orderCol` may be either an auxiliary column (ingest sequence /
    * file offset — not written, since the sink schema has no home for
    * it) or one of the sink's own value columns (e.g.
    * `total_consumed_tokens`), which is written as usual. */
  def merge(batch: DataFrame, orderCol: String): Merged = {
    val now = current_timestamp()
    val incoming = batch
      .select(Consumption.schema.fieldNames.map(col) :+ col(orderCol).as("_ord"): _*)
      .withColumn("created_at", now)
      .withColumn("updated_at", now)
      .withColumn("is_active", lit(true))
      .withColumn("_src", lit(1))
      // Scanned by the observed pass below and again by the write:
      // persist so the input (CSV parse) runs once per merge.
      .persist()
    try mergePersisted(incoming)
    finally {
      incoming.unpersist()
      ()
    }
  }

  private def mergePersisted(incoming: DataFrame): Merged = {
    // One pass over the batch fills the cache and observes its dates.
    // The distinct dates are bounded by the batch's day span (a
    // handful), never by table or batch row count.
    val seen = Observation()
    incoming.observe(seen,
        collect_set(col("date").cast("string")).as("dates"),
        count_if(col("date").isNull).as("null_dates"))
      .write.format("noop").mode("overwrite").save()
    val metrics = seen.get
    // `date` is part of the natural key (NOT NULL in the reference's
    // Postgres PK) and the partition column: a NULL-date row has no
    // partition to merge into, so reject rather than corrupt.
    require(metrics("null_dates") == 0L, "upsert batch contains NULL date rows")
    val dates = metrics("dates").asInstanceOf[Seq[String]].sorted
    if (dates.isEmpty) return Merged(0L, 0L)

    val batchDirs = dates.map(d => s"$targetDir/date=$d").filter(d => fs.exists(new Path(d)))
    val union =
      if (batchDirs.isEmpty) incoming
      else {
        // Eager localCheckpoint severs the merged plan's lineage from
        // the live table's files BEFORE the overwrite job runs against
        // the same directory. Dynamic partition overwrite already
        // stages-and-swaps (no delete-before-scan window), but that
        // safety hangs on the per-write option below surviving every
        // future refactor; if a static overwrite ever took effect, the
        // table would be deleted before the scan ran. Materializing
        // the touched partitions here — bounded by the batch's date
        // span, never table size — makes the self-overwrite safe under
        // either mode.
        val existing = scan(batchDirs).localCheckpoint(true)
          .withColumn("_ord", lit(null).cast(incoming.schema("_ord").dataType))
          .withColumn("_src", lit(0))
        existing.unionByName(incoming)
      }
    // One aggregation dedups the batch and merges it with the table:
    // per key the greatest (`_src`, `_ord`) wins — `_src` puts every
    // batch row above the table's one existing row, `_ord` orders the
    // batch rows (last writer). Partial aggregation collapses a hot
    // key map-side before the single shuffle, so no task receives
    // all of a key's rows. `created_at` folds over the same shuffle
    // (MIN over both sides — oldest insert wins).
    val values = Consumption.sinkSchema.fieldNames.filterNot(_ == "created_at") :+ "_src"
    val written = Observation()
    val merged = union
      .groupBy(Consumption.key.map(col): _*)
      .agg(
        max_by(struct(values.map(col): _*), struct(col("_src"), col("_ord"))).as("_row"),
        min(col("created_at")).as("_created"))
      .observe(written, count(lit(1)).as("rows"), sum(col("_row._src")).as("upserted"))
      .select(Consumption.sinkSchema.fieldNames.map(c =>
        (if (c == "created_at") col("_created") else col("_row").getField(c)).as(c)): _*)
    // Dynamic partition overwrite: only the date= directories present
    // in `merged` are replaced, through the committer's staging dir —
    // no window where the live table is deleted.
    PartitionedWriter.write(merged, targetDir)
    val w = written.get
    Merged(w("rows").asInstanceOf[Long], w("upserted").asInstanceOf[Long])
  }
}

object UpsertSink {

  /** What one merge wrote: `partitionRows` rows in the rewritten
    * `date=` partitions, `upserted` of them from the batch (keys
    * inserted or updated — the reference's `rows_inserted`, SURVEY.md
    * A3). Both 0 for an empty batch, which writes nothing. */
  final case class Merged(partitionRows: Long, upserted: Long)
}
