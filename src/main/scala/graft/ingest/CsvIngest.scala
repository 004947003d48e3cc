package graft.ingest

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Consumption

/** Validated CSV read + parse for consumption files (SURVEY.md
  * §2.1 S4, §2.2 P1-P5).
  *
  * Split into explicit, separately-testable stages mirroring the
  * reference's behavior:
  *  - read: each file's header is read on the driver and the file is
  *    read by name against it, every field a string, so there are no
  *    type-level corrupt records at this stage — a short row
  *    null-pads, a long row truncates (same as pandas' tolerant read
  *    the reference relies on, `src/s3_processor.py:108-110`); an
  *    UNREADABLE file (I/O) throws and skips the file's date (E1/E3 in
  *    Pipeline). Malformed VALUES are handled semantically downstream:
  *    bad dates drop in [[ingest]]'s null filter, bad token counts
  *    coerce to 0;
  *  - validate: reject a file whose header lacks expected columns
  *    (`src/db_operations.py:68-72`) — the file fails, not the row.
  *    Checked per file, so one file's header never stands in for
  *    another's;
  *  - parse: multi-format date chain (`dd-MMM-yy` first, then ISO,
  *    then slash — `src/s3_processor.py:94-104`) and null→0 token
  *    coercion (`src/db_operations.py:90`).
  */
object CsvIngest {

  /** P2: a file whose header lacks expected columns. `file` names it
    * (empty when the check runs on a frame rather than a file). */
  final case class SchemaViolation(missing: Seq[String], file: String = "")
    extends RuntimeException(s"missing expected columns: ${missing.mkString(", ")}" +
      (if (file.isEmpty) "" else s" in $file"))

  /** The header line of `path`, split by the CSV quoting rules of
    * Spark's own reader (the parser settings its header check uses).
    * Read on the driver through the Hadoop FS, the way [[Checkpoint]]
    * reads its value: one line per file, no Spark job. An empty file
    * has no columns. */
  private def header(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val in = new BufferedReader(new InputStreamReader(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p), StandardCharsets.UTF_8))
    val line = try Option(in.readLine()) finally in.close()
    line.map(l => headerParser.parseLine(l.stripPrefix("\uFEFF")).toSeq.map(Option(_).getOrElse("")))
      .getOrElse(Nil)
  }

  private def headerParser =
    new CsvParser(new CSVOptions(Map.empty[String, String], false, "UTC").asParserSettings)

  /** Read raw: the expected columns as strings, selected BY NAME from
    * each file's own header, plus `extra` columns computed at the scan
    * (they may use the file source's `_metadata`). Files are grouped
    * by header; each group is read with an explicit all-string schema
    * in that header's order and `enforceSchema=false`, so Spark checks
    * every file's header against it and nothing is mapped by position
    * and no schema-inference job runs. P2: a file whose header lacks
    * an expected column fails the read with [[SchemaViolation]] naming
    * the file; a header-only file contributes no rows. */
  def readRaw(spark: SparkSession, paths: Seq[String],
      extra: Seq[Column] = Nil): DataFrame = {
    val byHeader = paths.groupBy(header(spark, _)).toSeq.sortBy(_._2.head)
    for ((hdr, files) <- byHeader) {
      val missing = Consumption.expectedColumns.filterNot(hdr.contains)
      if (missing.nonEmpty) throw SchemaViolation(missing, files.head)
    }
    byHeader.map { case (hdr, files) =>
      spark.read
        .option("header", "true")
        .option("enforceSchema", "false")
        .schema(StructType(hdr.map(StructField(_, StringType))))
        .csv(files: _*)
        .select(Consumption.expectedColumns.map(col) ++ extra: _*)
    }.reduce(_ union _)
  }

  /** P2: fail when expected columns are missing. */
  def validateColumns(df: DataFrame): DataFrame = {
    val missing = Consumption.expectedColumns.filterNot(df.columns.contains)
    if (missing.nonEmpty) throw SchemaViolation(missing)
    df
  }

  /** P4: the reference's try-dd-MMM-first parse chain, null on miss. */
  def parseDate(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(
      call_function("try_to_timestamp", c, lit("dd-MMM-yy")),
      call_function("try_to_timestamp", c, lit("yyyy-MM-dd")),
      call_function("try_to_timestamp", c, lit("yyyy/MM/dd"))).cast(DateType)

  /** P1/P3/P4: project to the expected 5 columns with typed values;
    * `extra` columns (e.g. a provenance struct) pass through as-is. */
  def parse(df: DataFrame, extra: Seq[String] = Nil): DataFrame =
    validateColumns(df).select(
      parseDate(col("date")).as("date") +:
      col("client_id") +:
      col("client_name") +:
      col("service_name") +:
      coalesce(expr("try_cast(total_consumed_tokens AS BIGINT)"), lit(0L))
        .as("total_consumed_tokens") +:
      extra.map(col): _*)

  /** Full stage: read, validate, parse, drop rows with an unparseable
    * key (date null after all formats — the reference leaves them as
    * strings with a warning and they then fail the SQL insert; here
    * the row is filtered, the file continues). */
  def ingest(spark: SparkSession, paths: Seq[String]): DataFrame =
    parse(readRaw(spark, paths)).filter(col("date").isNotNull)

  /** As [[ingest]], plus a `_file_order` provenance column
    * (modification time, then path — the reference's `last_modified`
    * tiebreak, `src/s3_processor.py:65` — then position WITHIN the
    * file) for deterministic last-writer-wins across AND within files
    * of one batch. The reference iterates a file's rows in order and
    * later upserts overwrite, so the file's last duplicate wins; the
    * in-file position (`monotonically_increasing_id` taken at the
    * scan, before any shuffle) reproduces that — exact when a file
    * maps to one split (every fixture and any sanely-sized CSV), and
    * stable for a fixed `maxPartitionBytes` otherwise.
    *
    * `counts`, when given, observes `rows_in` (rows read) and
    * `rows_null_date` (rows dropped for an unparseable date) on
    * whichever job first scans the files: it adds no job. */
  def ingestWithProvenance(spark: SparkSession, paths: Seq[String],
      counts: Option[Observation] = None): DataFrame = {
    val parsed = parse(
      readRaw(spark, paths, Seq(struct(
        col("_metadata").getField("file_modification_time").as("mtime"),
        col("_metadata").getField("file_path").as("path"),
        monotonically_increasing_id().as("pos")).as("_file_order"))),
      extra = Seq("_file_order"))
    counts.fold(parsed)(parsed.observe(_,
        count(lit(1)).as("rows_in"), count_if(col("date").isNull).as("rows_null_date")))
      .filter(col("date").isNotNull)
  }
}
