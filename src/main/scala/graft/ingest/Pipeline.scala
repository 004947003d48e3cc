package graft.ingest

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}

import graft.sink.UpsertSink
import graft.util.Log

/** Batch orchestration of the full reference pipeline (SURVEY.md §3:
  * `lambda_handler` → discover → process → checkpoint), one run =
  * one incremental scan (the reference's polling trigger T1).
  *
  * Error semantics follow SURVEY.md §2.10's spec-vs-bug decisions:
  *  - unreadable file → skipped, date NOT processed, run continues (E1/E3);
  *  - schema-invalid file → halt the remainder of the run (E2's
  *    intent, without its tuple-unpack accident);
  *  - per-date-group merge is all-or-nothing (E4);
  *  - late-registry entries are removed only after their date's merge
  *    commits (E6 fixed);
  *  - checkpoint advances to max(processed), monotonic (A2), only
  *    when every earlier candidate date succeeded (T6 prefix
  *    invariant: a failed date blocks the checkpoint from skipping
  *    past it).
  */
object Pipeline {

  final case class Config(
      prefix: String,
      checkpointDir: String,
      registryDir: String,
      targetDir: String,
      defaultDate: String,
      today: LocalDate,
      horizonDays: Int = Discovery.HorizonDays)

  final case class RunResult(
      message: String,
      processedDates: Seq[LocalDate],
      skippedDates: Seq[LocalDate],
      /** Batch keys written (inserted or updated), summed over the
        * run's merges — the reference's `rows_inserted` (SURVEY.md A3). */
      rowsUpserted: Long,
      /** One entry per successfully processed FILE (its date), in
        * processing order — the reference's `processed_files` list
        * (`src/db_operations.py:33,54`), which keeps duplicates when
        * a date has several files. */
      processedFiles: Seq[LocalDate],
      /** Rows read from the processed dates' files, and how many of
        * them were dropped for an unparseable date. */
      rowsIn: Long,
      rowsNullDate: Long,
      /** Dates recorded missing this run, and late dates (from the
        * registry) processed this run. */
      missingDates: Seq[LocalDate],
      lateDates: Seq[LocalDate],
      /** Wall milliseconds per phase, in run order. */
      phaseMs: Seq[(String, Long)]) {

    /** The run record: one JSON line of where the run's rows and time
      * went. Every count comes from observations on jobs the run
      * already ran. */
    def record: String = {
      def dates(ds: Seq[LocalDate]) = ds.map(d => jstr(d.toString)).mkString("[", ", ", "]")
      val phases = phaseMs.map { case (p, ms) => s"${jstr(p)}: $ms" }.mkString("{", ", ", "}")
      s"""{"event": "ingest_run", "files": ${processedFiles.size}, "rows_in": $rowsIn, """ +
        s""""rows_null_date": $rowsNullDate, "rows_upserted": $rowsUpserted, """ +
        s""""missing_dates": ${dates(missingDates)}, "late_dates": ${dates(lateDates)}, """ +
        s""""phase_ms": $phases}"""
    }
  }

  /** HTTP-shaped response envelope (reference contract:
    * `/root/reference/src/lambda_handler.py:79-102` — 200 + JSON body
    * on success or no-op, error envelope when the run throws; the
    * reference re-raises and its platform wraps the error, here the
    * envelope is produced directly). */
  final case class Response(statusCode: Int, body: String)

  private val log = Log("graft.ingest.Pipeline")
  private def jstr(s: String): String = graft.util.Json.str(s)

  /** Run with the reference's handler semantics: log the run's
    * progress and wrap the result (`lambda_handler.py:37-106`). Logs
    * the run record ([[RunResult.record]]) as one JSON line. */
  def handle(spark: SparkSession, cfg: Config): Response = {
    Log.init()
    try {
      val r = run(spark, cfg)
      log.info(r.record)
      if (r.processedDates.isEmpty && r.skippedDates.isEmpty)
        Response(200, jstr(r.message))
      else {
        // one entry per FILE, processing order, duplicates kept —
        // exactly the reference's processed_files list
        val dates = r.processedFiles
          .map(d => jstr(d.format(java.time.format.DateTimeFormatter.ofPattern("yyyy_MM_dd"))))
          .mkString("[", ", ", "]")
        Response(200,
          s"""{"message": ${jstr(s"Successfully processed ${r.processedFiles.size} files")}, "processed_dates": $dates}""")
      }
    } catch {
      case e: Exception =>
        log.error(s"Error in pipeline handler: ${e.getMessage}")
        Response(500,
          s"""{"errorMessage": ${jstr(String.valueOf(e.getMessage))}, "errorType": ${jstr(e.getClass.getSimpleName)}}""")
    }
  }

  def run(spark: SparkSession, cfg: Config): RunResult = {
    val checkpoint = new Checkpoint(spark, cfg.checkpointDir, cfg.defaultDate)
    val registry = new LateRegistry(spark, cfg.registryDir, cfg.horizonDays)
    val sink = new UpsertSink(spark, cfg.targetDir)
    val phaseMs = mutable.LinkedHashMap.empty[String, Long]
    def timed[A](phase: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body
      finally phaseMs(phase) = phaseMs.getOrElse(phase, 0L) + (System.nanoTime() - t0) / 1000000
    }

    val (ckpt, late) = timed("control") {
      val c = checkpoint.read()
      log.info(s"Last processed date: ${checkpoint.format(c)}")
      (c, registry.read())
    }
    val disc = timed("discovery")(Discovery.discover(spark, cfg.prefix, ckpt, cfg.today, late))
    val missing = disc.missingDates.toSeq.sorted
    timed("control")(registry.add(disc.missingDates))
    if (missing.nonEmpty)
      log.info(s"Recorded ${missing.size} missing date(s)")

    if (disc.files.isEmpty) {
      log.info("No new files to process")
      return RunResult("No new files to process", Nil, Nil, 0L, Nil, 0L, 0L, missing, Nil,
        phaseMs.toSeq)
    }
    log.info(s"Found ${disc.files.size} files to process")

    val byDate = disc.files.groupBy(_.date).toSeq.sortBy(_._1)
    var processed = Vector.empty[LocalDate]
    var processedFiles = Vector.empty[LocalDate]
    var skipped = Vector.empty[LocalDate]
    var rowsIn, rowsNullDate, rowsUpserted = 0L
    var halted = false
    for ((date, files) <- byDate if !halted) timed("merge") {
      try {
        val counts = Observation()
        val batch = CsvIngest.ingestWithProvenance(spark, files.map(_.path), Some(counts))
        val merged = sink.merge(batch, "_file_order")
        val read = counts.get
        rowsIn += read("rows_in").asInstanceOf[Long]
        rowsNullDate += read("rows_null_date").asInstanceOf[Long]
        rowsUpserted += merged.upserted
        processed :+= date
        processedFiles ++= files.map(_ => date)
        log.info(s"Processed date $date (${files.size} file(s)); " +
          s"${merged.partitionRows} row(s) in touched partition(s)")
      } catch {
        case e: CsvIngest.SchemaViolation =>
          // E2 intent: schema-invalid file halts the rest of the run.
          log.error(s"Schema violation on $date, halting run: ${e.getMessage}")
          skipped :+= date
          halted = true
        case e: Exception =>
          // E1/E3: unreadable file — skip this date, continue.
          log.warn(s"Skipping date $date: ${e.getMessage}")
          skipped :+= date
      }
    }

    timed("commit") {
      // T6: checkpoint covers only the clean prefix of candidate dates —
      // a skipped date caps how far the checkpoint may advance.
      val firstSkipped = skipped.sorted.headOption
      val advanceTo = firstSkipped match {
        case Some(bad) => processed.filter(_.isBefore(bad)).sorted.lastOption
        case None => processed.sorted.lastOption
      }
      advanceTo.foreach(checkpoint.advance)
      registry.commit(processed.toSet, cfg.today)
    }

    RunResult(s"Processed ${processed.size} date(s)", processed, skipped, rowsUpserted,
      processedFiles, rowsIn, rowsNullDate, missing, processed.filter(late.contains),
      phaseMs.toSeq)
  }
}
