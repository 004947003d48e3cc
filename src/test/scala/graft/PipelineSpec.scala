package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.ingest.Pipeline

/** End-to-end batch pipeline against the reference's fixture scenario
  * (SURVEY.md §5.2 "Pipeline end-to-end"): 3-day layout → run →
  * final-table assertions; second run is a no-op; a late-arriving
  * file for a missed date is picked up via the registry. */
class PipelineSpec extends SparkTestBase {

  /** Collect engine log lines emitted while `body` runs. */
  private def capturingLogs[A](body: => A): (A, Seq[(String, String)]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val h = graft.util.Log.addListener((lvl, _, msg) => buf.synchronized { buf += lvl -> msg; () })
    try (body, { val r = buf.synchronized(buf.toSeq); r }) finally h.close()
  }

  private def cfg(base: java.nio.file.Path, today: String) = Pipeline.Config(
    prefix = base.resolve("data").toString,
    checkpointDir = base.resolve("ckpt").toString,
    registryDir = base.resolve("registry").toString,
    targetDir = base.resolve("table").toString,
    defaultDate = "2025_04_30",
    today = LocalDate.parse(today))

  test("full ingest: upserts, churn, mixed formats, null coercion") {
    val base = Fixtures.tempDir("e2e")
    Fixtures.writeLayout(base.resolve("data"))
    val c = cfg(base, "2025-05-04")

    val r1 = Pipeline.run(spark, c)
    assert(r1.processedDates.map(_.toString) ==
      Seq("2025-05-01", "2025-05-02", "2025-05-03"))
    // every fixture row parses and is its own key
    assert((r1.rowsIn, r1.rowsNullDate, r1.rowsUpserted) == ((29L, 0L, 29L)))

    val table = spark.read.parquet(c.targetDir)
    // 8 stable clients x 3 days + CLI009, CLI010 (day1) + CLI011 (day2)
    // + CLI012, CLI013 (day3): distinct (date, client) keys
    assert(table.count() == 29)
    // null tokens coerced to 0 (CLI010, day 1, dd-MMM-yy date row)
    val cli10 = table.filter(col("client_id") === "CLI010").collect()
    assert(cli10.length == 1)
    assert(cli10(0).getAs[Long]("total_consumed_tokens") == 0L)
    assert(cli10(0).getAs[java.sql.Date]("date").toString == "2025-05-01")
    // slash-format date parsed (CLI011 day 2)
    assert(table.filter(col("client_id") === "CLI011")
      .collect()(0).getAs[java.sql.Date]("date").toString == "2025-05-02")
    // distinct dates never collide: CLI001 has one row per day
    assert(table.filter(col("client_id") === "CLI001").count() == 3)
    // audit columns present and active
    assert(table.filter(!col("is_active")).count() == 0)

    // second run: no new files, state unchanged — and the run says so
    // in the log, like the reference (`lambda_handler.py:83`)
    val (r2, logs) = capturingLogs(Pipeline.run(spark, c))
    assert(r2.message == "No new files to process")
    assert(r2.rowsUpserted == 0)
    assert(logs.exists { case (lvl, m) => lvl == "INFO" && m == "No new files to process" })
    assert(logs.exists { case (_, m) => m.startsWith("Last processed date: 2025_05_03") })
  }

  test("handle() wraps runs in the reference's response envelope") {
    val base = Fixtures.tempDir("envelope")
    Fixtures.writeLayout(base.resolve("data"))
    // a second file on day 1: the envelope counts FILES and keeps the
    // duplicate date, like the reference's processed_files list
    Fixtures.writeDay(base.resolve("data"), "2025_05_01",
      Seq(Fixtures.clientRow("2025-05-01", 99, "Z", "9")), "part-1.csv")
    val c = cfg(base, "2025-05-04")

    // …plus a row whose date no format parses
    Fixtures.writeDay(base.resolve("data"), "2025_05_01",
      Seq("not-a-date,CLI098,Client 98,Z,1"), "part-2.csv")
    val (ok, okLogs) = capturingLogs(Pipeline.handle(spark, c))
    assert(ok.statusCode == 200)
    // the run record: fixture rows + CLI099 read, the bad date dropped,
    // one upserted row per distinct key, 05-04 recorded missing
    val record = okLogs.collect { case ("INFO", m) if m.startsWith("{\"event\": \"ingest_run\"") => m }
    assert(record.size == 1)
    assert(record.head.contains(
      "\"files\": 5, \"rows_in\": 31, \"rows_null_date\": 1, \"rows_upserted\": 30, " +
        "\"missing_dates\": [\"2025-05-04\"], \"late_dates\": [], \"phase_ms\": {\"control\": "))
    assert(Seq("discovery", "merge", "commit").forall(p => record.head.contains(s"\"$p\": ")))
    assert(ok.body.contains("\"message\": \"Successfully processed 5 files\""))
    assert(ok.body.contains("\"processed_dates\": " +
      "[\"2025_05_01\", \"2025_05_01\", \"2025_05_01\", \"2025_05_02\", \"2025_05_03\"]"))

    val noop = Pipeline.handle(spark, c)
    assert(noop == Pipeline.Response(200, "\"No new files to process\""))

    // a run that throws (unparseable default date) → 500 error envelope
    val (bad, logs) = capturingLogs(
      Pipeline.handle(spark, c.copy(checkpointDir = base.resolve("ck2").toString,
        defaultDate = "garbage")))
    assert(bad.statusCode == 500)
    assert(bad.body.contains("\"errorType\": \"DateTimeParseException\""))
    assert(logs.exists { case (lvl, m) => lvl == "ERROR" && m.startsWith("Error in pipeline handler:") })
  }

  test("late-arriving file is remembered and ingested when it shows up") {
    val base = Fixtures.tempDir("late")
    val data = base.resolve("data")
    Fixtures.writeDay(data, "2025_05_01", Seq(Fixtures.clientRow("2025-05-01", 1, "A", "1")))
    // 05-02 absent; 05-03 present
    Fixtures.writeDay(data, "2025_05_03", Seq(Fixtures.clientRow("2025-05-03", 1, "A", "3")))
    val c = cfg(base, "2025-05-04")

    val r1 = Pipeline.run(spark, c)
    assert(r1.processedDates.map(_.toString) == Seq("2025-05-01", "2025-05-03"))
    assert(new graft.ingest.LateRegistry(spark, c.registryDir).read()
      .map(_.toString) == Set("2025-05-02", "2025-05-04"))

    // the missing day's file arrives late
    Fixtures.writeDay(data, "2025_05_02", Seq(Fixtures.clientRow("2025-05-02", 1, "A", "2")))
    val r2 = Pipeline.run(spark, c)
    assert(r2.processedDates.map(_.toString) == Seq("2025-05-02"))
    assert(r2.lateDates.map(_.toString) == Seq("2025-05-02"))
    assert(!new graft.ingest.LateRegistry(spark, c.registryDir).read()
      .map(_.toString).contains("2025-05-02"))
    val table = spark.read.parquet(c.targetDir)
    assert(table.count() == 3)
  }

  test("schema-invalid file halts the run; checkpoint covers clean prefix only") {
    val base = Fixtures.tempDir("halt")
    val data = base.resolve("data")
    Fixtures.writeDay(data, "2025_05_01", Seq(Fixtures.clientRow("2025-05-01", 1, "A", "1")))
    // day 2's file is missing required columns
    val dir = data.resolve("consumption_2025_05_02")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("bad.csv"),
      "date,wrong_col\n2025-05-02,oops")
    Fixtures.writeDay(data, "2025_05_03", Seq(Fixtures.clientRow("2025-05-03", 1, "A", "3")))
    val c = cfg(base, "2025-05-04")

    val (r, logs) = capturingLogs(Pipeline.run(spark, c))
    assert(r.processedDates.map(_.toString) == Seq("2025-05-01"))
    assert(r.skippedDates.map(_.toString) == Seq("2025-05-02"))
    assert(logs.exists { case (lvl, m) =>
      lvl == "ERROR" && m.startsWith("Schema violation on 2025-05-02, halting run") })
    assert(logs.exists { case (lvl, m) =>
      lvl == "INFO" && m.startsWith("Processed date 2025-05-01") })
    // halted: 05-03 not processed, checkpoint stuck at 05-01
    val ck = new graft.ingest.Checkpoint(spark, c.checkpointDir, c.defaultDate)
    assert(ck.read().toString == "2025-05-01")
  }

  /** Day 05-01: `part-0.csv` with the standard header and eight rows,
    * beside a smaller second file written by `second`. The larger
    * file's header is the one Spark would take for the whole dataset. */
  private def dayWithSecondFile(tag: String, second: String) = {
    val base = Fixtures.tempDir(tag)
    val data = base.resolve("data")
    Fixtures.writeDay(data, "2025_05_01",
      (1 to 8).map(i => Fixtures.clientRow("2025-05-01", i, "API Gateway", (i * 100).toString)))
    java.nio.file.Files.writeString(
      data.resolve("consumption_2025_05_01").resolve("part-1.csv"), second)
    (base, cfg(base, "2025-05-01"))
  }

  test("per-file headers: a reordered header is read by name; a header-only file adds no rows") {
    val (base, c) = dayWithSecondFile("reorder",
      "client_id,date,total_consumed_tokens,service_name,client_name\n" +
        "CLI020,2025-05-01,2000,Search,Client 20\n" +
        "CLI021,2025-05-01,2100,Vision,Client 21")
    java.nio.file.Files.writeString(
      base.resolve("data/consumption_2025_05_01/part-2.csv"), Fixtures.header + "\n")
    val r = Pipeline.run(spark, c)
    assert(r.processedDates.map(_.toString) == Seq("2025-05-01"))
    val got = spark.read.parquet(c.targetDir)
      .filter(col("client_id").isin("CLI020", "CLI021")).collect()
      .map(row => (row.getAs[String]("client_id"), row.getAs[java.sql.Date]("date").toString,
        row.getAs[String]("client_name"), row.getAs[String]("service_name"),
        row.getAs[Long]("total_consumed_tokens"))).sortBy(_._1).toSeq
    assert(got == Seq(
      ("CLI020", "2025-05-01", "Client 20", "Search", 2000L),
      ("CLI021", "2025-05-01", "Client 21", "Vision", 2100L)))
    assert(spark.read.parquet(c.targetDir).count() == 10)
  }

  test("a file missing columns halts the run and the error names it, beside a complete file") {
    val (_, c) = dayWithSecondFile("partial",
      "date,client_id,client_name,service_name\n2025-05-01,CLI020,Client 20,Search")
    val (r, logs) = capturingLogs(Pipeline.run(spark, c))
    assert(r.processedDates.isEmpty)
    assert(r.skippedDates.map(_.toString) == Seq("2025-05-01"))
    assert(logs.exists { case (lvl, m) =>
      lvl == "ERROR" && m.startsWith("Schema violation on 2025-05-01, halting run") &&
        m.contains("total_consumed_tokens") && m.contains("part-1.csv") })
    assert(!new java.io.File(c.targetDir).exists, "nothing of the day may be loaded")
  }

  test("one new day runs at most 6 Spark jobs, and none after the merge's write") {
    val base = Fixtures.tempDir("jobs")
    Fixtures.writeLayout(base.resolve("data"))
    val c = cfg(base, "2025-05-02")
    Pipeline.run(spark, c) // the table holds 05-01 and 05-02
    val (r, seen) = SparkJobs.record(spark)(
      Pipeline.run(spark, c.copy(today = LocalDate.parse("2025-05-03"))))
    assert(r.processedDates.map(_.toString) == Seq("2025-05-03"))
    val jobs = SparkJobs.jobs(seen).size
    assert(jobs <= 6, s"$jobs jobs: $seen")
    val writes = seen.zipWithIndex.collect { case (SparkJobs.Execution(id, true), i) => id -> i }
    assert(writes.nonEmpty, s"no write execution: $seen")
    val (writeId, at) = writes.last
    assert(seen.drop(at + 1).forall {
        case SparkJobs.Job(exec, _) => exec.contains(writeId)
        case _ => false
      }, s"a job or execution ran after the merge's write: $seen")
  }

  test("checkpoint is monotonic") {
    val base = Fixtures.tempDir("mono")
    val ck = new graft.ingest.Checkpoint(spark, base.resolve("ck").toString, "2025_04_30")
    assert(ck.read().toString == "2025-04-30")
    assert(ck.advance(LocalDate.parse("2025-05-02")))
    assert(!ck.advance(LocalDate.parse("2025-05-01"))) // stale: refused
    assert(!ck.advance(LocalDate.parse("2025-05-02"))) // equal: refused
    assert(ck.read().toString == "2025-05-02")
    assert(ck.advance(LocalDate.parse("2025-05-03")))
    assert(ck.read().toString == "2025-05-03")
  }

  test("registry expires dates beyond the 30-day horizon on commit") {
    val base = Fixtures.tempDir("hz")
    val reg = new graft.ingest.LateRegistry(spark, base.resolve("r").toString)
    reg.add(Set(LocalDate.parse("2025-03-01"), LocalDate.parse("2025-04-20")))
    val left = reg.commit(Set.empty, LocalDate.parse("2025-05-01"))
    assert(left.map(_.toString) == Set("2025-04-20"))
    // a registry that does not parse is a fault, not an empty registry:
    // read, add and commit all throw and the file keeps its bytes
    // (read as ∅, add/commit would overwrite it with the new dates only)
    val bad = base.resolve("bad")
    java.nio.file.Files.createDirectories(bad)
    val file = bad.resolve("missing_dates.txt")
    val bytes = "2025_04_20\nnot-a-date\n".getBytes("UTF-8")
    java.nio.file.Files.write(file, bytes)
    val corrupt = new graft.ingest.LateRegistry(spark, bad.toString)
    val today = LocalDate.parse("2025-05-01")
    intercept[java.time.format.DateTimeParseException](corrupt.read())
    intercept[java.time.format.DateTimeParseException](
      corrupt.add(Set(LocalDate.parse("2025-04-25"))))
    intercept[java.time.format.DateTimeParseException](
      corrupt.commit(Set.empty, today))
    assert(java.nio.file.Files.readAllBytes(file).sameElements(bytes),
      "a failed read must leave the registry file untouched")
  }

  test("the registry writes only on change: a no-op add or commit creates no file") {
    CrashFs.register(spark.sparkContext.hadoopConfiguration)
    val local = Fixtures.tempDir("reg-noop")
    val reg = new graft.ingest.LateRegistry(spark,
      s"${CrashFs.Scheme}://${local.toUri.getPath}")
    val d = LocalDate.parse("2025-04-20")
    // every create fails at its first byte: a write attempt would throw
    CrashFs.crashing(0) {
      assert(reg.add(Set.empty).isEmpty)
      assert(reg.commit(Set.empty, d).isEmpty)
    }
    assert(local.toFile.list().isEmpty, s"a no-op wrote ${local.toFile.list().toSeq}")
    assert(reg.add(Set(d)) === Set(d))
    CrashFs.crashing(0) {
      assert(reg.add(Set(d)) === Set(d))
      assert(reg.commit(Set.empty, d.plusDays(1)) === Set(d))
    }
  }

  test("control-plane writes are atomic: a write killed mid-stream leaves " +
      "the registry and the checkpoint byte-identical") {
    CrashFs.register(spark.sparkContext.hadoopConfiguration)
    val local = Fixtures.tempDir("atomic-ctl")
    val dir = s"${CrashFs.Scheme}://${local.toUri.getPath}"
    def bytes(name: String): Seq[Byte] =
      java.nio.file.Files.readAllBytes(local.resolve(name)).toSeq
    val d = (s: String) => LocalDate.parse(s)
    val reg = new graft.ingest.LateRegistry(spark, dir)
    reg.add(Set(d("2025-04-20"), d("2025-04-22"), d("2025-04-24")))
    val regBytes = bytes("missing_dates.txt")
    intercept[java.io.IOException](CrashFs.crashing(5)(reg.add(Set(d("2025-04-25")))))
    assert(bytes("missing_dates.txt") === regBytes, "a killed add tore the registry")
    intercept[java.io.IOException](
      CrashFs.crashing(5)(reg.commit(Set(d("2025-04-20")), d("2025-05-01"))))
    assert(bytes("missing_dates.txt") === regBytes, "a killed commit tore the registry")
    assert(reg.read() === Set(d("2025-04-20"), d("2025-04-22"), d("2025-04-24")))
    val ckpt = new graft.ingest.Checkpoint(spark, dir, "2025_01_01")
    assert(ckpt.advance(d("2025-05-01")))
    val txt = bytes("last_processed_date.txt")
    val json = bytes("last_processed_date_detailed.json")
    intercept[java.io.IOException](CrashFs.crashing(4)(ckpt.advance(d("2025-05-02"))))
    assert(bytes("last_processed_date.txt") === txt, "a killed advance tore the checkpoint")
    assert(bytes("last_processed_date_detailed.json") === json)
    // the torn file would read back as the default date, not 05-01
    assert(ckpt.read() === d("2025-05-01"))
    assert(ckpt.advance(d("2025-05-02")) && ckpt.read() === d("2025-05-02"))
  }
}
