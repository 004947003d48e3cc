package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.streaming.IngestStream

/** Structured Streaming pipeline (T1-T6): file source over the
  * fixture layout, AvailableNow trigger, foreachBatch keyed upsert,
  * checkpointed incremental restart, windowed rollup. */
class StreamingSpec extends SparkTestBase {

  test("streaming upsert: ingests all days, restart is incremental (T1/T2/T5)") {
    val base = Fixtures.tempDir("stream")
    val data = base.resolve("data")
    Fixtures.writeLayout(data)
    val target = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString

    val q1 = IngestStream.startUpsert(spark, data.toString, target, ckpt)
    q1.awaitTermination()
    val t1 = spark.read.parquet(target)
    assert(t1.count() == 29) // same final state as the batch pipeline
    assert(t1.filter(col("client_id") === "CLI010")
      .collect()(0).getAs[Long]("total_consumed_tokens") == 0L)

    // restart with no new files: offsets WAL says nothing to do
    val q2 = IngestStream.startUpsert(spark, data.toString, target, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(target).count() == 29)

    // a late file arrives (out of date order — T3: no registry needed)
    Fixtures.writeDay(data, "2025_04_28",
      Seq(Fixtures.clientRow("2025-04-28", 1, "Late", "42")))
    val q3 = IngestStream.startUpsert(spark, data.toString, target, ckpt)
    q3.awaitTermination()
    val t3 = spark.read.parquet(target)
    assert(t3.count() == 30)
    assert(t3.filter(col("date") === "2025-04-28").count() == 1)
  }

  test("streaming upsert: cross-file conflict resolves by file mtime, not layout (T5)") {
    val base = Fixtures.tempDir("streamorder")
    val data = base.resolve("data")
    // Conflicting key in two files of ONE micro-batch. The newer file is
    // lexicographically SMALLER, so path/listing order disagrees with
    // mtime order — last-writer-wins must follow mtime (the batch
    // path's _file_order), not partition/file layout.
    Fixtures.writeDay(data, "2025_05_01",
      Seq(Fixtures.clientRow("2025-05-01", 1, "Old", "999")), "z-first.csv")
    Thread.sleep(1100) // cross fs mtime granularity
    Fixtures.writeDay(data, "2025_05_01",
      Seq(Fixtures.clientRow("2025-05-01", 1, "New", "7")), "a-second.csv")
    val target = base.resolve("table").toString
    val q = IngestStream.startUpsert(spark, data.toString, target,
      base.resolve("ckpt").toString)
    q.awaitTermination()
    val rows = spark.read.parquet(target).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("total_consumed_tokens") == 7L,
      "newer-mtime file must win the keyed upsert")
  }

  test("streaming exact dedup within watermark bounds state") {
    val base = Fixtures.tempDir("sdedup")
    val data = base.resolve("data")
    // same (date, client) key appears twice within one day's files
    Fixtures.writeDay(data, "2025_05_01",
      Seq(Fixtures.clientRow("2025-05-01", 1, "A", "1"),
        Fixtures.clientRow("2025-05-01", 1, "B", "2"),
        Fixtures.clientRow("2025-05-01", 2, "C", "3")))
    val q = IngestStream.dedupStream(spark, data.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup_t")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("sdedup_t")
    assert(out.count() == 2) // CLI001 deduped, CLI002 kept
    assert(out.filter(col("client_id") === "CLI001").count() == 1)
  }

  test("watermarked dedup: stream agrees with the batch first-seen-within-horizon rule") {
    // Cross-check of the T4 semantics against its BATCH TWIN (the
    // q_watermark_dedup rule): keys kept by the stream across two
    // micro-batch runs — each carrying one too-late file, the second
    // also one in-horizon file — must equal the batch rule's key set
    // (rows within 30 days of the max observed event time, one per
    // key) computed over the same CSV fixture.
    val base = Fixtures.tempDir("wmdedup")
    val data = base.resolve("data")
    val ckpt = base.resolve("ckpt").toString
    // foreachBatch sink: the memory sink cannot RESUME from a
    // checkpoint, and this test's whole point is the watermark
    // surviving the restart between run 1 and run 2
    def runOnce(tag: String): Set[(String, String)] = {
      val outDir = base.resolve(s"out_$tag").toString
      val q = IngestStream.dedupStream(spark, data.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("date", "client_id").write.mode("append").parquet(outDir)
          ()
        }
        .start()
      q.awaitTermination()
      if (!new java.io.File(outDir).exists) Set.empty
      else spark.read.parquet(outDir).collect()
        .map(r => (r.get(0).toString, r.getString(1))).toSet
    }
    // run 1: recent days (incl. an in-batch duplicate key) — advances
    // the persisted watermark to 2025-05-02 minus 30 days — plus a day
    // 43 days behind them: batch 0 has no watermark yet, so only the
    // source's horizon keeps that day out
    Fixtures.writeDay(data, "2025_05_01",
      Seq(Fixtures.clientRow("2025-05-01", 1, "A", "1"),
        Fixtures.clientRow("2025-05-01", 1, "B", "2")))
    Fixtures.writeDay(data, "2025_05_02",
      Seq(Fixtures.clientRow("2025-05-02", 2, "C", "3")))
    Fixtures.writeDay(data, "2025_03_20",
      Seq(Fixtures.clientRow("2025-03-20", 5, "F", "6")))
    val kept1 = runOnce("wmdedup_t1")
    // run 2: a 62-days-late file (behind the restored watermark →
    // dropped) plus an in-horizon file (kept)
    Fixtures.writeDay(data, "2025_03_01",
      Seq(Fixtures.clientRow("2025-03-01", 3, "D", "4")))
    Fixtures.writeDay(data, "2025_04_15",
      Seq(Fixtures.clientRow("2025-04-15", 4, "E", "5")))
    val kept2 = runOnce("wmdedup_t2")

    // batch twin over the SAME files: horizon filter then one row per
    // key — the exact rule q_watermark_dedup hash-gates on events
    val parsed = graft.ingest.CsvIngest.parse(
        spark.read.option("header", "true")
          .schema(graft.model.Consumption.rawSchema)
          .csv(s"$data/consumption_*"))
      .filter(col("date").isNotNull)
    val cut = parsed.agg(date_sub(max(col("date")), 30).as("cut"))
    val expected = parsed.crossJoin(broadcast(cut))
      .filter(col("date") >= col("cut"))
      .select("date", "client_id").distinct()
      .collect().map(r => (r.get(0).toString, r.getString(1))).toSet

    assert(!(kept1 ++ kept2).exists(k => k._2 == "CLI003" || k._2 == "CLI005"),
      "late rows must be dropped")
    assert(kept2.exists(_._2 == "CLI004"), "in-horizon row must be kept")
    assert(kept1 ++ kept2 == expected,
      s"stream keys ${kept1 ++ kept2} != batch-rule keys $expected")
  }

  /** The files the stream's checkpoint records as read, one entry per
    * read, each as `consumption_…/<file>`. */
  private def inputLog(ckpt: String): Seq[String] = {
    val path = "\"path\":\"([^\"]+)\"".r
    new java.io.File(ckpt, "sources/0").listFiles().toSeq
      .filter(_.getName.forall(_.isDigit))
      .flatMap(f => path.findAllMatchIn(Files.readString(f.toPath))
        .map(_.group(1).split('/').takeRight(2).mkString("/")))
  }

  /** (date, total_consumed_tokens) of every row of the table. */
  private def tokensByDate(target: String): Map[String, Long] =
    spark.read.parquet(target).collect()
      .map(r => r.get(r.fieldIndex("date")).toString -> r.getAs[Long]("total_consumed_tokens"))
      .toMap

  /** Lands one file holding client 1's row for `date` (yyyy-MM-dd). */
  private def landOne(data: Path, date: String, tokens: String,
      file: String = "part-0.csv"): Unit =
    Fixtures.writeDay(data, date.replace('-', '_'),
      Seq(Fixtures.clientRow(date, 1, "A", tokens)), file)

  private def upsertOnce(data: Path, target: String, ckpt: String): Unit =
    IngestStream.startUpsert(spark, data.toString, target, ckpt).awaitTermination()

  test("streaming upsert: a correction 30 days behind the newest day is merged, 31 days behind is not (T4)") {
    val base = Fixtures.tempDir("horizon")
    val data = base.resolve("data")
    val target = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    landOne(data, "2025-04-30", "1")
    landOne(data, "2025-05-01", "1")
    upsertOnce(data, target, ckpt)
    assert(tokensByDate(target) == Map("2025-04-30" -> 1L, "2025-05-01" -> 1L))
    // the newest day moves to 05-31: 05-01 is 30 days behind it, 04-30 is 31
    landOne(data, "2025-05-31", "1")
    landOne(data, "2025-05-01", "2", "part-1.csv")
    landOne(data, "2025-04-30", "2", "part-1.csv")
    upsertOnce(data, target, ckpt)
    assert(tokensByDate(target) ==
      Map("2025-04-30" -> 1L, "2025-05-01" -> 2L, "2025-05-31" -> 1L))
  }

  test("streaming upsert: after the horizon moves, a restart re-reads no merged file and misses none inside it") {
    val base = Fixtures.tempDir("hzrestart")
    val data = base.resolve("data")
    val target = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    Seq("2025-04-01", "2025-04-02", "2025-04-03").foreach(landOne(data, _, "1"))
    upsertOnce(data, target, ckpt)
    // the horizon moves from [03-04, 04-03] to [04-02, 05-02]: 04-01
    // falls out of it, 04-02 and 04-03 stay in with their files read
    landOne(data, "2025-05-02", "1")
    landOne(data, "2025-04-20", "1")
    landOne(data, "2025-04-02", "2", "part-1.csv")
    landOne(data, "2025-04-01", "2", "part-1.csv")
    upsertOnce(data, target, ckpt)
    upsertOnce(data, target, ckpt) // nothing new
    val log = inputLog(ckpt)
    assert(log.distinct == log, s"a file was read twice: $log")
    assert(log.toSet == Set(
      "consumption_2025_04_01/part-0.csv", "consumption_2025_04_02/part-0.csv",
      "consumption_2025_04_03/part-0.csv", "consumption_2025_05_02/part-0.csv",
      "consumption_2025_04_20/part-0.csv", "consumption_2025_04_02/part-1.csv"))
    assert(tokensByDate(target) == Map("2025-04-01" -> 1L, "2025-04-02" -> 2L,
      "2025-04-03" -> 1L, "2025-04-20" -> 1L, "2025-05-02" -> 1L))
  }

  test("streaming upsert: a trigger over more than 32 day directories lists none of them in a Spark job") {
    val base = Fixtures.tempDir("hzjobs")
    val data = base.resolve("data")
    val target = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    val days = (0 until 34).map(k => java.time.LocalDate.parse("2025-04-01").plusDays(k.toLong).toString)
    days.init.foreach(landOne(data, _, "1"))
    upsertOnce(data, target, ckpt)
    // one trigger with a correction and a new day, over 34 directories
    landOne(data, days(20), "2", "part-1.csv")
    landOne(data, days.last, "1")
    val (_, seen) = SparkJobs.record(spark)(upsertOnce(data, target, ckpt))
    val jobs = SparkJobs.jobs(seen)
    assert(jobs.forall(_.executionId.nonEmpty), s"a job outside any SQL execution: $jobs")
    assert(jobs.size <= 4, s"${jobs.size} jobs: $jobs")
    val tokens = tokensByDate(target)
    assert(tokens(days(20)) == 2L)
    assert(tokens.contains(days.last))
  }

  test("windowed daily rollup with 30-day watermark (T4)") {
    val base = Fixtures.tempDir("rollup")
    val data = base.resolve("data")
    Fixtures.writeLayout(data)
    // complete mode: append-mode emission would hold back windows newer
    // than the 30-day watermark (by design)
    IngestStream.dailyRollup(spark, data.toString)
      .writeStream
      .outputMode("complete")
      .queryName("rollup_t")
      .format("memory")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val out = spark.table("rollup_t")
    // CLI001: one window per day, tokens = 100/110/120
    val cli1 = out.filter(col("client_id") === "CLI001")
      .orderBy("date").collect()
    assert(cli1.map(_.getAs[Long]("daily_tokens")).toSeq == Seq(100L, 110L, 120L))
    assert(cli1.map(_.getAs[java.sql.Date]("date").toString).toSeq ==
      Seq("2025-05-01", "2025-05-02", "2025-05-03"))
  }
}
