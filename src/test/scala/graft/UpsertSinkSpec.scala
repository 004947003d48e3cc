package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.sink.UpsertSink

class UpsertSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def batchDf(rows: Seq[(String, String, Long)]) =
    rows.map { case (d, c, t) =>
      (Date.valueOf(d), c, s"Client $c", "svc", t)
    }.toDF("date", "client_id", "client_name", "service_name", "total_consumed_tokens")

  private def tableState(dir: String): Map[(String, String), Long] =
    spark.read.parquet(dir).collect().map { r =>
      (r.getAs[Date]("date").toString, r.getAs[String]("client_id")) ->
        r.getAs[Long]("total_consumed_tokens")
    }.toMap

  test("merge inserts then updates on conflict; created_at preserved") {
    val dir = Fixtures.tempDir("sink").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    sink.merge(batchDf(Seq(("2025-05-01", "A", 1L), ("2025-05-01", "B", 2L))))
    val created1 = spark.read.parquet(dir)
      .filter($"client_id" === "A").collect()(0).getAs[java.sql.Timestamp]("created_at")
    Thread.sleep(5)
    sink.merge(batchDf(Seq(("2025-05-01", "A", 10L), ("2025-05-02", "A", 3L))))
    assert(tableState(dir) == Map(
      ("2025-05-01", "A") -> 10L, ("2025-05-01", "B") -> 2L, ("2025-05-02", "A") -> 3L))
    val rowA = spark.read.parquet(dir)
      .filter($"client_id" === "A" && $"date" === "2025-05-01").collect()(0)
    assert(rowA.getAs[java.sql.Timestamp]("created_at") == created1,
      "created_at must survive the update")
    assert(!rowA.getAs[java.sql.Timestamp]("updated_at").before(created1))
  }

  test("merge is idempotent (exactly-once retry semantics, T5)") {
    val dir = Fixtures.tempDir("sink2").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    val b = batchDf(Seq(("2025-05-01", "A", 1L), ("2025-05-01", "B", 2L)))
    sink.merge(b)
    val s1 = tableState(dir)
    sink.merge(b) // retried micro-batch
    assert(tableState(dir) == s1)
  }

  test("merge rewrites only the batch's date partitions") {
    val dir = Fixtures.tempDir("sinkpart").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    sink.merge(batchDf(Seq(
      ("2025-05-01", "A", 1L), ("2025-05-02", "B", 2L), ("2025-05-03", "C", 3L))))
    def partFiles(day: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$dir/date=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.lastModified(), f.length())).toMap
    }
    val d1Before = partFiles("2025-05-01")
    val d3Before = partFiles("2025-05-03")
    assert(d1Before.nonEmpty && d3Before.nonEmpty)
    Thread.sleep(1100) // cross mtime granularity so rewrites are visible
    sink.merge(batchDf(Seq(("2025-05-02", "B", 20L), ("2025-05-02", "D", 4L))))
    assert(partFiles("2025-05-01") == d1Before,
      "untouched partition 2025-05-01 must not be rewritten")
    assert(partFiles("2025-05-03") == d3Before,
      "untouched partition 2025-05-03 must not be rewritten")
    assert(tableState(dir) == Map(
      ("2025-05-01", "A") -> 1L, ("2025-05-02", "B") -> 20L,
      ("2025-05-02", "D") -> 4L, ("2025-05-03", "C") -> 3L))
  }

  test("dedupBatch: deterministic last-writer-wins, not dropDuplicates") {
    val dir = Fixtures.tempDir("sink3").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    val dup = batchDf(Seq(
      ("2025-05-01", "A", 1L), ("2025-05-01", "A", 7L), ("2025-05-01", "A", 3L)))
      .withColumn("ord", col("total_consumed_tokens"))
    val out = sink.dedupBatch(dup, "ord").drop("ord").collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("total_consumed_tokens") == 7L)
  }

  test("dedupBatchAgg (skew-immune max_by) matches window dedupBatch") {
    val dir = Fixtures.tempDir("sink4").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    // hot key: client H gets 90 of 100 rows; unique order column, so
    // both variants must pick the identical winner per key
    val rows = (0 until 90).map(i => ("2025-05-01", "H", i.toLong)) ++
      (0 until 10).map(i => ("2025-05-02", s"U$i", 1000L + i))
    val batch = batchDf(rows)
      .withColumn("ord", monotonically_increasing_id())
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.drop("ord").collect()
        .map(r => (r.getAs[Date]("date").toString, r.getAs[String]("client_id"),
          r.getAs[Long]("total_consumed_tokens"))).sortBy(t => (t._1, t._2)).toSeq
    // persist so both consumers see the same monotonic ids
    batch.persist(); batch.count()
    try assert(canon(sink.dedupBatchAgg(batch, "ord")) ==
      canon(sink.dedupBatch(batch, "ord")))
    finally { batch.unpersist(); () }
    // uniform: 2000 rows cycling through 200 keys, the order column
    // unique, so both variants keep the same 200 winners; merging the
    // deduped batch twice leaves the table as the first merge left it
    val uniform = spark.range(2000L).select(
      lit(Date.valueOf("2025-05-01")).as("date"),
      concat(lit("C"), pmod(col("id"), lit(200L))).as("client_id"),
      lit("Client").as("client_name"), lit("svc").as("service_name"),
      col("id").as("total_consumed_tokens"), col("id").as("ord"))
    val deduped = canon(sink.dedupBatchAgg(uniform, "ord"))
    assert(deduped.size === 200)
    assert(deduped == canon(sink.dedupBatch(uniform, "ord")))
    assert(sink.merge(sink.dedupBatchAgg(uniform, "ord").drop("ord")) === 200)
    val afterFirst = tableState(dir)
    assert(sink.merge(sink.dedupBatchAgg(uniform, "ord").drop("ord")) === 200)
    assert(tableState(dir) == afterFirst, "re-merge must be idempotent")
    assert(afterFirst.values.toSet == (1800L until 2000L).toSet)
  }

  test("merge(batch, orderCol) dedups a duplicated batch deterministically") {
    // ADVICE r7: the 1-arg merge CONTRACT requires one row per key;
    // the 2-arg overload must make a raw duplicated batch safe by
    // applying the skew-immune dedup itself — highest orderCol wins.
    val dir = Fixtures.tempDir("sink5").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    val dup = batchDf(Seq(
      ("2025-05-01", "A", 1L), ("2025-05-01", "A", 9L), ("2025-05-01", "A", 5L),
      ("2025-05-01", "B", 2L)))
      .withColumn("ord", col("total_consumed_tokens"))
    sink.merge(dup, "ord")
    assert(tableState(dir) == Map(
      ("2025-05-01", "A") -> 9L, ("2025-05-01", "B") -> 2L))
    // and it upserts like the 1-arg form on conflict
    sink.merge(batchDf(Seq(("2025-05-01", "A", 3L), ("2025-05-01", "A", 11L)))
      .withColumn("ord", col("total_consumed_tokens")), "ord")
    assert(tableState(dir) == Map(
      ("2025-05-01", "A") -> 11L, ("2025-05-01", "B") -> 2L))
  }

  test("property: sequential merges == merge of per-key-latest (upsert fold)") {
    val dates = Gen.oneOf("2025-05-01", "2025-05-02")
    val clients = Gen.oneOf("A", "B", "C")
    val rowGen = for {
      d <- dates; c <- clients; t <- Gen.choose(0L, 100L)
    } yield (d, c, t)
    val batchesGen = Gen.listOfN(3, Gen.listOfN(4, rowGen))
    val prop = Prop.forAllNoShrink(batchesGen) { batches =>
      val dirSeq = Fixtures.tempDir("prop").resolve("seq").toString
      val sinkSeq = new UpsertSink(spark, dirSeq)
      // merging batch-by-batch (each pre-deduped to its last row per key)…
      batches.filter(_.nonEmpty).foreach { b =>
        val df = batchDf(b).withColumn("ord", monotonically_increasing_id())
        sinkSeq.merge(sinkSeq.dedupBatch(df, "ord").drop("ord"))
      }
      // …must equal the overall last-writer-wins of the concatenation.
      val all = batches.flatten
      val expected = all.zipWithIndex
        .groupBy { case ((d, c, _), _) => (d, c) }
        .map { case (k, vs) => k -> vs.maxBy(_._2)._1._3 }
      val got = if (all.isEmpty) Map.empty else tableState(dirSeq)
      got == expected
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
