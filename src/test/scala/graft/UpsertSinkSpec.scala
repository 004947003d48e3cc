package graft

import java.sql.Date
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.sink.UpsertSink

class UpsertSinkSpec extends SparkTestBase {
  import spark.implicits._

  private object ScanRoots extends AdaptiveSparkPlanHelper

  /** A batch with an `ord` column: its rows' positions, so a later row
    * of the same key wins. */
  private def batchDf(rows: Seq[(String, String, Long)]) =
    rows.zipWithIndex.map { case ((d, c, t), i) =>
      (Date.valueOf(d), c, s"Client $c", "svc", t, i.toLong)
    }.toDF("date", "client_id", "client_name", "service_name", "total_consumed_tokens", "ord")

  private def tableState(dir: String): Map[(String, String), Long] =
    spark.read.parquet(dir).collect().map { r =>
      (r.getAs[Date]("date").toString, r.getAs[String]("client_id")) ->
        r.getAs[Long]("total_consumed_tokens")
    }.toMap

  test("merge inserts then updates on conflict; created_at preserved") {
    val dir = Fixtures.tempDir("sink").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    sink.merge(batchDf(Seq(("2025-05-01", "A", 1L), ("2025-05-01", "B", 2L))), "ord")
    val created1 = spark.read.parquet(dir)
      .filter($"client_id" === "A").collect()(0).getAs[java.sql.Timestamp]("created_at")
    Thread.sleep(5)
    sink.merge(batchDf(Seq(("2025-05-01", "A", 10L), ("2025-05-02", "A", 3L))), "ord")
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
    sink.merge(b, "ord")
    val s1 = tableState(dir)
    sink.merge(b, "ord") // retried micro-batch
    assert(tableState(dir) == s1)
  }

  test("merge rewrites only the batch's date partitions") {
    val dir = Fixtures.tempDir("sinkpart").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    sink.merge(batchDf(Seq(
      ("2025-05-01", "A", 1L), ("2025-05-02", "B", 2L), ("2025-05-03", "C", 3L))), "ord")
    def partFiles(day: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$dir/date=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.lastModified(), f.length())).toMap
    }
    val d1Before = partFiles("2025-05-01")
    val d3Before = partFiles("2025-05-03")
    assert(d1Before.nonEmpty && d3Before.nonEmpty)
    Thread.sleep(1100) // cross mtime granularity so rewrites are visible
    sink.merge(batchDf(Seq(("2025-05-02", "B", 20L), ("2025-05-02", "D", 4L))), "ord")
    assert(partFiles("2025-05-01") == d1Before,
      "untouched partition 2025-05-01 must not be rewritten")
    assert(partFiles("2025-05-03") == d3Before,
      "untouched partition 2025-05-03 must not be rewritten")
    assert(tableState(dir) == Map(
      ("2025-05-01", "A") -> 1L, ("2025-05-02", "B") -> 20L,
      ("2025-05-02", "D") -> 4L, ("2025-05-03", "C") -> 3L))
  }

  test("merge reads only the batch's date partitions; an empty batch writes nothing") {
    val dir = Fixtures.tempDir("sinkscan").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    sink.merge(batchDf(Seq(
      ("2025-05-01", "A", 1L), ("2025-05-02", "B", 2L), ("2025-05-03", "C", 3L))), "ord")
    val roots = new ConcurrentLinkedQueue[Path]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        ScanRoots.collect(qe.executedPlan) { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.foreach(roots.add)
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val merged =
      try {
        val m = sink.merge(batchDf(Seq(("2025-05-02", "B", 20L), ("2025-05-04", "D", 4L))), "ord")
        ListenerBusDrain(spark.sparkContext)
        m
      } finally spark.listenerManager.unregister(listener)
    // the existing side is the one batch date that is in the table; the
    // table root (a whole-table listing) is never scanned
    assert(roots.asScala.map(_.getName).toSet == Set("date=2025-05-02"))
    assert(roots.asScala.forall(_.getParent.getName == "t"))
    assert(merged == UpsertSink.Merged(partitionRows = 2, upserted = 2))
    assert(tableState(dir) == Map(
      ("2025-05-01", "A") -> 1L, ("2025-05-02", "B") -> 20L,
      ("2025-05-03", "C") -> 3L, ("2025-05-04", "D") -> 4L))

    val emptyDir = Fixtures.tempDir("sinkempty").resolve("t").toString
    val empty = new UpsertSink(spark, emptyDir)
    assert(empty.merge(batchDf(Nil), "ord") ==
      UpsertSink.Merged(0, 0))
    assert(!empty.exists, "an empty batch must not create the table")
  }

  test("merge(batch, orderCol) dedups a duplicated batch deterministically") {
    // ADVICE r7: merge must make a raw duplicated batch safe by
    // deduplicating it itself — highest orderCol wins.
    val dir = Fixtures.tempDir("sink5").resolve("t").toString
    val sink = new UpsertSink(spark, dir)
    val dup = batchDf(Seq(
      ("2025-05-01", "A", 1L), ("2025-05-01", "A", 9L), ("2025-05-01", "A", 5L),
      ("2025-05-01", "B", 2L)))
      .withColumn("ord", col("total_consumed_tokens"))
    sink.merge(dup, "ord")
    assert(tableState(dir) == Map(
      ("2025-05-01", "A") -> 9L, ("2025-05-01", "B") -> 2L))
    // and it upserts on conflict
    sink.merge(batchDf(Seq(("2025-05-01", "A", 3L), ("2025-05-01", "A", 11L)))
      .withColumn("ord", col("total_consumed_tokens")), "ord")
    assert(tableState(dir) == Map(
      ("2025-05-01", "A") -> 11L, ("2025-05-01", "B") -> 2L))

    // hot key: client H gets 90 of 100 rows; the greatest order value
    // wins even where it is not the greatest token count
    val hotDir = Fixtures.tempDir("sinkhot").resolve("t").toString
    val rows = (0 until 90).map(i => ("2025-05-01", "H", (i * 7 % 90).toLong)) ++
      (0 until 10).map(i => ("2025-05-02", s"U$i", 1000L + i))
    val hot = new UpsertSink(spark, hotDir)
    assert(hot.merge(batchDf(rows).withColumn("ord", monotonically_increasing_id()), "ord") ==
      UpsertSink.Merged(11, 11))
    assert(tableState(hotDir) == (Map(("2025-05-01", "H") -> (89L * 7 % 90)) ++
      (0 until 10).map(i => ("2025-05-02", s"U$i") -> (1000L + i))))

    // uniform: 2000 rows cycling through 200 keys, the order column
    // unique, so the last 200 rows win; merging the batch again leaves
    // the table as the first merge left it
    val uniDir = Fixtures.tempDir("sinkuni").resolve("t").toString
    val uni = new UpsertSink(spark, uniDir)
    val uniform = spark.range(2000L).select(
      lit(Date.valueOf("2025-05-01")).as("date"),
      concat(lit("C"), pmod(col("id"), lit(200L))).as("client_id"),
      lit("Client").as("client_name"), lit("svc").as("service_name"),
      col("id").as("total_consumed_tokens"), col("id").as("ord"))
    assert(uni.merge(uniform, "ord") == UpsertSink.Merged(200, 200))
    val afterFirst = tableState(uniDir)
    assert(uni.merge(uniform, "ord") == UpsertSink.Merged(200, 200))
    assert(tableState(uniDir) == afterFirst, "re-merge must be idempotent")
    assert(afterFirst.values.toSet == (1800L until 2000L).toSet)
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
      // merging batch-by-batch (each deduped to its last row per key)…
      batches.filter(_.nonEmpty).foreach { b =>
        sinkSeq.merge(batchDf(b).withColumn("ord", monotonically_increasing_id()), "ord")
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
