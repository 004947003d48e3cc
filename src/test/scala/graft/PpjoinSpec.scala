package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions.{col, collect_set, length, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._

import graft.functions.TextFunctions.shingleRows
import graft.queries.TextQueries

/** Prefix-filter (PPJoin/AllPairs) exactness: the whole point of the
  * operator is that it finds EVERY pair with Jaccard ≥ 0.7 — no df
  * cap, no hash recall loss. The spec brute-forces all pairs over the
  * sf0.001 corpus's shingle sets and demands set equality, which
  * exercises both directions: no missed pair (prefix completeness +
  * length filter correct) and no extra pair (verification exact). */
class PpjoinSpec extends SparkTestBase {

  test("q_dedup_ppjoin == brute-force all-pairs Jaccard >= 0.7 at sf0.001") {
    val sets = shingleRows(Tables.documents(spark, sfDir), "doc_id", "text")
      .select("doc_id", "sh").distinct()
      .groupBy("doc_id").agg(collect_set(col("sh")).as("shs"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .sortBy(_._1)
    val expected = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      n = (sa & sb).size
      u = sa.size + sb.size - n
      if u > 0 && 10L * n >= 7L * u
    } yield (a, b, n.toLong)).toSet
    assert(expected.nonEmpty, "fixture has no >=0.7 pairs; test is vacuous")
    val got = TextQueries.dedupPpjoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
  }

  test("prefix index excludes the hottest shingles: corpus-hot grams generate no candidates") {
    // A doc whose every shingle is corpus-hot has a prefix drawn from
    // the LEAST hot of them; two docs that only share boilerplate
    // (low jaccard) must not surface. Planted: 60% shared boilerplate
    // (J ~= 0.43 < 0.7) -> excluded; 80% overlap (J ~= 2/3)... also
    // excluded; >= 0.7 requires sharing ~82% of the union.
    import spark.implicits._
    val boiler = (1 to 30).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, boiler + " " + (1 to 20).map(i => s"x$i").mkString(" ")),
      (2L, boiler + " " + (1 to 20).map(i => s"y$i").mkString(" ")),
      (3L, boiler + " " + (1 to 2).map(i => s"z$i").mkString(" ")),
      (4L, boiler + " " + (1 to 2).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
    val dir = Fixtures.tempDir("ppjoin-hot").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.dedupPpjoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // docs 3 and 4: 30 boilerplate tokens + 2 unique -> shingle sets
    // differ only in the last ~4 grams -> J >= 0.7 -> MUST be found;
    // docs 1-2 share only the boilerplate block -> J < 0.7 -> absent.
    assert(got.exists { case (a, b, _) => a == 3L && b == 4L })
    assert(!got.exists { case (a, b, _) => a == 1L && b == 2L })
    for ((_, _, j) <- got) assert(j >= 0.7 - 1e-9)
  }

  test("sparse regime: 50 000 mostly salted docs take the checkpointed pair-frame " +
      "plan and return exactly the planted pairs") {
    // 100 planted pairs (10 tokens contained in the same 10 + 2, J = 8/10)
    // and 50 decoy pairs (J = 6/10: they share a prefix shingle, so they
    // reach verification, and must fail it); every other doc carries
    // doc-unique salted tokens. 300 candidate docs of 50 000 is far
    // under the estimate's 1/4 bound, so the input alone picks the
    // sparse plan, whose verify join reads the checkpointed pair frame.
    import spark.implicits._
    def toks(prefix: String, n: Int) = (0 until n).map(j => s"$prefix$j").mkString(" ")
    val planted = 100
    val decoys = 50
    val nDocs = 50000L
    val decoyBase = 2L * planted
    val docs = (0 until planted).flatMap(i => Seq(
        2L * i -> toks(s"p${i}w", 10), (2L * i + 1) -> toks(s"p${i}w", 12))) ++
      (0 until decoys).flatMap(i => Seq(
        (decoyBase + 2 * i) -> toks(s"d${i}w", 10),
        (decoyBase + 2 * i + 1) -> (toks(s"d${i}w", 8) + " " + toks(s"d${i}e", 2)))) ++
      (decoyBase + 2 * decoys until nDocs).map(id => id -> toks(s"s${id}x", 6))
    val dir = Fixtures.tempDir("ppjoin-sparse").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val checkpointed = new ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") checkpointed.add(qe.analyzed)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val got = TextQueries.dedupPpjoin(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === (0 until planted).map(i => (2L * i, 2L * i + 1, 8L, 0.8)).toSet)
      // the verify plan joins the checkpointed candidate pairs: a
      // localCheckpoint action whose plan reads a LogicalRDD (the dense
      // plan's only checkpoint reads parquet alone)
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(checkpointed.asScala.exists(_.exists(_.isInstanceOf[LogicalRDD])),
          "the sparse branch was not taken")
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
