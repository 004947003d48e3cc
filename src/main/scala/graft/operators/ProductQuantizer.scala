package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps.d2

/** Product quantization for billion-scale ANN (Jégou, Douze &
  * Schmid, TPAMI 2011): split each vector into `m` subspaces, learn a
  * small per-subspace codebook, store each vector as `m` codes, and
  * answer queries by asymmetric distance computation (ADC) — a
  * per-query m×k lookup table of exact subspace distances, summed
  * over each corpus vector's codes.
  *
  * Why this is the memory path at 100 TB of vectors: the query-time
  * scan touches ONLY the code table — m small ints per vector (4
  * codes here vs 64 floats, 64× less), joined broadcast against the
  * constant-size LUT with a map-side-combining sum. The full vectors
  * are read once at encode time and (optionally) once more for exact
  * re-rank of a top-C candidate slice — never for whole-corpus
  * scoring.
  *
  * All distances are EXACT int64 arithmetic over the shared
  * `floor(x·1000)` quantization, so every stage is deterministic and
  * the oracle-checked `q_ann_pq` ([[graft.queries.VectorQueries]])
  * pins the seed-codebook configuration against DuckDB. Codebooks
  * come from [[seedCodebooks]] (deterministic: the k lowest vec_ids'
  * subvectors — the oracle geometry); Lloyd-trained codebooks, the
  * production recall path, are [[IvfPq]]'s `pqRounds > 0` (the PQ
  * paper's estimator quality is a codebook property, measured in the
  * 1M ablation, PLANS.md).
  */
object ProductQuantizer {

  /** `(vec_id, sub, sv)` subvector rows of a `(vec_id, qv)` frame. */
  def subRows(qvecs: DataFrame, m: Int, subLen: Int): DataFrame =
    qvecs.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${m - 1}), i -> slice(qv, i * $subLen + 1, $subLen))"))
      .as(Seq("sub", "sv")))

  /** Deterministic seed codebooks `(sub, c_id, c_sv)`: the k lowest
    * vec_ids' subvectors (the `q_kmeans_assign` seeding convention —
    * and the geometry the DuckDB oracle reproduces). */
  def seedCodebooks(qvecs: DataFrame, m: Int, subLen: Int, k: Int): DataFrame =
    subRows(qvecs.filter(col("vec_id") < k), m, subLen)
      .select(col("vec_id").as("c_id"), col("sub"), col("sv").as("c_sv"))

  /** Encode every vector as m codes `(vec_id, sub, code)` — exact-L2
    * argmin against the broadcast codebooks (min-struct aggregate
    * with map-side combine; ties → lower code). */
  def encode(s: SparkSession, qvecs: DataFrame, codebooks: DataFrame,
      m: Int, subLen: Int): DataFrame =
    subRows(qvecs, m, subLen)
      .join(broadcast(codebooks), Seq("sub"))
      .withColumn("_d2", d2(s, col("sv"), col("c_sv")))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("_d2"), col("c_id"))).as("mm"))
      .select(col("vec_id"), col("sub"), col("mm.c_id").as("code"))

  /** ADC top-k: per query `(q_id, qv)`, the k corpus vectors with the
    * smallest estimated distance `(q_id, rnk, vec_id, d2_est)`. The
    * LUT is |queries|·m·k rows — broadcast at any corpus scale for a
    * bounded query batch. `excludeSelf` drops `vec_id = q_id` rows
    * (for query sets drawn from the corpus). */
  def adcTopK(s: SparkSession, codes: DataFrame, codebooks: DataFrame,
      queries: DataFrame, k: Int, m: Int, subLen: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val qsubs = subRows(queries.select(col("q_id").as("vec_id"), col("qv")),
        m, subLen)
      .select(col("vec_id").as("q_id"), col("sub"), col("sv").as("q_sv"))
    val lut = qsubs.join(broadcast(codebooks), Seq("sub"))
      .select(col("q_id"), col("sub"), col("c_id"),
        d2(s, col("q_sv"), col("c_sv")).as("_d2"))
    val est = codes
      .join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("c_id"))
      .groupBy(col("q_id"), codes("vec_id"))
      .agg(sum(col("_d2")).as("d2_est"))
    val base = if (excludeSelf) est.filter(col("vec_id") =!= col("q_id")) else est
    val w = Window.partitionBy("q_id").orderBy(col("d2_est").asc, col("vec_id").asc)
    base.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "vec_id", "d2_est")
  }

  /** Exact re-rank: take a candidate frame `(q_id, vec_id)` (e.g. ADC
    * top-C), fetch those vectors' full `qv`s (a candidate-sized
    * broadcast semi-slice of the corpus, NOT a corpus scan for
    * scoring), and return the exact-L2 top-k `(q_id, rnk, vec_id,
    * d2)`. The standard PQ refinement: ADC prunes 100 TB to C rows
    * per query, exact distances decide the final order. */
  def rerank(s: SparkSession, candidates: DataFrame, qvecs: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val cand = candidates.select("q_id", "vec_id")
    val withV = cand.join(qvecs, Seq("vec_id"))
    val scored = withV.join(broadcast(queries.select(col("q_id"),
        col("qv").as("q_qv"))), Seq("q_id"))
      .withColumn("d2", d2(s, col("qv"), col("q_qv")))
    val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "vec_id", "d2")
  }
}
