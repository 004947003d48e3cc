package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps.{d2, quantize}

/** Distributed Lloyd k-means over integer-quantized embedding vectors —
  * the iterative refinement behind embedding-space corpus balancing
  * (the one-step oracle-checked E-step is
  * [[graft.queries.VectorQueries]]' `q_kmeans_assign`; this operator
  * composes full rounds).
  *
  * Iteration shape, per round:
  *  - ASSIGN: the k-row centroid frame is `broadcast` into a scoring
  *    pass over the corpus (never a driver collect — the centroid
  *    state stays a DataFrame end to end), squared distance
  *    decomposed as `‖v‖² − 2·v·c + ‖c‖²` over the native integer
  *    dot kernel; argmin per vector via lexicographic
  *    `min(struct(d2, c_id, qv))` — an aggregate with map-side
  *    combine, not a corpus-wide window.
  *  - UPDATE: per-dimension sums (map-side combine on (c_id, dim)),
  *    then floor-of-mean per dimension in EXACT integer arithmetic:
  *    `(sq − pmod(sq, n)) / n` is an exactly-divisible quotient, so
  *    the IEEE division is exact (≤ one quantization unit of floor
  *    drift per round, deterministically).
  *  - MATERIALIZE: the new k-row centroid frame goes through the
  *    [[Materializer]] — lineage would otherwise deepen by two
  *    aggregations and a broadcast join per round. The state is k
  *    rows, so even [[Materializer.Reliable]] costs one tiny DFS
  *    write per round.
  *
  * A centroid that loses every member keeps its previous position
  * (left-join retention), so k never silently shrinks. The quantized
  * corpus is persisted once and scanned by every round — at cluster
  * scale that persist partitions across executors; the per-round
  * shuffle volume is one row per vector (post-combine), never
  * k×corpus.
  */
object KMeans {

  /** `rounds` Lloyd iterations over `vecs` (`vec_id`, `embedding`);
    * seeds are the k lowest `vec_id`s. Returns one row per centroid:
    * `(c_id, cv: array<long>, n_members)` — `cv` in quantized units.
    */
  def fit(vecs: DataFrame, k: Int, rounds: Int,
      mat: Materializer = Materializer.Local): DataFrame =
    fitQuantized(
      vecs.select(col("vec_id"), quantize(col("embedding")).as("qv")),
      k, rounds, mat)

  /** [[fit]] over an ALREADY-quantized `(vec_id, qv: array<long>)`
    * frame — the entry point for fitting in residual space
    * ([[IvfPq]]), where the input is an integer difference of two
    * quantized vectors, not a raw float embedding. */
  def fitQuantized(vecs: DataFrame, k: Int, rounds: Int,
      mat: Materializer = Materializer.Local): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got $k, $rounds")
    val s = vecs.sparkSession
    // r20 (guide §2.3 "shuffle keys, not payloads"): the corpus is
    // persisted CLUSTERED on vec_id, so every round's per-vector
    // argmin aggregation runs with NO exchange — the broadcast
    // cross-join preserves the streamed side's partitioning, and the
    // groupBy(vec_id) below it previously re-shuffled one row per
    // vector WITH the full quantized vector as payload, every round.
    // One upfront exchange at persist time buys `rounds` shuffle-free
    // assign passes; the update-side (c_id, pos) aggregation already
    // map-side combines to k×dim rows.
    val eq = vecs.select(col("vec_id"), col("qv"))
      .repartition(col("vec_id")).persist()
    // the k LOWEST vec_ids — the documented deterministic seed rule.
    // (review r15: this was `filter(vec_id < k)`, an id-RANGE rule
    // that coincides with lowest-k only for ids dense from 0; a frame
    // whose ids all exceed k — e.g. a stream's first batch seeding
    // residual codebooks — produced an EMPTY seed and the fit
    // silently returned an empty centroid frame. TakeOrderedAndProject
    // makes lowest-k as cheap as the filter was.)
    var cents = eq.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("c_id"), col("qv").as("cv"),
        lit(0L).as("n_members"))
    try {
      for (_ <- 1 to rounds) {
        val scored = eq.crossJoin(broadcast(cents.select("c_id", "cv")))
          .withColumn("_d2", d2(s, col("qv"), col("cv")))
        val assigned = scored.groupBy("vec_id")
          .agg(min(struct(col("_d2"), col("c_id"), col("qv"))).as("m"))
          .select(col("m.c_id").as("c_id"), col("m.qv").as("qv"))
        val sums = assigned
          .select(col("c_id"), posexplode(col("qv")).as(Seq("pos", "q")))
          .groupBy("c_id", "pos")
          .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
          .groupBy("c_id")
          .agg(
            transform(
              array_sort(collect_list(struct(col("pos"), col("sq"), col("n")))),
              x => ((x.getField("sq") - pmod(x.getField("sq"), x.getField("n")))
                / x.getField("n")).cast(LongType)).as("cv_new"),
            max(col("n")).as("n_new"))
        val updated = cents.select(col("c_id"), col("cv").as("cv_prev"))
          .join(sums, Seq("c_id"), "left")
          .select(col("c_id"),
            coalesce(col("cv_new"), col("cv_prev")).as("cv"),
            coalesce(col("n_new"), lit(0L)).as("n_members"))
        cents = mat(updated)
      }
      cents.orderBy("c_id")
    } finally {
      eq.unpersist()
      ()
    }
  }
}
