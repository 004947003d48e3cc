package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.VectorOps.{d2, dotLong, quantize}

/** Embedding similarity queries over the `embeddings` table
  * (SURVEY.md §2.11). The oracle-checked variants quantize each
  * float to `floor(x*1000)` (exact in both engines: float→double is
  * lossless, ×1000 never lands on an exact .5, floor is exact) so
  * dot products are integer arithmetic and cosines are a fixed tree
  * of IEEE ops — bit-identical between Spark and DuckDB. The
  * double-precision production API is [[graft.operators.Similarity]]
  * (ScalaTest-covered; float sums are order-sensitive so it is not
  * oracle-comparable).
  */
object VectorQueries {

  private val quantizeSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  /** Brute-force k-NN baseline: 8 fixed query vectors against the
    * whole corpus, top-5 by integer dot product. Queries broadcast;
    * corpus scored where it lives; one shuffle (on q_id) to rank. */
  def knnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
    val pairs = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dot", dotLong(s, col("q_qv"), col("qv")))
    val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("vec_id").asc)
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "vec_id", "dot")
      .orderBy("q_id", "rnk")
  }

  val knnBruteForceSql: String =
    s"""WITH e AS (SELECT vec_id, $quantizeSql AS qv FROM embeddings),
       |q AS (SELECT vec_id AS q_id, qv AS q_qv FROM e WHERE vec_id < 8),
       |pairs AS (
       |  SELECT q.q_id, c.vec_id,
       |    (SELECT CAST(SUM(x*y) AS BIGINT)
       |     FROM (SELECT unnest(q.q_qv) x, unnest(c.qv) y)) AS dot
       |  FROM q, e c WHERE c.vec_id <> q.q_id)
       |SELECT q_id, rnk, vec_id, dot FROM (
       |  SELECT q_id, vec_id, dot,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** Bands × bits-per-band for [[embedNearDup]]'s hyperplane LSH.
    * With the middle-square sign mix ([[graft.functions.VectorOpsImpl
    * .lshKeys]]) this recovers ~98% of the cos ≥ 0.25 pairs on the
    * test corpora. The test embeddings are isotropic noise (max
    * pairwise cosine 0.51 at sf0.01 / 0.60 at sf0.1, no planted
    * duplicates) — hyperplane LSH's worst case, so pruning is modest
    * here; on a real near-dup corpus (cos ≥ 0.8, per-bit collision
    * 0.80) wider bands (fewer, more bits, e.g. 4 × 16 bits = 65 536
    * keys per band) prune >99% of pairs at >99% recall, because bucket
    * sizes, and so the candidate volume Σ bucket², stay bounded by the
    * true-duplicate mass rather than |corpus|²/2^bits (PLANS.md records
    * that geometry on 100 000 vectors with planted duplicates). */
  private val nBands = 32
  private val bitsPerBand = 4

  /** Embedding-cosine near-dup pairs over a corpus sample, LSH-bucketed:
    * candidates are generated by an equi-join on (band, key) — vectors
    * agreeing on all `bitsPerBand` hyperplane signs of any band — and
    * only candidates are verified with the exact quantized cosine
    * (fixed IEEE tree: dot / (sqrt(na)*sqrt(nb))). No corpus×corpus
    * CartesianProduct anywhere: the band join is a plain shuffle join
    * on a compact key, so the plan survives a 100× scale-up (hot
    * buckets split by AQE). The sample (vec_id % 5 = 0) keeps the
    * oracle cheap; the production API is
    * [[graft.operators.Similarity.lshTopK]]. */
  def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("n2", dotLong(s, col("qv"), col("qv")))
    // All band keys in ONE native-kernel pass per vector
    // (graft.functions.LshBandKeys — same integer LCG mix as the
    // DuckDB twin below, bit-for-bit); posexplode emits (band, key).
    val bands = e
      .select(col("vec_id"),
        posexplode(graft.functions.VectorOps.lshBandKeys(
          s, col("qv"), nBands, bitsPerBand)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("key"))
    val cand = bands.select(col("band"), col("key"), col("vec_id").as("id_a"))
      .join(bands.select(col("band"), col("key"), col("vec_id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = e.select(col("vec_id").as("id_a"), col("qv").as("qv_a"), col("n2").as("n2_a"))
    val vb = e.select(col("vec_id").as("id_b"), col("qv").as("qv_b"), col("n2").as("n2_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine",
        dotLong(s, col("qv_a"), col("qv_b")).cast(DoubleType) /
          (sqrt(col("n2_a").cast(DoubleType)) * sqrt(col("n2_b").cast(DoubleType))))
      .filter(col("cosine") >= 0.25)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }

  /** DuckDB twin of one band-key bit (h fixed): same middle-square
    * integer mix, same sign, same ≥0 test. DuckDB's list_transform
    * index is 1-based → `(i-1)` matches Spark's 0-based index; the
    * squared term is spelled `m*m` (both factors repeated — DuckDB
    * lambdas can't bind locals). */
  private def bandBitSql(h: Int): String = {
    val m = s"((band*1619) + ${h * 31337} + ((i-1)*2621) + 1013904223)"
    s"""(CASE WHEN list_sum(list_transform(qv, (x,i) -> x *
       |    (1 - (2 * ((((($m * $m) % 4294967296) >> 13) & 1))))) ) >= 0
       |  THEN ${1 << h} ELSE 0 END)""".stripMargin
  }

  val embedNearDupSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, qv,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(qv) x)) AS n2
       |  FROM (SELECT vec_id, $quantizeSql AS qv FROM embeddings
       |        WHERE vec_id % 5 = 0)),
       |bands AS (
       |  SELECT vec_id, t.band,
       |    ${(0 until bitsPerBand).map(bandBitSql).mkString(" +\n    ")} AS key
       |  FROM e CROSS JOIN range($nBands) t(band)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
       |SELECT c.id_a, c.id_b,
       |  (SELECT CAST(SUM(x*y) AS BIGINT) FROM (SELECT unnest(a.qv) x, unnest(b.qv) y))
       |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
       |FROM cand c JOIN e a ON c.id_a = a.vec_id JOIN e b ON c.id_b = b.vec_id
       |WHERE (SELECT CAST(SUM(x*y) AS BIGINT) FROM (SELECT unnest(a.qv) x, unnest(b.qv) y))
       |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.25
       |ORDER BY id_a, id_b""".stripMargin

  /** Embedding near-dup CLUSTERING: connected components over the
    * [[embedNearDup]] pair graph — the same
    * [[graft.operators.ConnectedComponents]] operator the text-side
    * `q_dedup_clusters` uses (pointer-jumped min-label propagation,
    * O(log diameter) rounds, throws if unconverged), proving the
    * operator composes over any verified pair source. Each cluster
    * is labeled by its smallest vec_id (the canonical representative
    * a keep-one-per-cluster embedding dedup retains). */
  def embedClusters(s: SparkSession, dir: String): DataFrame = {
    // the symmetrized union stays LAZY (r20): minLabels clusters +
    // materializes its own dst-keyed edge frame up front and consumes
    // the input exactly once (see DedupQueries.computeClusterLabels);
    // the pair pipeline's two union branches share their exchanges
    // (ReuseExchange/AQE stage reuse), exactly as under the old
    // caller-side mat(union) — same one-job shape, one copy less.
    val mat = graft.operators.Materializer.fromEnv()
    val pairs = embedNearDup(s, dir)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    graft.operators.ConnectedComponents.minLabels(edges, mat = mat)._1
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"), max(col("node")).as("max_vec"))
      .orderBy("cluster")
  }

  /** Twin: the full near-dup query nests as a CTE body (DuckDB allows
    * an inner WITH inside a parenthesized subquery), then the same
    * recursive closure + MIN-label used by the simhash clustering
    * twin — identical semantics by definition of connected
    * components. */
  def embedClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($embedNearDupSql),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(node, lab) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst),
       |final AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node)
       |SELECT label AS cluster, COUNT(*) AS n_vecs, MAX(node) AS max_vec
       |FROM final GROUP BY label ORDER BY cluster""".stripMargin

  /** Per-query ANN verification frame shared by [[annLsh]] /
    * [[annIvf]]: runs the approximate operator AND the exact
    * brute-force baseline, then reduces to one row per query with
    * the invariants the hash gate can check — result structure
    * (exactly k ranks 1..k, cosines non-increasing down the ranks)
    * and recall@k against the exact top-k. The raw double cosines
    * never cross the engine boundary (double-over-float summation is
    * order-sensitive — no DuckDB twin exists for the VALUES, but the
    * INVARIANTS are engine-portable booleans). */
  private def annGate(e: DataFrame, q: DataFrame,
      topK: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val res = topK(e, q)
    val exact = graft.operators.Similarity.bruteForceTopK(e, q, k = 5)
      .select(col("q_id").as("x_qid"), col("c_id").as("x_cid"))
    val w = Window.partitionBy("q_id").orderBy("rnk")
    val per = res
      .withColumn("prev", lag(col("cosine"), 1).over(w))
      .withColumn("ord_ok",
        col("prev").isNull || col("cosine") <= col("prev"))
      .join(exact,
        col("q_id") === col("x_qid") && col("c_id") === col("x_cid"),
        "left_outer")
      .groupBy("q_id")
      .agg(
        count(lit(1)).as("n_results"),
        (count(lit(1)) === 5 && min(col("rnk")) === 1 &&
          max(col("rnk")) === 5 && countDistinct(col("rnk")) === 5 &&
          min(col("ord_ok").cast(IntegerType)) === 1).as("structure_ok"),
        (sum(col("x_cid").isNotNull.cast(IntegerType)) / 5.0).as("recall"))
    // Anchor the gate frame on the QUERY ids, not on whichever queries
    // happened to produce results: a candidate-starved query (fewer
    // than 5 band-join candidates — measured minimum per query is
    // 101 (LSH) / 107 (IVF) even at sf0.001, ~20× k, see
    // SimilaritySpec "every ann-gate query has >= k candidates", but
    // data-dependent in general) must surface as a deterministic
    // structure_ok=false row, never as a silently missing row that
    // the DuckDB twin (8 literal rows) then flags as an opaque
    // row-count mismatch.
    q.select(col("vec_id").as("q_id"))
      .join(per, Seq("q_id"), "left_outer")
      .select(col("q_id"),
        coalesce(col("n_results"), lit(0L)).as("n_results"),
        coalesce(col("structure_ok"), lit(false)).as("structure_ok"),
        coalesce(col("recall"), lit(0.0)).as("recall"))
  }

  /** Driver-visible ANN scale path, oracle-checked on its INVARIANTS:
    * random-hyperplane LSH band join + exact re-rank
    * ([[graft.operators.Similarity.lshTopK]]) verified in-query
    * against the brute-force baseline. Per-query recall of
    * hyperplane LSH on this near-uniform synthetic corpus is noisy
    * (measured 0.0-1.0 per query across SFs), but MEAN recall over
    * the 8 queries is stable (0.35-0.48 measured at sf0.001/0.01/
    * 0.1) — so the gate bounds the mean at ≥ 0.2, plus per-query
    * structure. The DuckDB twin emits the literal expectations;
    * the hash gate then proves the ANN path returns well-formed
    * top-k with bounded recall, not just 40 rows. The tiny per-query
    * frame feeds two consumers (rows + mean), so it is
    * localCheckpoint'ed (8 rows — the small-intermediates barrier
    * rule; without it the whole LSH+brute-force tree runs twice). */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 8)
    val per = annGate(e, q,
      (c, qq) => graft.operators.Similarity.lshTopK(c, qq, k = 5))
      .localCheckpoint(true)
    val meanOk = per.agg((avg(col("recall")) >= 0.2).as("mean_recall_ok"))
    per.crossJoin(broadcast(meanOk))
      .select(col("q_id"), col("n_results"), col("structure_ok"),
        col("mean_recall_ok"))
      .orderBy("q_id")
  }

  val annLshSql: String =
    """SELECT CAST(vec_id AS BIGINT) AS q_id, CAST(5 AS BIGINT) AS n_results,
      |  TRUE AS structure_ok, TRUE AS mean_recall_ok
      |FROM embeddings WHERE vec_id < 8 ORDER BY q_id""".stripMargin

  /** Driver-visible IVF probe path ([[graft.operators.Similarity
    * .ivfTopK]]), the data-adaptive complement of [[annLsh]], gated
    * the same way. IVF recall on this corpus is strong per query
    * (measured min 0.6 at sf0.001/0.01/0.1 with the default
    * 16-centroid / 4-probe geometry), so the bound is per-query
    * recall ≥ 0.4 — tighter than LSH's corpus-mean gate. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 8)
    annGate(e, q,
      (c, qq) => graft.operators.Similarity.ivfTopK(c, qq, k = 5))
      .select(col("q_id"), col("n_results"), col("structure_ok"),
        (col("recall") >= 0.4).as("recall_ok"))
      .orderBy("q_id")
  }

  val annIvfSql: String =
    """SELECT CAST(vec_id AS BIGINT) AS q_id, CAST(5 AS BIGINT) AS n_results,
      |  TRUE AS structure_ok, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 8 ORDER BY q_id""".stripMargin

  /** INCREMENTAL IVF — index maintenance without rebuild, the vector
    * analogue of `q_dedup_incremental` and gated like [[annIvf]]: the
    * corpus splits by the Knuth-hash convention (buckets < 90 =
    * existing corpus, ≥ 90 = arriving batch), the index is built on
    * the EXISTING side only, the batch joins via
    * [[graft.operators.Similarity.ivfAppend]] (assignment against the
    * frozen quantizer — only the batch is scanned), and the probe
    * runs over the merged lists. The recall gate (per-query ≥ 0.4,
    * annIvf's bound) is measured against brute force over the FULL
    * corpus, so a batch vector dropped by the append would fail the
    * gate — completeness is part of the contract, not assumed. */
  def annIvfIncr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val bucket = pmod(pmod(col("vec_id"), lit(100000000L)) * lit(2654435761L),
      lit(100L))
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 8)
    annGate(e, q, (c, qq) => {
      val (cents, assigned) = Similarity.ivfIndex(c.filter(bucket < 90))
      val merged = Similarity.ivfAppend(cents, assigned, c.filter(bucket >= 90))
      Similarity.ivfProbe(cents, merged, qq, k = 5)
    })
      .select(col("q_id"), col("n_results"), col("structure_ok"),
        (col("recall") >= 0.4).as("recall_ok"))
      .orderBy("q_id")
  }

  val annIvfIncrSql: String =
    """SELECT CAST(vec_id AS BIGINT) AS q_id, CAST(5 AS BIGINT) AS n_results,
      |  TRUE AS structure_ok, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 8 ORDER BY q_id""".stripMargin

  /** Embedding OUTLIER detection — the corpus-QA pass that flags
    * mis-labeled or junk vectors: per `label` group, the 3 vectors
    * with the LOWEST cosine to their group centroid. The centroid is
    * the per-dimension integer SUM of the quantized vectors — cosine
    * is scale-invariant, so the sum works as the (unnormalized)
    * centroid and every aggregate stays integer-exact; the cosine is
    * then the fixed IEEE tree `dot / (sqrt(n2)·sqrt(cn2))` (sqrt is
    * correctly-rounded per IEEE-754 in both engines, unlike `ln`).
    * Shapes: one posexplode + (label, dim) sum (map-side combine),
    * collect the ≤dims rows per label back into an ordered array,
    * join centroids to vectors on label (centroid side is
    * |labels|-scale — broadcast at any corpus size), one native
    * dot-product kernel pass per vector, per-label window for the
    * bottom-3. Overflow bound: |cs| ≤ 1000·|group|, so the centroid
    * self-dot stays in Int64 up to ~3×10⁷ vectors per label at 64
    * dims; beyond that, rescale the sums (cosine is unchanged). */
  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
    val dims = e.select(col("vec_id"), col("label"),
      posexplode(col("qv")).as(Seq("pos", "q")))
    val cent = dims.groupBy("label", "pos").agg(sum(col("q")).as("cs"))
      .groupBy("label")
      .agg(collect_list(struct(col("pos"), col("cs"))).as("raw"))
      .select(col("label"),
        transform(array_sort(col("raw")), x => x.getField("cs")).as("cv"))
    val centN = cent.withColumn("cn2", dotLong(s, col("cv"), col("cv")))
    val scored = e.join(broadcast(centN), Seq("label"))
      .withColumn("n2", dotLong(s, col("qv"), col("qv")))
      .filter(col("n2") > 0)
      .withColumn("cos",
        dotLong(s, col("qv"), col("cv")).cast(DoubleType) /
          (sqrt(col("n2").cast(DoubleType)) * sqrt(col("cn2").cast(DoubleType))))
    val w = Window.partitionBy("label").orderBy(col("cos").asc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("label", "rnk", "vec_id", "cos")
      .orderBy("label", "rnk")
  }

  val embedOutliersSql: String =
    s"""WITH e AS (SELECT vec_id, label, $quantizeSql AS qv FROM embeddings),
       |dims AS (
       |  SELECT vec_id, label,
       |    CAST(unnest(range(1, len(qv) + 1)) AS INTEGER) AS pos,
       |    unnest(qv) AS q
       |  FROM e),
       |cs AS (SELECT label, pos, CAST(SUM(q) AS BIGINT) AS cs
       |       FROM dims GROUP BY label, pos),
       |cent AS (SELECT label, list(cs ORDER BY pos) AS cv FROM cs GROUP BY label),
       |cn AS (SELECT label, cv,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(cv) x)) AS cn2
       |  FROM cent),
       |sc AS (
       |  SELECT e.label, e.vec_id,
       |    (SELECT CAST(SUM(x*y) AS BIGINT)
       |     FROM (SELECT unnest(e.qv) x, unnest(cn.cv) y)) AS dotc,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(e.qv) x)) AS n2,
       |    cn.cn2
       |  FROM e JOIN cn USING (label)),
       |r AS (
       |  SELECT label, vec_id,
       |    CAST(dotc AS DOUBLE)
       |      / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY
       |      CAST(dotc AS DOUBLE)
       |        / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) ASC,
       |      vec_id ASC) AS rnk
       |  FROM sc WHERE n2 > 0)
       |SELECT label, CAST(rnk AS INTEGER) AS rnk, vec_id, cos
       |FROM r WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin

  /** One k-means ASSIGNMENT step (the Lloyd E-step) — the workhorse
    * of embedding-space clustering for corpus mixing/balancing:
    * assign every vector to the nearest of k=5 seed centroids (the
    * k lowest `vec_id`s — deterministic seeds) and report per-cluster
    * membership and inertia. Squared distance decomposes to
    * `‖v‖² − 2·v·c + ‖c‖²` — three integer dot products over the
    * quantized vectors, so the argmin compares exact Int64s and the
    * inertia sum is exact (no float-order hazard). Ties → lower
    * centroid id via lexicographic `min(struct(d2, c_id))` — an
    * AGGREGATE argmin with map-side combine, not a corpus-wide
    * window. Shapes: k centroids broadcast (k rows — broadcast at
    * any corpus size), corpus scored in place (k×|corpus| rows never
    * shuffled raw: the argmin combines map-side to one row per
    * vector), one final k-key aggregate. Overflow: d2 ≤ dims·(2·10³)²
    * ≈ 2.6×10⁸; the inertia sum stays in Int64 to ~3×10¹⁰ vectors. */
  def kmeansAssign(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("qv").as("c_qv"))
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("d2",
        d2(s, col("qv"), col("c_qv")))
    scored.groupBy("vec_id")
      .agg(min(struct(col("d2"), col("c_id"))).as("m"))
      .select(col("m.c_id").as("c_id"), col("m.d2").as("d2"))
      .groupBy("c_id")
      .agg(count(lit(1)).as("n_members"), sum(col("d2")).as("inertia"))
      .orderBy("c_id")
  }

  val kmeansAssignSql: String =
    s"""WITH e AS (SELECT vec_id, $quantizeSql AS qv FROM embeddings),
       |c AS (SELECT vec_id AS c_id, qv AS c_qv FROM e WHERE vec_id < 5),
       |sc AS (
       |  SELECT e.vec_id, c.c_id,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(e.qv) x))
       |    - 2 * (SELECT CAST(SUM(x*y) AS BIGINT)
       |           FROM (SELECT unnest(e.qv) x, unnest(c.c_qv) y))
       |    + (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(c.c_qv) x)) AS d2
       |  FROM e, c),
       |a AS (
       |  SELECT vec_id, c_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_id ASC) AS rk
       |  FROM sc)
       |SELECT c_id, COUNT(*) AS n_members, CAST(SUM(d2) AS BIGINT) AS inertia
       |FROM a WHERE rk = 1 GROUP BY c_id ORDER BY c_id""".stripMargin

  /** SEMANTIC dedup (the SemDeDup shape: cluster, then dedup within
    * clusters): k-means-partition the embedding space, order each
    * cluster farthest-from-centroid first, and drop any vector whose
    * cosine to some EARLIER vector in its cluster reaches `tau` —
    * keeping the far-from-centroid member of each semantic-duplicate
    * group, i.e. the diversity-preserving choice. Output is the full
    * per-vector verdict (`is_dup` + provenance: which earlier kept
    * candidate it duplicates, at what cosine), so the drop-list is
    * `is_dup = 1` and the curated corpus is its complement.
    *
    * Scale shape: the ONLY quadratic term is the within-cluster
    * triangular self-join, Σ|cluster|² — and k is the knob that
    * bounds it (semantic dedup at corpus scale runs k ∝ N so
    * clusters stay ~constant-sized; the oracle uses k=5 on the
    * 500-2000-vector test corpora for the same cluster-size regime).
    * The centroid frame is k rows (broadcast at any corpus size);
    * assignment argmin is an aggregate with map-side combine (never
    * a corpus window); the per-cluster ordering window sorts one
    * cluster per key — bounded by the same knob. Production path:
    * [[semanticDedupFrom]] takes any (vec_id, embedding) frame plus
    * refined centroids from [[graft.operators.KMeans.fit]]. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    semanticDedupFrom(s, Tables.embeddings(s, dir), k = 5, tau = 0.30)

  /** Parameterized form over any `(vec_id, embedding)` frame; seeds
    * are the k lowest vec_ids (deterministic — swap in
    * [[graft.operators.KMeans.fit]] output for refined centroids). */
  def semanticDedupFrom(s: SparkSession, vecs: DataFrame, k: Int,
      tau: Double): DataFrame = {
    val e = vecs.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("n2", dotLong(s, col("qv"), col("qv")))
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
        col("n2").as("c_n2"))
    // exact integer d2 = ‖v‖² − 2·v·c + ‖c‖²; argmin rides a
    // lexicographic min(struct) so qv/n2 tag along without a rejoin
    val asg = e.crossJoin(broadcast(cents))
      .withColumn("d2",
        col("n2") - lit(2L) * dotLong(s, col("qv"), col("c_qv")) + col("c_n2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("c_id"), col("qv"), col("n2"))).as("m"))
      .select(col("vec_id"), col("m.c_id").as("c_id"), col("m.d2").as("d2"),
        col("m.qv").as("qv"), col("m.n2").as("n2"))
    val w = Window.partitionBy("c_id").orderBy(col("d2").desc, col("vec_id").asc)
    val rnk = asg.withColumn("pos", row_number().over(w))
    val u = rnk.select(col("c_id"), col("pos").as("pos_u"),
      col("vec_id").as("u_id"), col("qv").as("qv_u"), col("n2").as("n2_u"))
    val pairs = rnk.join(u, Seq("c_id"))
      .filter(col("pos_u") < col("pos"))
      .withColumn("cos",
        dotLong(s, col("qv_u"), col("qv")).cast(DoubleType) /
          (sqrt(col("n2_u").cast(DoubleType)) * sqrt(col("n2").cast(DoubleType))))
    // per vector: the most-similar EARLIER candidate (ties → lower id)
    val best = pairs.groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("u_id")).as("nid"))).as("b"))
      .select(col("vec_id"), col("b.cos").as("best_cos"),
        (-col("b.nid")).as("best_u"))
    rnk.join(best, Seq("vec_id"), "left")
      .withColumn("is_dup",
        coalesce(col("best_cos") >= tau, lit(false)).cast(IntegerType))
      .select(col("vec_id"), col("c_id"), col("pos").cast(IntegerType).as("pos"),
        col("is_dup"),
        when(col("is_dup") === 1, col("best_u")).as("dup_of"),
        when(col("is_dup") === 1, col("best_cos")).as("dup_cos"))
      .orderBy("vec_id")
  }

  val semanticDedupSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, qv,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(qv) x)) AS n2
       |  FROM (SELECT vec_id, $quantizeSql AS qv FROM embeddings)),
       |c AS (SELECT vec_id AS c_id, qv AS c_qv, n2 AS c_n2 FROM e WHERE vec_id < 5),
       |sc AS (
       |  SELECT e.vec_id, e.qv, e.n2, c.c_id,
       |    e.n2
       |    - 2 * (SELECT CAST(SUM(x*y) AS BIGINT)
       |           FROM (SELECT unnest(e.qv) x, unnest(c.c_qv) y))
       |    + c.c_n2 AS d2
       |  FROM e, c),
       |asg AS (
       |  SELECT vec_id, qv, n2, c_id, d2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY d2 ASC, c_id ASC) AS rk FROM sc)
       |  WHERE rk = 1),
       |rnk AS (
       |  SELECT vec_id, qv, n2, c_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY c_id
       |      ORDER BY d2 DESC, vec_id ASC) AS pos
       |  FROM asg),
       |pr AS (
       |  SELECT v.vec_id, u.vec_id AS u_id,
       |    (SELECT CAST(SUM(x*y) AS BIGINT)
       |     FROM (SELECT unnest(u.qv) x, unnest(v.qv) y))
       |      / (sqrt(CAST(u.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE))) AS cos
       |  FROM rnk v JOIN rnk u ON u.c_id = v.c_id AND u.pos < v.pos),
       |best AS (
       |  SELECT vec_id, cos AS best_cos, u_id AS best_u FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, u_id ASC) AS rk FROM pr)
       |  WHERE rk = 1)
       |SELECT r.vec_id, r.c_id, CAST(r.pos AS INTEGER) AS pos,
       |  CAST(CASE WHEN b.best_cos >= 0.30 THEN 1 ELSE 0 END AS INTEGER) AS is_dup,
       |  CASE WHEN b.best_cos >= 0.30 THEN b.best_u END AS dup_of,
       |  CASE WHEN b.best_cos >= 0.30 THEN b.best_cos END AS dup_cos
       |FROM rnk r LEFT JOIN best b ON b.vec_id = r.vec_id
       |ORDER BY r.vec_id""".stripMargin

  /** Product-quantization ANN (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) with
    * asymmetric-distance (ADC) scoring, in exact integer arithmetic:
    * the 64-dim quantized vector splits into m=4 subspaces of 16
    * dims; each subspace has a k=16-entry codebook (seeded from the
    * 16 lowest vec_ids' subvectors — the same deterministic-seed
    * convention as `q_kmeans_assign`; production refines them with
    * [[graft.operators.KMeans.fit]] per subspace); every vector
    * encodes to m codes by exact-L2 argmin (min-struct aggregate,
    * tie → lower code); a query builds an m×k distance lookup table
    * (512 exact int64 cells for 8 queries) and every corpus vector's
    * estimated distance is the SUM of m table lookups on its codes.
    *
    * Why this is THE 100 TB ANN memory path: the scan side touches
    * only the code table — m small ints per vector (4 bytes here vs
    * 256 for the raw vector, a 64× compression), one broadcast-hash
    * join against the 512-row LUT and a map-side-combining sum; the
    * full vectors are read ONCE at encode time and never again. The
    * codebook/LUT sides are constant-size at any corpus scale.
    * Overflow: each subspace d2 ≤ 16·(2·10³)² ≈ 6.4×10⁷, summed ×4 —
    * far inside int64. Estimated (not exact) ranks are the PQ
    * contract; recall vs brute force is measured in the 1M ablation
    * (PLANS.md), with exact re-rank of the PQ top-C as the standard
    * refinement when recall@10 must reach 1.0. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductQuantizer
    val (m, subLen, k) = (4, 16, 16)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cb = ProductQuantizer.seedCodebooks(e, m, subLen, k)
    val codes = ProductQuantizer.encode(s, e, cb, m, subLen)
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv"))
    ProductQuantizer.adcTopK(s, codes, cb, qs, 10, m, subLen,
        excludeSelf = true)
      .orderBy("q_id", "rnk")
  }

  val annPqSql: String =
    s"""WITH e AS (SELECT vec_id, $quantizeSql AS qv FROM embeddings),
       |subs AS (
       |  SELECT vec_id, CAST(i AS INTEGER) AS sub,
       |    qv[(i*16+1):(i*16+16)] AS sv
       |  FROM e, range(4) t(i)),
       |cents AS (SELECT vec_id AS c_id, sub, sv AS c_sv FROM subs WHERE vec_id < 16),
       |enc AS (
       |  SELECT vec_id, sub, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, c_id ASC) AS rk
       |  FROM (
       |    SELECT s.vec_id, s.sub, c.c_id,
       |      (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(s.sv) x))
       |      - 2*(SELECT CAST(SUM(x*y) AS BIGINT)
       |           FROM (SELECT unnest(s.sv) x, unnest(c.c_sv) y))
       |      + (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(c.c_sv) x)) AS d2
       |    FROM subs s JOIN cents c USING (sub))),
       |codes AS (SELECT vec_id, sub, c_id AS code FROM enc WHERE rk = 1),
       |lut AS (
       |  SELECT q.vec_id AS q_id, c.sub, c.c_id,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(q.sv) x))
       |    - 2*(SELECT CAST(SUM(x*y) AS BIGINT)
       |         FROM (SELECT unnest(q.sv) x, unnest(c.c_sv) y))
       |    + (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(c.c_sv) x)) AS d2
       |  FROM subs q JOIN cents c USING (sub) WHERE q.vec_id < 8),
       |est AS (
       |  SELECT l.q_id, co.vec_id, CAST(SUM(l.d2) AS BIGINT) AS d2_est
       |  FROM codes co JOIN lut l ON l.sub = co.sub AND l.c_id = co.code
       |  GROUP BY l.q_id, co.vec_id),
       |r AS (
       |  SELECT q_id, vec_id, d2_est,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2_est ASC, vec_id ASC) AS rnk
       |  FROM est WHERE vec_id <> q_id)
       |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, vec_id, d2_est
       |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin

  /** IVF-PQ ANN (Jégou et al. TPAMI 2011 §IV, "IVFADC" — the
    * billion-scale production architecture): PQ codes are learned
    * and scored over RESIDUALS `v − centroid(cell(v))` against a
    * coarse quantizer, and a query probes only its nProbe nearest
    * cells. Plain PQ's ADC resolution is the codebook cell radius —
    * on a clustered corpus that is the CLUSTER scale, and the 1M
    * ablation (PLANS.md) measured recall@10 = 0 for `q_ann_pq`'s
    * geometry there; residual encoding re-centers every cell at the
    * origin so the same codebook budget resolves the within-cell
    * scale where true neighbors live. Deterministic seed
    * configuration (coarse = 8 lowest vec_ids, residual codebooks =
    * 16 lowest vec_ids' residual subvectors, nProbe = 2) so the
    * whole build+probe is oracle-checkable; production swaps seeds
    * for per-subspace Lloyd rounds via [[graft.operators.IvfPq]]'s
    * `coarseRounds`/`pqRounds` knobs. Scan-side cost at scale: the
    * code table is m ints + a cell id per vector (64× smaller than
    * raw), bucketed by `cell` so the probe's cell predicate prunes
    * at the scan; LUT and centroid frames are constant-size. */
  /** Session memo for the full-corpus IVF-PQ index triple — shared by
    * `q_ann_ivfpq` and `q_ann_ivfpq_rerank`, which probe the SAME
    * frozen build (VERDICT r14 #4: the clusterLabels device applied
    * to the index family). Each frame is localCheckpoint-materialized
    * so reuse across actions is safe; the bench's `q_ann_ivfpq_cold`
    * entry reports the standalone build cost (rerank's cold is
    * bounded by it plus rerank's warm number — the q_dedup_canonical
    * argument). */
  private val ivfPqBuildMemo =
    new SessionMemo.Memo[(DataFrame, DataFrame, DataFrame)]

  private def ivfPqBuild(s: SparkSession, dir: String,
      kc: Int, m: Int, subLen: Int, kCb: Int): (DataFrame, DataFrame, DataFrame) =
    // parameters in the key (review r15): keyed on dir alone, a future
    // caller with a different geometry would silently receive the
    // wrong cached build
    ivfPqBuildMemo(s, s"$dir#kc=$kc,m=$m,sl=$subLen,kcb=$kCb") {
      import graft.operators.IvfPq
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      val (cents, cbs, codes) = IvfPq.build(s, e, kc, 0, m, subLen, kCb, 0)
      (cents.localCheckpoint(true), cbs.localCheckpoint(true),
        codes.localCheckpoint(true))
    }

  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfPq
    val (kc, m, subLen, kCb, nProbe) = (8, 4, 16, 16, 2)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val (cents, cbs, codes) = ivfPqBuild(s, dir, kc, m, subLen, kCb)
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv"))
    IvfPq.probe(s, cents, cbs, codes, qs, 10, nProbe, m, subLen,
        excludeSelf = true)
      .orderBy("q_id", "rnk")
  }

  val annIvfPqSql: String =
    s"""WITH e AS (SELECT vec_id, $quantizeSql AS qv FROM embeddings),
       |cc AS (SELECT vec_id AS cell, qv AS cv FROM e WHERE vec_id < 8),
       |asg0 AS (
       |  SELECT e.vec_id, c.cell, e.qv, c.cv,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(e.qv) x))
       |    - 2*(SELECT CAST(SUM(x*y) AS BIGINT)
       |         FROM (SELECT unnest(e.qv) x, unnest(c.cv) y))
       |    + (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(c.cv) x)) AS d2
       |  FROM e JOIN cc c ON TRUE),
       |asgr AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rk
       |  FROM asg0),
       |asg AS (
       |  SELECT vec_id, cell,
       |    list_transform(range(1, 65), i -> qv[i] - cv[i]) AS rv
       |  FROM asgr WHERE rk = 1),
       |rsubs AS (
       |  SELECT vec_id, cell, CAST(i AS INTEGER) AS sub,
       |    rv[(i*16+1):(i*16+16)] AS sv
       |  FROM asg, range(4) t(i)),
       |cents AS (SELECT vec_id AS c_id, sub, sv AS c_sv FROM rsubs WHERE vec_id < 16),
       |enc AS (
       |  SELECT vec_id, cell, sub, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, c_id ASC) AS rk
       |  FROM (
       |    SELECT s.vec_id, s.cell, s.sub, c.c_id,
       |      (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(s.sv) x))
       |      - 2*(SELECT CAST(SUM(x*y) AS BIGINT)
       |           FROM (SELECT unnest(s.sv) x, unnest(c.c_sv) y))
       |      + (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(c.c_sv) x)) AS d2
       |    FROM rsubs s JOIN cents c USING (sub))),
       |codes AS (SELECT vec_id, cell, sub, c_id AS code FROM enc WHERE rk = 1),
       |qc AS (
       |  SELECT vec_id AS q_id, cell,
       |    list_transform(range(1, 65), i -> qv[i] - cv[i]) AS qrv
       |  FROM asgr WHERE vec_id < 8 AND rk <= 2),
       |qsubs AS (
       |  SELECT q_id, cell, CAST(i AS INTEGER) AS sub,
       |    qrv[(i*16+1):(i*16+16)] AS sv
       |  FROM qc, range(4) t(i)),
       |lut AS (
       |  SELECT q.q_id, q.cell, c.sub, c.c_id,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(q.sv) x))
       |    - 2*(SELECT CAST(SUM(x*y) AS BIGINT)
       |         FROM (SELECT unnest(q.sv) x, unnest(c.c_sv) y))
       |    + (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(c.c_sv) x)) AS d2
       |  FROM qsubs q JOIN cents c USING (sub)),
       |est AS (
       |  SELECT l.q_id, co.vec_id, CAST(SUM(l.d2) AS BIGINT) AS d2_est
       |  FROM codes co
       |  JOIN lut l ON l.cell = co.cell AND l.sub = co.sub AND l.c_id = co.code
       |  GROUP BY l.q_id, co.vec_id),
       |r AS (
       |  SELECT q_id, vec_id, d2_est,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2_est ASC, vec_id ASC) AS rnk
       |  FROM est WHERE vec_id <> q_id)
       |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, vec_id, d2_est
       |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin

  /** INCREMENTAL IVF-PQ — index maintenance without rebuild for the
    * production ANN architecture (VERDICT r13 #5; the IVF-PQ analogue
    * of [[annIvfIncr]]): the corpus splits by the Knuth-hash
    * convention (buckets < 90 = existing corpus, ≥ 90 = arriving
    * batch), the index — coarse centroids, residual codebooks, code
    * table — is built on the EXISTING side only, and the batch joins
    * via [[graft.operators.IvfPq.append]]: encoded against the FROZEN
    * quantizer and codebooks, scanning only the batch. Two gates ride
    * the result: (1) the probe output is EXACT-oracle-checked row for
    * row against the DuckDB twin, which computes the one-shot
    * full-corpus encode against the same frozen (existing-side-seeded)
    * quantizer — any batch vector the append dropped, duplicated, or
    * mis-encoded lands in a probed cell's ranking and hash-mismatches;
    * (2) `append_ok` asserts the merged code table is bit-identical
    * (exceptAll both ways, zero rows) to the one-shot encode of the
    * grown corpus — covering the unprobed cells the ranking cannot
    * see. Recall vs full-corpus brute force is gated in IvfPqSpec
    * (and measured at 1M in PLANS.md), where the bound belongs: ADC
    * recall is geometry-dependent, not a per-SF constant the oracle
    * could assert. */
  /** Session memo for the incremental-IVF-PQ intermediate bundle —
    * the 90%-side frozen pair, the fold-merged code table, and the
    * one-row `append_ok` equality gate, all materialized. The gate
    * (two full-corpus exceptAll passes) is the query's dominant cost
    * and is a pure function of (session, dir); the bench's `_cold`
    * entry reports it, warm passes time the probe (VERDICT r14 #4). */
  private val ivfPqIncrMemo =
    new SessionMemo.Memo[(DataFrame, DataFrame, DataFrame, DataFrame)]

  def annIvfPqIncr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfPq
    val (kc, m, subLen, kCb, nProbe) = (8, 4, 16, 16, 2)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val (cents, cbs, merged, appendOk) = ivfPqIncrMemo(s, dir) {
      val bucket = pmod(pmod(col("vec_id"), lit(100000000L)) * lit(2654435761L),
        lit(100L))
      val (ce, cb, codes) =
        IvfPq.build(s, e.filter(bucket < 90), kc, 0, m, subLen, kCb, 0)
      val appended = IvfPq.append(s, e.filter(bucket >= 90), ce, cb, m, subLen)
      val mg = codes.unionByName(appended)
      // bit-equality gate over the WHOLE code table (unprobed cells
      // included): merged ≡ one-shot encode of the grown corpus against
      // the same frozen quantizer + codebooks. 1-row frame, broadcast.
      // r19 (guide §2.3): multiset equality via ±1-weighted union +
      // ONE map-side-combining groupBy — every per-row weight sum is
      // zero iff the two tables are equal as multisets, the exact
      // predicate the former mg.exceptAll(oneShot) ∪ oneShot
      // .exceptAll(mg) computed with two extra corpus×m-scale
      // shuffles (exceptAll each re-shuffled BOTH inputs; this was
      // the query's dominant cold cost).
      val oneShot = IvfPq.append(s, e, ce, cb, m, subLen)
      val cols = mg.columns.map(col).toSeq
      val ok = mg.withColumn("_w", lit(1L))
        .unionByName(oneShot.withColumn("_w", lit(-1L)))
        .groupBy(cols: _*).agg(sum(col("_w")).as("_w"))
        .agg((count(when(col("_w") =!= 0L, lit(1))) === 0).as("append_ok"))
      (ce.localCheckpoint(true), cb.localCheckpoint(true),
        mg.localCheckpoint(true), ok.localCheckpoint(true))
    }
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv"))
    IvfPq.probe(s, cents, cbs, merged, qs, 10, nProbe, m, subLen,
        excludeSelf = true)
      .crossJoin(broadcast(appendOk))
      .orderBy("q_id", "rnk")
  }

  /** [[annIvfPqSql]] with the seed selections (coarse cells, residual
    * codebooks) restricted to the EXISTING side of the Knuth-hash
    * split — the one-shot full-corpus encode against the frozen
    * existing-side quantizer, which is exactly what the incremental
    * append must reproduce. */
  val annIvfPqIncrSql: String =
    s"""WITH e AS (SELECT vec_id, $quantizeSql AS qv FROM embeddings),
       |cc AS (SELECT vec_id AS cell, qv AS cv FROM e
       |       WHERE vec_id < 8 AND ((vec_id % 100000000) * 2654435761) % 100 < 90),
       |asg0 AS (
       |  SELECT e.vec_id, c.cell, e.qv, c.cv,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(e.qv) x))
       |    - 2*(SELECT CAST(SUM(x*y) AS BIGINT)
       |         FROM (SELECT unnest(e.qv) x, unnest(c.cv) y))
       |    + (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(c.cv) x)) AS d2
       |  FROM e JOIN cc c ON TRUE),
       |asgr AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rk
       |  FROM asg0),
       |asg AS (
       |  SELECT vec_id, cell,
       |    list_transform(range(1, 65), i -> qv[i] - cv[i]) AS rv
       |  FROM asgr WHERE rk = 1),
       |rsubs AS (
       |  SELECT vec_id, cell, CAST(i AS INTEGER) AS sub,
       |    rv[(i*16+1):(i*16+16)] AS sv
       |  FROM asg, range(4) t(i)),
       |cents AS (SELECT vec_id AS c_id, sub, sv AS c_sv FROM rsubs
       |          WHERE vec_id < 16 AND ((vec_id % 100000000) * 2654435761) % 100 < 90),
       |enc AS (
       |  SELECT vec_id, cell, sub, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, c_id ASC) AS rk
       |  FROM (
       |    SELECT s.vec_id, s.cell, s.sub, c.c_id,
       |      (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(s.sv) x))
       |      - 2*(SELECT CAST(SUM(x*y) AS BIGINT)
       |           FROM (SELECT unnest(s.sv) x, unnest(c.c_sv) y))
       |      + (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(c.c_sv) x)) AS d2
       |    FROM rsubs s JOIN cents c USING (sub))),
       |codes AS (SELECT vec_id, cell, sub, c_id AS code FROM enc WHERE rk = 1),
       |qc AS (
       |  SELECT vec_id AS q_id, cell,
       |    list_transform(range(1, 65), i -> qv[i] - cv[i]) AS qrv
       |  FROM asgr WHERE vec_id < 8 AND rk <= 2),
       |qsubs AS (
       |  SELECT q_id, cell, CAST(i AS INTEGER) AS sub,
       |    qrv[(i*16+1):(i*16+16)] AS sv
       |  FROM qc, range(4) t(i)),
       |lut AS (
       |  SELECT q.q_id, q.cell, c.sub, c.c_id,
       |    (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(q.sv) x))
       |    - 2*(SELECT CAST(SUM(x*y) AS BIGINT)
       |         FROM (SELECT unnest(q.sv) x, unnest(c.c_sv) y))
       |    + (SELECT CAST(SUM(x*x) AS BIGINT) FROM (SELECT unnest(c.c_sv) x)) AS d2
       |  FROM qsubs q JOIN cents c USING (sub)),
       |est AS (
       |  SELECT l.q_id, co.vec_id, CAST(SUM(l.d2) AS BIGINT) AS d2_est
       |  FROM codes co
       |  JOIN lut l ON l.cell = co.cell AND l.sub = co.sub AND l.c_id = co.code
       |  GROUP BY l.q_id, co.vec_id),
       |r AS (
       |  SELECT q_id, vec_id, d2_est,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2_est ASC, vec_id ASC) AS rnk
       |  FROM est WHERE vec_id <> q_id)
       |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, vec_id, d2_est,
       |  TRUE AS append_ok
       |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin

  /** IVF-PQ + EXACT RERANK — the complete production serving recipe
    * (r14): ADC over the probed cells prunes the corpus to a top-C
    * candidate slice (C = 40 here), then
    * [[graft.operators.ProductQuantizer.rerank]] fetches ONLY those
    * C vectors' full embeddings and re-orders by exact L2 — the
    * standard refinement that took the 1M ablations' recall@10 from
    * 0.95–0.975 (ADC) to 1.000. Scan shape at 100 TB: the corpus is
    * touched once through the pruned code table (ADC) and once
    * through a |q|·C-row semi-slice (rerank) — never a full-width
    * corpus scan for scoring. Exact d2 is integer arithmetic, so the
    * whole two-stage pipeline is oracle-checked end-to-end: the twin
    * extends [[annIvfPqSql]] with the candidate cut and the exact
    * re-rank. */
  def annIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IvfPq, ProductQuantizer}
    val (kc, m, subLen, kCb, nProbe, c) = (8, 4, 16, 16, 2, 40)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    // the SAME frozen build q_ann_ivfpq probes (session-memoized —
    // identical parameters, identical deterministic seeds)
    val (cents, cbs, codes) = ivfPqBuild(s, dir, kc, m, subLen, kCb)
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv"))
    val cand = IvfPq.probe(s, cents, cbs, codes, qs, c, nProbe, m, subLen,
      excludeSelf = true)
    ProductQuantizer.rerank(s, cand, e, qs, k = 10)
      .orderBy("q_id", "rnk")
  }

  /** [[annIvfPqSql]] extended with the top-C cut and the exact-L2
    * re-rank — shares the whole build/probe prefix verbatim so the
    * two stages cannot drift apart. */
  val annIvfPqRerankSql: String = {
    val adcTail =
      """SELECT q_id, CAST(rnk AS INTEGER) AS rnk, vec_id, d2_est
        |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin
    require(annIvfPqSql.endsWith(adcTail),
      "annIvfPqRerankSql must extend annIvfPqSql's final select")
    annIvfPqSql.stripSuffix(adcTail).stripSuffix("\n") + ",\n" +
      """cand AS (SELECT q_id, vec_id FROM r WHERE rnk <= 40),
        |rr0 AS (
        |  SELECT c.q_id, c.vec_id,
        |    (SELECT CAST(SUM((x-y)*(x-y)) AS BIGINT)
        |     FROM (SELECT unnest(q.qv) x, unnest(v.qv) y)) AS d2
        |  FROM cand c
        |  JOIN e q ON q.vec_id = c.q_id
        |  JOIN e v ON v.vec_id = c.vec_id),
        |rr AS (
        |  SELECT q_id, vec_id, d2,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2 ASC, vec_id ASC) AS rnk
        |  FROM rr0)
        |SELECT q_id, CAST(rnk AS INTEGER) AS rnk, vec_id, d2
        |FROM rr WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin
  }

  /** STORED-STATE IVF-PQ serving — `q_ann_ivfpq` answered from the
    * persisted [[graft.streaming.StreamingIvfPq]] index instead of an
    * in-memory build (r14; the `q_rag_incremental` design applied to
    * the production ANN layout): the corpus folds in as two
    * id-disjoint batches, the first seeding and freezing the coarse
    * quantizer + residual codebooks (its 8/16 smallest vec_ids = the
    * corpus's, since ids are dense from 0 — the one-shot seed
    * exactly), each batch paying one encode; the probe reads the
    * stored code table partition/row-pruned to its probed cells.
    * Because [[graft.operators.IvfPq.append]] is a pure per-vector
    * function of the frozen pair, fold ≡ one-shot encode bit-for-bit
    * — so the oracle is [[annIvfPqSql]] VERBATIM, the strongest gate
    * for a stored path (any divergence in seeding, folding, state
    * round-tripping, or cell pruning hash-mismatches). In-query the
    * state lives in a temp dir (driver queries are standalone); the
    * production swap-in point is the `stateDir` of
    * `StreamingIvfPq.appendBatch`/`probe`/`fit`. */
  /** Session memo for the in-query stored IVF-PQ state dir — built
    * once per (session, dir), served from on every later call; the
    * `_cold` bench entry reports the standalone fold+serve cost (the
    * ragIncremental device, VERDICT r14 #4). `file://`-pinned
    * (ADVICE r14); eviction deletes the dir, the exit hook backstops. */
  private val servedStateMemo =
    new SessionMemo.Memo[String](SessionMemo.deleteTempDir)

  def annIvfPqServed(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingIvfPq
    val (kc, m, subLen, kCb, nProbe) = (8, 4, 16, 16, 2)
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val state = servedStateMemo(s, dir) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx")
      graft.queries.SessionMemo.trackTempDir(tmp.toFile)
      val tmpUri = tmp.toUri.toString
      StreamingIvfPq.appendBatch(s, tmpUri,
        e.filter(col("vec_id") < 100), kc, m, subLen, kCb, 0L)
      StreamingIvfPq.appendBatch(s, tmpUri,
        e.filter(col("vec_id") >= 100), kc, m, subLen, kCb, 1L)
      tmpUri
    }
    val res = StreamingIvfPq.probe(s, state,
      e.filter(col("vec_id") < 8), k = 10, nProbe, m, subLen,
      excludeSelf = true)
    // ≤ 8·k rows: pin on the DRIVER so no recomputation path reaches
    // into the state dir after a memo eviction deletes it
    s.createDataFrame(
        java.util.Arrays.asList(res.collect(): _*), res.schema)
      .orderBy("q_id", "rnk")
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_knn_bruteforce", knnBruteForce, Some(knnBruteForceSql)),
    QueryDef("q_semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    QueryDef("q_kmeans_assign", kmeansAssign, Some(kmeansAssignSql)),
    QueryDef("q_embed_outliers", embedOutliers, Some(embedOutliersSql)),
    QueryDef("q_embed_neardup", embedNearDup, Some(embedNearDupSql)),
    QueryDef("q_embed_clusters", embedClusters, Some(embedClustersSql)),
    QueryDef("q_ann_lsh", annLsh, Some(annLshSql)),
    QueryDef("q_ann_ivf", annIvf, Some(annIvfSql)),
    QueryDef("q_ann_ivf_incr", annIvfIncr, Some(annIvfIncrSql)),
    QueryDef("q_ann_pq", annPq, Some(annPqSql)),
    QueryDef("q_ann_ivfpq", annIvfPq, Some(annIvfPqSql)),
    QueryDef("q_ann_ivfpq_incr", annIvfPqIncr, Some(annIvfPqIncrSql)),
    // fold ≡ one-shot: the stored-state serving path shares the one-shot twin
    QueryDef("q_ann_ivfpq_served", annIvfPqServed, Some(annIvfPqSql)),
    QueryDef("q_ann_ivfpq_rerank", annIvfPqRerank, Some(annIvfPqRerankSql)))
}
