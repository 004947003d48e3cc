package graft

import org.apache.spark.sql.functions.col

import graft.functions.VectorOps
import graft.operators.{IvfPq, ProductQuantizer}
import graft.queries.VectorQueries

/** IVF-PQ correctness and the residual-encoding contrast that
  * motivates it. The load-bearing construction: a clustered corpus
  * whose every RESIDUAL is itself a residual-codebook entry, so
  * IVF-PQ's ADC estimates are the exact L2 distances (and its top-k
  * must equal brute force), while plain PQ on the SAME corpus
  * collapses every cluster to one code word — all within-cluster
  * estimates tie at 0 and the ranking degenerates to vec_id order.
  * This is the spec-scale reproduction of the 1M recall-collapse
  * ablation (PLANS.md). */
class IvfPqSpec extends SparkTestBase {
  import spark.implicits._

  // 8 clusters on a line (centers 16,32,..,128 per dim — far apart),
  // 16 shared noise patterns with |p| ≤ 3/128 per dim. Dyadic values
  // on purpose: center + pattern is EXACT in float at every cluster
  // magnitude, so the quantized residual of variant j is the same
  // integer vector in every cluster — the "every residual is a
  // codebook entry" premise holds bit-exactly. (Decimal noise like
  // 0.01f floors differently at magnitude 10 vs 80 and the premise
  // silently breaks by one quantization unit per dim.)
  private val dims = 64
  private def pattern(j: Int): Array[Float] =
    Array.tabulate(dims)(i => ((((j * 31 + i * 17) % 7) - 3) / 128f))
  private def center(c: Int): Array[Float] =
    Array.fill(dims)(16f * (c + 1))
  private def plus(a: Array[Float], b: Array[Float]): Array[Float] =
    a.zip(b).map { case (x, y) => x + y }

  /** ids 0..7 = centers; 8..23 = cluster 0's variants p1..p16 (the
    * residual-codebook seeds); 24.. = clusters 1..7 × p1..p16. */
  private lazy val vecs: Seq[(Long, Array[Float])] =
    (0 until 8).map(c => c.toLong -> center(c)) ++
      (1 to 16).map(j => (7 + j).toLong -> plus(center(0), pattern(j))) ++
      (for (c <- 1 until 8; j <- 1 to 16)
        yield (24 + (c - 1) * 16 + (j - 1)).toLong -> plus(center(c), pattern(j)))

  private lazy val dir: String = {
    val d = Fixtures.tempDir("ivfpq").toString
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val q: Map[Long, Array[Long]] = vecs.map { case (id, v) =>
    id -> v.map(x => math.floor(x.toDouble * 1000).toLong)
  }.toMap
  private def d2(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  private def quantized =
    graft.Tables.embeddings(spark, dir).select(col("vec_id"),
      VectorOps.quantize(col("embedding")).as("qv"))

  test("exact-residual corpus: IVF-PQ ADC == brute-force L2 top-10, estimates exact") {
    val e = quantized
    val (cents, cbs, codes) = IvfPq.build(spark, e, kc = 8, coarseRounds = 0,
      m = 4, subLen = 16, kCb = 24, pqRounds = 0)
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv"))
    val got = IvfPq.probe(spark, cents, cbs, codes, qs, k = 10, nProbe = 1,
        m = 4, subLen = 16, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val ids = vecs.map(_._1)
    for (qid <- 0L until 8L) {
      val expected = ids.filter(_ != qid)
        .map(v => v -> d2(q(qid), q(v)))
        .sortBy { case (v, d) => (d, v) }.take(10)
      val mine = got.filter(_._1 == qid).sortBy(_._2)
      assert(mine.map(r => (r._3, r._4)).toSeq === expected,
        s"query $qid: IVF-PQ top-10 != exact L2 top-10")
      // nProbe=1 pruning: every hit is in the query's own cluster
      val own = Set(qid) ++ (if (qid == 0L) (8L to 23L).toSet
        else (24 + (qid - 1) * 16 until 24 + qid * 16).toSet)
      assert(mine.forall(r => own.contains(r._3)))
    }
  }

  test("plain PQ on the same corpus: within-cluster estimates all tie (zero discrimination)") {
    val e = quantized
    val cb = ProductQuantizer.seedCodebooks(e, 4, 16, 16)
    val codes = ProductQuantizer.encode(spark, e, cb, 4, 16)
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv"))
    val got = ProductQuantizer.adcTopK(spark, codes, cb, qs, 10, 4, 16,
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // Codebooks resolve only the CLUSTER scale here: every cluster-c
    // vector encodes to center c's codes, so for query c all
    // within-cluster d2_est collapse to one value and rank order is
    // vec_id order — NOT the true distance order IVF-PQ recovers.
    for (qid <- 1L until 8L) {
      val mine = got.filter(_._1 == qid).sortBy(_._2)
      assert(mine.map(_._4).distinct.length == 1,
        s"query $qid: plain-PQ estimates unexpectedly discriminate")
      assert(mine.map(_._3).toSeq == mine.map(_._3).sorted.toSeq)
    }
  }

  test("q_ann_ivfpq over sf0.001: deterministic, dense ranks, 10 hits per query") {
    val a = VectorQueries.annIvfPq(spark, sfDir).collect()
    val b = VectorQueries.annIvfPq(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq)
    val byQ = a.groupBy(_.getLong(0))
    assert(byQ.size == 8)
    for ((_, rows) <- byQ)
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 10))
  }

  test("append: arriving batch encodes against the frozen quantizer; merged " +
      "code table bit-equals the one-shot encode; probe recall vs brute force intact") {
    // VERDICT r13 #5: the production ANN architecture gets the same
    // incremental maintenance path as plain IVF (Similarity.ivfAppend)
    // — an arriving batch is encoded against the FROZEN coarse
    // quantizer + codebooks, scanning only the batch.
    val e = quantized
    val existing = e.filter(col("vec_id") < 100) // clusters 0..4 complete
    val batch = e.filter(col("vec_id") >= 100)   // clusters 5..7 variants
    val (cents, cbs, codes) = IvfPq.build(spark, existing, kc = 8,
      coarseRounds = 0, m = 4, subLen = 16, kCb = 24, pqRounds = 0)
    val appended = IvfPq.append(spark, batch, cents, cbs, m = 4, subLen = 16)
    // per-batch cost shape: one code row per (batch vector, subspace)
    assert(appended.count() === batch.count() * 4)
    val merged = codes.unionByName(appended)
    // bit-equality: encoding is a pure per-vector function of the
    // frozen (centroids, codebooks), so build-then-append must equal
    // the one-shot encode of the grown corpus — both directions empty
    val oneShot = IvfPq.append(spark, e, cents, cbs, m = 4, subLen = 16)
    assert(merged.exceptAll(oneShot).unionByName(oneShot.exceptAll(merged)).isEmpty,
      "append path diverges from the one-shot encode against the same frozen quantizer")
    // recall gate vs full-corpus brute force: on the exact-residual
    // corpus ADC estimates are exact L2, so the merged-table probe
    // must return the brute-force top-10 verbatim (recall 1.0) — for
    // EVERY query, including 6 and 7, whose entire neighbor sets
    // arrived in the batch (a dropped or mis-encoded batch vector
    // would break their rankings first)
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv"))
    val got = IvfPq.probe(spark, cents, cbs, merged, qs, k = 10, nProbe = 1,
        m = 4, subLen = 16, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val ids = vecs.map(_._1)
    for (qid <- 0L until 8L) {
      val expected = ids.filter(_ != qid).map(v => v -> d2(q(qid), q(v)))
        .sortBy { case (v, d) => (d, v) }.take(10)
      assert(got.filter(_._1 == qid).sortBy(_._2).map(r => (r._3, r._4)).toSeq
        === expected, s"query $qid: merged-index top-10 != brute force")
    }
    // an empty batch appends nothing
    assert(IvfPq.append(spark, e.limit(0), cents, cbs, 4, 16).isEmpty)
  }

  test("q_ann_ivfpq_incr over sf0.001: deterministic, dense ranks, append_ok") {
    val a = VectorQueries.annIvfPqIncr(spark, sfDir).collect()
    val b = VectorQueries.annIvfPqIncr(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq)
    val byQ = a.groupBy(_.getLong(0))
    assert(byQ.size == 8)
    for ((_, rows) <- byQ)
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 10))
    assert(a.forall(_.getBoolean(4)), "append/one-shot code tables diverge")
  }

  test("rerank returns the exact-L2 order over any candidate slice") {
    val e = quantized
    // candidates deliberately include far vectors and exclude one
    // true neighbor per query: rerank must order EXACTLY what it is
    // given by true distance, no more, no less.
    import spark.implicits._
    val cand = (for (q <- 0L until 4L) yield {
      val own = if (q == 0L) (8L to 15L) else (24 + (q - 1) * 16 until 24 + (q - 1) * 16 + 8)
      own.map(v => (q, v)) :+ ((q, (q + 1) % 8 match { case c => c })) // one far centroid
    }).flatten.toDF("q_id", "vec_id")
    val qs = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("qv"))
    val got = ProductQuantizer.rerank(spark, cand, e, qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val candSet = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (q <- 0L until 4L) {
      val mine = got.filter(_._1 == q).sortBy(_._2)
      val expected = candSet.filter(_._1 == q).map(_._2).toSeq
        .filter(_ != q)
        .map(v => v -> d2(this.q(q), this.q(v)))
        .sortBy { case (v, d) => (d, v) }.take(5)
      assert(mine.map(r => (r._3, r._4)).toSeq === expected)
    }
  }

  test("degenerate shapes: kc past the corpus, nProbe past the cells, k past the candidates") {
    // 10 tiny vectors, kc=64 seed (only 10 materialize), nProbe=99
    // (clamps to the real cells), k=50 (returns what exists). The
    // operator must degrade to exact behavior, never throw or pad.
    import spark.implicits._
    val tiny = (0L until 10L)
      .map(i => (i, Array.tabulate(64)(d => (i * 100 + d).toFloat)))
      .map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
    val dir = Fixtures.tempDir("ivfpq-tiny").toString
    tiny.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = graft.Tables.embeddings(spark, dir).select(col("vec_id"),
      VectorOps.quantize(col("embedding")).as("qv"))
    val (cents, cbs, codes) = IvfPq.build(spark, e, kc = 64, coarseRounds = 0,
      m = 4, subLen = 16, kCb = 64, pqRounds = 0)
    assert(cents.count() == 10) // seeds clamp to the corpus
    val qs = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("qv"))
    val got = IvfPq.probe(spark, cents, cbs, codes, qs, k = 50, nProbe = 99,
        m = 4, subLen = 16, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // every cell probed + every vector a codebook entry ⇒ exact: all
    // 9 non-self vectors returned per query, in true distance order
    val tq: Map[Long, Array[Long]] = (0L until 10L).map(i =>
      i -> Array.tabulate(64)(d =>
        math.floor((i * 100 + d).toFloat.toDouble * 1000).toLong)).toMap
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L))
    for ((qid, rows) <- byQ) {
      assert(rows.length == 9)
      val expected = (0L until 10L).filter(_ != qid)
        .map(v => v -> d2(tq(qid), tq(v)))
        .sortBy { case (v, d) => (d, v) }.map(_._1)
      assert(rows.sortBy(_._2).map(_._3).toSeq === expected)
    }
  }

  test("autoKc on the planted corpus: rejects under-resolved kc, picks the matched one") {
    val e = quantized
    // alpha=1.25: the held-out nearest-FIT-point distance understates
    // nothing here, but a Lloyd centroid sits at the cluster MEAN, so
    // the matched-kc median residual runs a few % above the nn scale
    // (measured 1.106 on this corpus) — alpha is the documented knob
    // that absorbs exactly this sample-geometry slack.
    val (kc, cents, diag) = IvfPq.autoKc(spark, e,
      grid = Seq(2, 4, 8, 16), alpha = 1.25)
    assert(kc == 8, s"autoKc picked $kc, not the natural cluster count")
    val d = diag.collect().map(r =>
      (r.getInt(0), r.getDouble(3), r.getBoolean(4))).sortBy(_._1)
    // kc below the natural count leaves residuals at CLUSTER scale —
    // ratios 5-6 orders of magnitude past any sane alpha; the rule
    // must skip them, not "almost qualify"
    assert(d.filter(_._1 < 8).forall(_._2 > 1000.0))
    assert(d.collect { case (k, _, true) => k }.toSeq == Seq(8))
    // lazy walk (VERDICT r12 #3): the winner is 8, so 16 must never be
    // fitted — the diag frame holds exactly the prefix of the grid
    assert(d.map(_._1).toSeq == Seq(2, 4, 8),
      s"grid points past the winner were fitted: ${d.map(_._1).toSeq}")
    // end-to-end: the SAMPLE-fitted centroids feed buildWith, and
    // probe+rerank over the full corpus recovers the brute-force
    // top-1 for every centroid query (own-cluster cells are probed
    // first by construction, rerank is exact over the candidates)
    val (ce, cb, co) = IvfPq.buildWith(spark, e, cents,
      m = 4, subLen = 16, kCb = 24, pqRounds = 0)
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv"))
    val c100 = IvfPq.probe(spark, ce, cb, co, qs, k = 100, nProbe = 2,
      m = 4, subLen = 16, excludeSelf = true)
    val got = ProductQuantizer.rerank(spark, c100, e, qs, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val ids = vecs.map(_._1)
    for (qid <- 0L until 8L) {
      val want = ids.filter(_ != qid)
        .map(v => v -> d2(q(qid), q(v))).minBy { case (v, dd) => (dd, v) }._1
      assert(got(qid) == want, s"query $qid: top-1 ${got(qid)} != exact $want")
    }
    // default alpha=1.0 is stricter than the 1.106 matched-kc ratio:
    // nothing qualifies and the rule falls back to the grid maximum —
    // the documented fallback, visible in the diagnostics
    val (kcStrict, _, _) = IvfPq.autoKc(spark, e, grid = Seq(2, 4, 8, 16))
    assert(kcStrict == 16)
  }

  test("autoKc degenerate corpora: clear errors, never an NPE") {
    import spark.implicits._
    // n=10 (far below fitN=4096): the eval share is reserved BEFORE
    // the fit cut clamps, so the held-out sample is non-empty and the
    // call completes instead of NPE-ing on a NULL percentile
    val tiny = (0L until 10L)
      .map(i => (i, Array.tabulate(64)(d => (i * 100 + d).toFloat)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("qv"))
    val (kcT, centsT, _) = IvfPq.autoKc(spark, tiny, grid = Seq(2, 4))
    assert(Seq(2, 4).contains(kcT) && centsT.count() > 0)
    // all-duplicate corpus: every eval-to-fit distance is 0, there is
    // no neighbor scale — must fail with the remedy in the message
    val dup = (0L until 50L).map(i => (i, Array.fill(64)(1.5f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("qv"))
    val ex = intercept[IllegalArgumentException] {
      IvfPq.autoKc(spark, dup, grid = Seq(2))
    }
    assert(ex.getMessage.contains("autoKc") &&
      ex.getMessage.contains("pass kc explicitly"))
  }

  test("trained path: Lloyd coarse + per-subspace codebooks run deterministically") {
    val e = quantized
    def run() = {
      val (cents, cbs, codes) = IvfPq.build(spark, e, kc = 8, coarseRounds = 2,
        m = 4, subLen = 16, kCb = 16, pqRounds = 1)
      val qs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv"))
      IvfPq.probe(spark, cents, cbs, codes, qs, 10, nProbe = 2,
          m = 4, subLen = 16, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toSeq
    }
    val a = run()
    assert(a == run())
    assert(a.groupBy(_._1).size == 8 && a.size == 80)
  }

  test("batch-build degeneracy guard: a matched-coarse pqRounds=0 build " +
      "refuses, the pqRounds remedy works on the same geometry, and an " +
      "all-zero-residual corpus stays legal") {
    // The StreamingIvfPq freeze-time guard (VERDICT r15 #2) mirrored
    // on the BATCH path: kCb = kc on this corpus puts every codebook
    // seed row AT a centroid (ids 0..7 ARE the cluster centers, their
    // residuals exactly zero) while the rest of the corpus carries
    // real residual energy — the silent recall-0 regime.
    val e = quantized
    val eDegen = intercept[IllegalArgumentException] {
      IvfPq.build(spark, e, kc = 8, coarseRounds = 0,
        m = 4, subLen = 16, kCb = 8, pqRounds = 0)._3.count()
    }
    assert(eDegen.getMessage.contains("DEGENERATE") &&
      eDegen.getMessage.contains("pqRounds >= 1"), eDegen.getMessage)
    // the named remedy on the SAME geometry: Lloyd-trained codebooks
    // carry residual energy and the build serves
    val (ce, cb, co) = IvfPq.build(spark, e, kc = 8, coarseRounds = 0,
      m = 4, subLen = 16, kCb = 8, pqRounds = 1)
    assert(co.count() === e.count() * 4) // m=4 code rows per vector
    assert(IvfPq.probe(spark, ce, cb, co,
      e.filter(col("vec_id") < 2).select(col("vec_id").as("q_id"), col("qv")),
      k = 5, nProbe = 2, m = 4, subLen = 16, excludeSelf = true).count() > 0)
    // all-zero-residual corpus: every vector IS a centroid, zero
    // codebooks are exact — the guard must not false-alarm
    val centersOnly = e.filter(col("vec_id") < 8)
    val (_, _, co0) = IvfPq.build(spark, centersOnly, kc = 8,
      coarseRounds = 0, m = 4, subLen = 16, kCb = 8, pqRounds = 0)
    assert(co0.count() === 8 * 4)
    // the oracle geometry (kCb=16 > kc=8: codebook seeds include
    // non-centroid rows with real residuals) is unaffected — pinned
    // by q_ann_ivfpq's own CORRECTNESS row and the suite above.
  }
}
