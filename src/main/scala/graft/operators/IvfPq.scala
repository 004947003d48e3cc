package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.d2

/** IVF-PQ: product quantization over RESIDUALS against a coarse
  * quantizer — the IVFADC scheme of Jégou, Douze & Schmid (TPAMI
  * 2011, §IV), and the architecture behind every production
  * billion-vector index.
  *
  * Why plain PQ is not enough: the ADC estimator's resolution is the
  * PQ cell radius, and on a clustered corpus that radius is the
  * CLUSTER scale — the 1M ablation (PLANS.md) measured recall@10 =
  * 0.000 because every near-tie neighborhood collapsed into one code
  * word. Encoding the residual `v − centroid(cell(v))` re-centers
  * every cell at the origin, so the SAME small codebook budget is
  * spent resolving the within-cell scale where the true neighbors
  * live.
  *
  * Scale shape (100 TB): the coarse centroid frame (kc rows) and PQ
  * codebooks (m·k rows) broadcast everywhere; the corpus is stored
  * ONCE as `(vec_id, cell, m codes)` — at 100 TB of raw vectors the
  * code table is ~64× smaller, and written partitioned/bucketed by
  * `cell` so a probe's `cell ∈ probed` predicate prunes partitions at
  * the scan (locally it is the broadcast-hash join key). Probe cost
  * is |probed cells| of the corpus, never the whole table; the exact
  * full-width vectors are touched only by [[ProductQuantizer.rerank]]
  * on the top-C candidate slice.
  *
  * Everything is EXACT int64 arithmetic over the engine-wide
  * `floor(x·1000)` quantization (residuals are integer differences),
  * so build and probe are deterministic and the seed-parameter
  * configuration is oracle-checked end-to-end as `q_ann_ivfpq`
  * ([[graft.queries.VectorQueries]]).
  */
object IvfPq {

  /** Assign each `(vec_id, qv)` to its nearest coarse centroid and
    * emit the integer residual: `(vec_id, cell, rv)`. One broadcast
    * of the kc-row centroid frame, one argmin — and the argmin
    * aggregates ONLY `(d2, c_id)` scalars; the full vectors join
    * back AFTER the winner is known. Carrying `qv`/`cv` arrays
    * through the aggregate looks harmless but multiplies the
    * aggregate's input volume by kc·|vector| bytes — at kc = 2 000
    * over 1M×64-dim vectors that is a ~2 TB sort-spill stream (it
    * filled the disk in the round-10 ablation); the lean shape's
    * aggregate stream is 24 bytes/candidate regardless of kc or
    * dimensionality, and the join-back touches each vector once. */
  def residuals(s: SparkSession, qvecs: DataFrame,
      centroids: DataFrame): DataFrame = {
    val best = qvecs
      .crossJoin(broadcast(centroids.select(col("c_id"), col("cv"))))
      .select(col("vec_id"), col("c_id"), d2(s, col("qv"), col("cv")).as("_d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("_d2"), col("c_id"))).as("m"))
      .select(col("vec_id"), col("m.c_id").as("cell"))
    best.join(qvecs, Seq("vec_id"))
      .join(broadcast(centroids.select(col("c_id").as("cell"), col("cv"))),
        Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("rv"))
  }

  /** Build the index from a quantized corpus `(vec_id, qv)`:
    * coarse centroids (seed = kc lowest vec_ids, `coarseRounds`
    * Lloyd iterations in quantized space; 0 rounds = seed geometry,
    * the oracle configuration), then PQ codebooks fit on the
    * RESIDUALS (seed = kCb lowest vec_ids' residual subvectors,
    * `pqRounds` Lloyd iterations per subspace), then the code table.
    * Returns (centroids `(c_id, cv)`, codebooks `(sub, c_id, c_sv)`,
    * codes `(vec_id, cell, sub, code)`). */
  def build(s: SparkSession, qvecs: DataFrame, kc: Int, coarseRounds: Int,
      m: Int, subLen: Int, kCb: Int, pqRounds: Int,
      mat: Materializer = Materializer.Local): (DataFrame, DataFrame, DataFrame) = {
    val cents =
      if (coarseRounds == 0)
        qvecs.filter(col("vec_id") < kc)
          .select(col("vec_id").as("c_id"), col("qv").as("cv"))
      else KMeans.fitQuantized(qvecs, kc, coarseRounds, mat)
        .select(col("c_id"), col("cv"))
    buildWith(s, qvecs, cents, m, subLen, kCb, pqRounds, mat)
  }

  /** [[build]] with a PRECOMPUTED coarse quantizer — the entry point
    * for [[autoKc]]'s sample-fitted centroids (the standard
    * production move: quantizers train on a sample, only the single
    * assignment pass touches the full corpus) and for reusing a
    * frozen quantizer across index rebuilds. */
  def buildWith(s: SparkSession, qvecs: DataFrame, cents: DataFrame,
      m: Int, subLen: Int, kCb: Int, pqRounds: Int,
      mat: Materializer = Materializer.Local): (DataFrame, DataFrame, DataFrame) = {
    val res = residuals(s, qvecs, cents)
    // resQv feeds codebooksFor, the guard below, and encode — three
    // consumers, deliberately NOT persisted (ADVICE r16 reviewed):
    // residuals are CORPUS-sized, so pinning them trades one broadcast
    // argmin recompute (cheap, scan-local) for corpus-scale
    // memory/disk pressure in exactly the build that runs at full
    // data scale; the guard's residual pass runs only in the suspect
    // case anyway (the && short-circuits on the constant-size
    // codebook aggregate).
    val resQv = res.select(col("vec_id"), col("cell"), col("rv").as("qv"))
    val codebooks = codebooksFor(resQv, m, subLen, kCb, pqRounds, mat)
    // The same freeze-time degeneracy guard the streamed seeder runs
    // (VERDICT r15 #2): a batch build whose codebooks collapsed at
    // the origin serves recall-0 ADC results just as silently as a
    // frozen streaming pair — refuse it here too, naming the remedy.
    // The all-zero-residual corpus (every vector IS a centroid — zero
    // codebooks exact) stays legal; cost is one constant-size
    // aggregate, plus one residual pass only in the suspect case.
    require(!degenerateCodebooks(codebooks, resQv),
      "IVF-PQ codebooks are DEGENERATE: every codeword has zero " +
        "residual energy while the corpus's residuals do not — the " +
        "coarse quantizer matches the corpus's cluster structure, so " +
        "the kCb-smallest-id seed rows are the centroids' own (zero) " +
        "residuals and every ADC distance collapses to one value " +
        "(recall 0.000 at 1M, PLANS.md). Build with pqRounds >= 1 " +
        "(Lloyd-trained codebooks on the residuals) or use a coarse " +
        "quantizer the corpus does not match")
    val codes = ProductQuantizer.encode(s, resQv, codebooks, m, subLen)
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
    (cents, codebooks, codes)
  }

  /** Residual-space PQ codebooks for a training frame `(vec_id, qv)`
    * of residuals: the deterministic seed rule (the kCb lowest
    * vec_ids' subvectors) at `pqRounds = 0`, else `pqRounds` Lloyd
    * iterations per subspace via [[KMeans.fitQuantized]] (also
    * deterministic — same smallest-id seeding). Factored out of
    * [[buildWith]] (r15) so the STREAMED seeder
    * ([[graft.streaming.StreamingIvfPq]]) can train rounds>0
    * codebooks on its first batch before freezing the pair. */
  def codebooksFor(resQv: DataFrame, m: Int, subLen: Int, kCb: Int,
      pqRounds: Int, mat: Materializer = Materializer.Local): DataFrame =
    if (pqRounds == 0)
      ProductQuantizer.seedCodebooks(resQv, m, subLen, kCb)
    else (0 until m).map { i =>
      KMeans.fitQuantized(resQv.select(col("vec_id"),
          slice(col("qv"), i * subLen + 1, subLen).as("qv")),
        kCb, pqRounds, mat)
        .select(lit(i).as("sub"), col("c_id"), col("cv").as("c_sv"))
    }.reduce(_ unionByName _)

  /** Freeze-time codebook degeneracy check (VERDICT r15 #2 — the 1M
    * ablation's failure made enforceable): when the coarse quantizer
    * happens to MATCH the corpus's cluster structure, the
    * smallest-id seed rows are the centroids' own vectors, their
    * residuals are all-zero, and the frozen `pqRounds = 0` codebooks
    * collapse at the origin — every ADC distance then degenerates to
    * the same value and the index silently serves recall-0 results
    * (measured 0.000 vs 1.000 trained at 1M, PLANS.md). The collapse
    * is directly measurable on the seed batch at freeze time: the
    * codebooks carry ZERO total residual energy while the batch's
    * residuals do not. Returns true exactly in that state; all-zero
    * BATCH residuals (the corpus IS the centroid set — zero codebooks
    * are then exact, not degenerate) stay legal. Cost: one
    * constant-size aggregate over the kCb·m codebook rows, plus one
    * pass over the seed batch's residuals ONLY in the suspect case. */
  def degenerateCodebooks(codebooks: DataFrame, residualQv: DataFrame): Boolean = {
    def energy(df: DataFrame, c: String): Long =
      df.agg(coalesce(sum(expr(s"aggregate($c, 0L, (a, x) -> a + abs(x))")),
        lit(0L))).head().getLong(0)
    energy(codebooks, "c_sv") == 0L && energy(residualQv, "qv") > 0L
  }

  /** Incremental maintenance — encode an ARRIVING batch against the
    * FROZEN coarse quantizer and codebooks and return its code-table
    * rows, ready to union into the stored codes (the IVF-PQ analogue
    * of [[Similarity.ivfAppend]], VERDICT r13 #5): per batch vector,
    * one broadcast argmin against the kc-row centroid frame for its
    * cell + residual, then the per-subspace codebook argmin — the
    * batch is the ONLY thing scanned; the corpus, centroids, and
    * codebooks are never recomputed or rescanned, so per-batch cost
    * follows the batch size at any index size. Because encoding is a
    * pure per-vector function of (centroids, codebooks), the merged
    * table is bit-identical to encoding the grown corpus in one shot
    * against the same frozen quantizer (`buildWith` with these
    * centroids after refitting NOTHING) — spec-pinned in IvfPqSpec
    * and oracle-gated as `q_ann_ivfpq_incr`. Drift of the arriving
    * distribution away from the frozen quantizer is the documented
    * rebuild trigger, exactly as for [[Similarity.ivfAppend]]. */
  def append(s: SparkSession, batch: DataFrame, cents: DataFrame,
      codebooks: DataFrame, m: Int, subLen: Int): DataFrame = {
    val res = residuals(s, batch, cents)
    ProductQuantizer.encode(s,
        res.select(col("vec_id"), col("rv").as("qv")), codebooks, m, subLen)
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
  }

  /** AUTO-SIZE the coarse quantizer — the round-10 ablation's recipe
    * (PLANS.md "IVF-PQ at 1M vectors") made a one-call operator: a
    * kc matched to the corpus's natural cluster count wins BOTH
    * recall and probe cost, because residuals then span only the
    * within-cluster scale the PQ codebooks can resolve. The
    * selection signal is exactly that geometry, measured on samples:
    *
    *  1. draw a deterministic hash-split fit sample — at least
    *     `max(fitN, minFitPerKc · max(grid))` points, so Lloyd keeps
    *     ≥ minFitPerKc points per centroid even at the grid's top —
    *     and a DISJOINT eval sample (~`evalN`), held-out so a kc
    *     large enough to memorize the fit sample earns no free zero
    *     residuals;
    *  2. estimate the NEIGHBOR scale once: median over eval vectors
    *     of the exact nearest-fit-point d2 (zero distances — exact
    *     duplicates — carry no scale information and are excluded).
    *     Sample sparsity inflates this estimate (the true nearest
    *     neighbor may not be sampled), which `alpha` absorbs;
    *  3. walk the grid kcs ASCENDING: fit the coarse quantizer ON THE
    *     SAMPLE (Lloyd in quantized space; kc capped at the sample
    *     size), assign the eval sample, and take the median residual
    *     norm-squared — the scale PQ would have to encode — STOPPING
    *     at the first kc that passes the criterion below (the walk is
    *     lazy: grid points past the winner are never fitted, and the
    *     diagnostics frame covers fitted points only);
    *  4. pick the SMALLEST kc whose median residual d2 <=
    *     alpha x neighbor d2 (under-resolution is what kills ADC
    *     recall, and probe cost RISES with cell size, so the
    *     smallest sufficient kc is the right end of the trade); if
    *     none qualifies, the grid maximum (with its ratio visible in
    *     the diagnostics).
    *
    * Returns (chosen kc, the winning SAMPLE-FITTED centroid frame —
    * feed it to [[buildWith]] so the full corpus pays one assignment
    * pass and zero full-scale Lloyd rounds — and a diagnostics frame
    * `(kc, med_res_d2, nn_d2, ratio, chosen)`).
    *
    * Cost shape at 100 TB: one corpus `count()`, one hash-filtered
    * sample scan, then everything downstream is sample x sample or
    * sample x kc — the corpus is never crossed with anything. The
    * fit-sample re-id window is a single task over ~fitN rows
    * (bounded by construction, the pack_bins exemption). */
  def autoKc(s: SparkSession, qvecs: DataFrame,
      grid: Seq[Int] = Seq(64, 256, 1024, 4096),
      fitN: Long = 4096, evalN: Long = 512, alpha: Double = 1.0,
      coarseRounds: Int = 2, minFitPerKc: Int = 16,
      mat: Materializer = Materializer.Local): (Int, DataFrame, DataFrame) = {
    require(grid.nonEmpty, "autoKc needs a non-empty kc grid")
    import graft.functions.VectorOps.dotLong
    val n = math.max(1L, qvecs.count())
    val ppm = 1000000L
    // The fit sample scales with the LARGEST kc the grid will try:
    // Lloyd with fewer than ~a-dozen-plus points per centroid
    // degenerates toward "every sample point its own centroid", which
    // SPLITS natural clusters across cells and quietly caps probe
    // recall (measured: fitN=4096 against kc=4096 on the 1M corpus
    // left recall at 0.575 where a dense fit reaches the matched-kc
    // class — PLANS.md r12). minFitPerKc=16 is the floor that keeps
    // centroid estimates averages rather than memorized points; the
    // cost stays sample × kc, never corpus-scale.
    val fitTarget = math.max(fitN, minFitPerKc.toLong * grid.max)
    // Reserve the eval share FIRST (ADVICE r11): on a corpus with
    // n <= fitTarget the fit cut would otherwise clamp to the whole
    // hash range and leave the held-out sample empty — the
    // NULL-percentile NPE. Eval gets its proportional share capped at
    // 20% of the range; fit takes up to the remainder.
    val evalCut = math.min(ppm / 5, math.max(1L, evalN * ppm / n))
    val fitCut = math.min(ppm - evalCut, math.max(1L, fitTarget * ppm / n))
    val h = pmod(xxhash64(col("vec_id")), lit(ppm))
    val fit = qvecs.filter(h < fitCut)
      .select((row_number().over(Window.orderBy("vec_id")) - 1)
        .cast("long").as("vec_id"), col("qv")) // dense re-id for the seed rule
      .localCheckpoint(true)
    val eval = qvecs.filter(h >= fitCut && h < fitCut + evalCut)
      .select("vec_id", "qv").localCheckpoint(true)
    val fitCount = fit.count()
    require(fitCount > 0 && !eval.isEmpty, s"autoKc: the hash split " +
      s"produced an empty sample (n=$n, fit=$fitCount) — corpus too " +
      "small to auto-size; pass kc explicitly to build()")
    // Zero nearest-fit distances (exact duplicates) carry no scale
    // information; a corpus where EVERY eval point duplicates a fit
    // point leaves nothing to calibrate against — fail with the
    // remedy rather than an opaque NPE on the NULL percentile.
    val nnRow = eval
      .crossJoin(broadcast(fit.select(col("qv").as("fv"))))
      .select(col("vec_id"), d2(s, col("qv"), col("fv")).as("_d2"))
      .filter(col("_d2") > 0)
      .groupBy("vec_id").agg(min(col("_d2")).as("nn"))
      .agg(expr("percentile(nn, 0.5)")).head()
    require(!nnRow.isNullAt(0), "autoKc: every eval vector exactly " +
      "duplicates a fit vector — the corpus has no neighbor scale to " +
      "calibrate against; dedup first or pass kc explicitly to build()")
    val nnD2 = nnRow.getDouble(0)
    // LAZY grid walk (VERDICT r12 #3): ascending kc, STOP at the first
    // one whose held-out median residual passes — the selection rule
    // picks the smallest sufficient kc anyway, so fitting the rest of
    // the grid buys nothing but (grid size − 1) sample-Lloyd
    // crossjoins on corpora whose winner is small. Worst case (no kc
    // passes) is unchanged: every grid point fits and the maximum
    // wins. Diagnostics cover FITTED points only — an absent grid
    // tail in the diag frame is the walk's savings made visible.
    val fitted = scala.collection.mutable.ListBuffer.empty[(Int, DataFrame, Double)]
    val gridIt = grid.sorted.iterator
    while (gridIt.hasNext && !fitted.lastOption.exists(_._3 <= alpha * nnD2)) {
      val kc = gridIt.next()
      val kcap = math.min(kc.toLong, fitCount).toInt
      val cents =
        if (coarseRounds == 0) fit.filter(col("vec_id") < kcap)
          .select(col("vec_id").as("c_id"), col("qv").as("cv"))
        else KMeans.fitQuantized(fit, kcap, coarseRounds, mat)
          .select(col("c_id"), col("cv"))
          .localCheckpoint(true)
      val medRes = residuals(s, eval, cents)
        .select(dotLong(s, col("rv"), col("rv")).as("r2"))
        .agg(expr("percentile(r2, 0.5)")).head().getDouble(0)
      fitted += ((kc, cents, medRes))
    }
    val chosen = fitted.find(_._3 <= alpha * nnD2).getOrElse(fitted.last)
    val diag = s.createDataFrame(fitted.toSeq.map { case (kc, _, r) =>
      (kc, r, nnD2, r / nnD2, kc == chosen._1)
    }).toDF("kc", "med_res_d2", "nn_d2", "ratio", "chosen")
    (chosen._1, chosen._2, diag)
  }

  /** The distinct coarse cells a [[probe]] with `(queries, nProbe)`
    * touches — the same argmin the probe recomputes, collected so a
    * stored code table can be partition-pruned to exactly these cells
    * before the probe join (the [[graft.operators.Similarity
    * .probedClusters]] device for the IVF-PQ layout). Bounded by
    * |queries|·nProbe ids — driver-safe at any corpus size. */
  def probedCells(s: SparkSession, centroids: DataFrame, queries: DataFrame,
      nProbe: Int): Seq[Long] = {
    val wq = Window.partitionBy("q_id").orderBy(col("_d2").asc, col("c_id").asc)
    queries
      .crossJoin(broadcast(centroids.select(col("c_id"), col("cv"))))
      .select(col("q_id"), col("c_id"), d2(s, col("qv"), col("cv")).as("_d2"))
      .withColumn("_pr", row_number().over(wq))
      .filter(col("_pr") <= nProbe)
      .select("c_id").distinct()
      .collect().map(_.getLong(0)).toSeq
  }

  /** ADC probe: per query `(q_id, qv)`, rank the vectors of the
    * `nProbe` nearest coarse cells by residual-ADC distance and
    * return the top k `(q_id, rnk, vec_id, d2_est)`. The LUT is
    * per-(query, probed cell) — |q|·nProbe·m·kCb rows, broadcast —
    * because the query residual differs per probed cell; `cell` sits
    * in the join key so unprobed cells never leave the (bucketed)
    * scan. */
  def probe(s: SparkSession, centroids: DataFrame, codebooks: DataFrame,
      codes: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
      m: Int, subLen: Int, excludeSelf: Boolean = false): DataFrame = {
    val wq = Window.partitionBy("q_id").orderBy(col("_d2").asc, col("c_id").asc)
    val qcells = queries
      .crossJoin(broadcast(centroids.select(col("c_id"), col("cv"))))
      .withColumn("_d2", d2(s, col("qv"), col("cv")))
      .withColumn("_pr", row_number().over(wq))
      .filter(col("_pr") <= nProbe)
      .select(col("q_id"), col("c_id").as("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qrv"))
    val qsubs = qcells.select(col("q_id"), col("cell"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), i -> slice(qrv, i * $subLen + 1, $subLen))"))
        .as(Seq("sub", "q_sv")))
    val lut = qsubs.join(broadcast(codebooks), Seq("sub"))
      .select(col("q_id"), col("cell"), col("sub"), col("c_id"),
        d2(s, col("q_sv"), col("c_sv")).as("_d2"))
    val est = codes.join(broadcast(lut),
        codes("cell") === lut("cell") && codes("sub") === lut("sub") &&
          codes("code") === lut("c_id"))
      .groupBy(col("q_id"), codes("vec_id"))
      .agg(sum(col("_d2")).as("d2_est"))
    val base = if (excludeSelf) est.filter(col("vec_id") =!= col("q_id")) else est
    val w = Window.partitionBy("q_id").orderBy(col("d2_est").asc, col("vec_id").asc)
    base.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "vec_id", "d2_est")
  }
}
