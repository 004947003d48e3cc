package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.VectorOps
import graft.operators.{IvfPq, ProductQuantizer}
import graft.util.{AppendLog, StateFs}

/** Streaming IVF-PQ index maintenance — [[IvfPq.append]] wired into a
  * `foreachBatch` stream: the production billion-vector serving shape
  * ([[graft.operators.IvfPq]] header) stored as the 64×-smaller CODE
  * table, not raw vectors. The stream pays one encode per arriving
  * vector, the stored mass is m small ints plus a cell id per vector,
  * and probes touch only the probed cells' codes plus the constant-size
  * centroid/codebook/LUT frames.
  *
  *  - `quantizer/centroids/` + `quantizer/codebooks/` — the frozen
  *    pair, written ONCE by the first non-empty batch (deterministic
  *    seeds: the kc smallest vec_ids of that batch; the kCb
  *    smallest's RESIDUAL subvectors against them, per the IVFADC
  *    scheme — or, at `pqRounds > 0`, codebooks Lloyd-TRAINED on the
  *    whole first batch's residuals, still deterministic) and
  *    committed TOGETHER by one `quantizer/_SUCCESS` marker created
  *    after both writes. They freeze together because
  *    [[IvfPq.append]]'s bit-equality contract (fold ≡ one-shot
  *    encode) is a property of the frozen pair; drift away from either
  *    is the documented rebuild trigger.
  *  - `codes/` — the code-table rows `(vec_id, sub, code, cell)`, one
  *    [[graft.util.AppendLog]] dir per batch, encoded against the
  *    frozen pair, with that module's replay, loss checks and
  *    compaction. The compacted generation is written
  *    `partitionBy(cell)`, the bucketed layout the IvfPq scaladoc
  *    prescribes at scale, so [[probe]]'s cell filter prunes it at the
  *    directory level (a row predicate on fresh append dirs).
  *
  * Committed codes without a committed quantizer are certain external
  * loss, refused on read and append.
  */
object StreamingIvfPq {

  private def codes(stateDir: String) =
    new AppendLog(new Path(stateDir, "codes"), "cell", "IVF-PQ")

  private def quantizerDir(stateDir: String) = new Path(stateDir, "quantizer")
  private def centroidsDir(stateDir: String) =
    new Path(quantizerDir(stateDir), "centroids")
  private def codebooksDir(stateDir: String) =
    new Path(quantizerDir(stateDir), "codebooks")

  /** Refuse committed code dirs next to a missing quantizer (header). */
  private def requireNoCodes(dirs: Seq[Path]): Unit =
    require(dirs.isEmpty,
      s"IVF-PQ state inconsistent: committed code dirs " +
        s"[${dirs.map(_.getName).mkString(", ")}] exist under " +
        s"${dirs.head.getParent} but the frozen quantizer is missing " +
        "— centroids and codebooks were removed externally; restore " +
        "them or rebuild the index from the raw vectors")

  /** The frozen `(centroids, codebooks)` pair, or None before the
    * first committed batch. The pair is TWO parquet writes but ONE
    * commit: `quantizer/_SUCCESS` is created only after both frames
    * land (review r14 — with per-frame commits, a crash between the
    * two seed writes left a half-present pair that read as external
    * loss and permanently wedged a virgin index; under the single
    * marker that crash leaves an uncommitted quantizer the replay
    * simply re-seeds, deterministic from the same batch). A COMMITTED
    * marker with a missing frame underneath is therefore certain
    * external loss — loud, with the remedy. */
  def readQuantizer(spark: SparkSession,
      stateDir: String): Option[(DataFrame, DataFrame)] = {
    val q = quantizerDir(stateDir)
    val fs = StateFs.fs(spark, q)
    if (!StateFs.committed(fs, q)) return None
    val (ce, cb) = (centroidsDir(stateDir), codebooksDir(stateDir))
    for (d <- Seq(ce, cb))
      require(fs.exists(d),
        s"IVF-PQ state inconsistent: the quantizer commit marker under " +
          s"$q exists but $d is missing — the frozen quantizer pair was " +
          "partially removed externally; restore the missing frame or " +
          "rebuild the index from the raw vectors")
    Some((spark.read.parquet(ce.toString), spark.read.parquet(cb.toString)))
  }

  /** The served index `(centroids, codebooks, codes)` after every
    * committed batch, or None before the first. */
  def readIndex(spark: SparkSession,
      stateDir: String): Option[(DataFrame, DataFrame, DataFrame)] = {
    val frozen = readQuantizer(spark, stateDir)
    // both frames gone: the checked listing makes it loud instead of
    // "no index yet" (one frame gone threw in readQuantizer)
    if (frozen.isEmpty) requireNoCodes(codes(stateDir).dirs(spark))
    frozen.map { case (cents, cbs) =>
      val rows = codes(stateDir).read(spark).getOrElse(
        cents.limit(0).select(col("c_id").as("vec_id"),
          lit(0).as("sub"), col("c_id").as("code"), col("c_id").as("cell")))
      (cents, cbs, rows)
    }
  }

  /** Fold one batch into the index — pure batch logic, callable (and
    * tested, and used by the driver query `q_ann_ivfpq_served`)
    * outside any stream. The first non-empty batch seeds and freezes
    * the quantizer pair. Returns true iff the batch was applied. */
  def appendBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
      kc: Int, m: Int, subLen: Int, kCb: Int, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pqRounds: Int = 0): Boolean =
    codes(stateDir).append(spark, batch, batchId) { (existing, dir) =>
      // Inside foreachBatch the batch belongs to the stream's CLONED
      // session; the dot_long native function must be registered (and
      // the encode plans analyzed) THERE, not on the outer session — the
      // Similarity.ivfAssign convention (`corpus.sparkSession`), which
      // is why every IvfPq call below takes `sb`.
      val sb = batch.sparkSession
      val qb = batch.select(col(idCol).as("vec_id"),
        VectorOps.quantize(col(vecCol)).as("qv"))
      val (cents, cbs) = readQuantizer(sb, stateDir).getOrElse {
        // seeding is only legitimate on a virgin index (header)
        requireNoCodes(existing)
        // Deterministic seed from THIS batch, then freeze. Centroids =
        // the kc smallest vec_ids (dense re-id not needed — c_id keeps
        // the seed's vec_id, the IvfPq.build convention); codebooks =
        // the kCb smallest vec_ids' RESIDUAL subvectors against those
        // centroids (IVFADC: codebooks live in residual space). A crash
        // between the two writes re-seeds identically on replay (same
        // batch, same smallest-ids rule) — idempotent.
        val ce = qb.orderBy("vec_id").limit(kc)
          .select(col("vec_id").as("c_id"), col("qv").as("cv"))
        ce.coalesce(1).write.mode("overwrite")
          .parquet(centroidsDir(stateDir).toString)
        val ceRead = sb.read.parquet(centroidsDir(stateDir).toString)
        // Codebooks: pqRounds = 0 keeps the r14 seed rule (the kCb
        // smallest vec_ids' residual subvectors — the oracle-checked
        // config of `q_ann_ivfpq_served`); pqRounds > 0 trains
        // per-subspace Lloyd rounds on the WHOLE first batch's
        // residuals before freezing
        // (VERDICT r14 #5 — the batch path's trained codebooks brought
        // to the streamed seeder). Both are deterministic functions of
        // the seed batch (smallest-id seeding throughout), so the
        // crash-window replay re-derives the identical pair.
        // PRODUCTION GUIDANCE (1M ablation, PLANS.md r15): use
        // pqRounds >= 1 whenever the coarse quantizer is expected to
        // match the corpus's cluster structure — in that regime the kCb
        // smallest ids' residuals are the centroids' own ~zero
        // residuals, 256 codewords collapsed at the origin, and ADC
        // recall@10 measured 0.000 at 1M; two Lloyd rounds on the seed
        // drain took it to 1.000 for a one-time ~38 s surcharge. Since
        // r16 that regime is ENFORCED at freeze time, not just
        // documented — see the degeneracy guard below.
        // One residual frame for the whole seeding block, persisted: at
        // pqRounds > 0 it feeds m per-subspace Lloyd fits, and the
        // degeneracy guard below reads it again.
        val res = IvfPq.residuals(sb, qb, ceRead)
          .select(col("vec_id"), col("rv").as("qv"))
          .persist()
        try {
          val cb =
            if (pqRounds == 0)
              ProductQuantizer.subRows(res.orderBy("vec_id").limit(kCb), m, subLen)
                .select(col("vec_id").as("c_id"), col("sub"), col("sv").as("c_sv"))
            else IvfPq.codebooksFor(res, m, subLen, kCb, pqRounds)
          // Freeze-time degeneracy guard (VERDICT r15 #2): a collapsed
          // codebook must not freeze — frozen, it serves recall-0 ADC
          // results SILENTLY and forever (fold ≡ one-shot still holds, so
          // no equality gate ever fires; the failure is invisible until
          // someone measures recall). Detected here, before the pair
          // commits, the crash is loud, names the remedy, and leaves an
          // uncommitted quantizer the replay simply re-attempts. The
          // guard triggers only when the codebooks carry zero residual
          // energy while the seed batch's residuals do not
          // ([[IvfPq.degenerateCodebooks]]) — an all-zero-residual batch
          // (corpus == centroid set, zero codebooks exact) stays legal.
          require(!IvfPq.degenerateCodebooks(cb, res),
            s"IVF-PQ seed codebooks are DEGENERATE under $stateDir: every " +
              "codeword has zero residual energy while the seed batch's " +
              "residuals do not — the coarse quantizer matches the corpus's " +
              "cluster structure, so the kCb-smallest-id seed rows are the " +
              "centroids' own (zero) residuals and every ADC distance " +
              "collapses to one value (recall 0.000 at 1M, PLANS.md). " +
              "Refusing to freeze the pair: seed with pqRounds >= 1 " +
              "(Lloyd-trained codebooks on the first batch's residuals) or " +
              "use a coarse quantizer the corpus does not match")
          cb.coalesce(1).write.mode("overwrite")
            .parquet(codebooksDir(stateDir).toString)
        } finally { res.unpersist(); () }
        // the PAIR commit (readQuantizer scaladoc): both frames are in
        // place — one atomic marker create makes them visible together;
        // a crash before this line leaves an uncommitted quantizer the
        // replay re-seeds identically (overwrite mode) from this batch
        val q = quantizerDir(stateDir)
        StateFs.fs(spark, q).create(new Path(q, "_SUCCESS"), true).close()
        (ceRead, sb.read.parquet(codebooksDir(stateDir).toString))
      }
      IvfPq.append(sb, qb, cents, cbs, m, subLen)
        .write.mode("overwrite").parquet(dir)
    }

  /** Fold every committed code dir into one `partitionBy(cell)`
    * generation, between drains ([[graft.util.AppendLog]]). Returns
    * true iff a rewrite happened. */
  def compact(spark: SparkSession, stateDir: String): Boolean =
    codes(stateDir).compact(spark)

  /** [[compact]] with the injectable pre-swap test seam. */
  private[graft] def compactImpl(spark: SparkSession, stateDir: String,
      beforeSwap: () => Unit): Boolean =
    codes(stateDir).compactImpl(spark, beforeSwap)

  /** Wire the appender into a stream ([[StreamingIvf.fit]] shape).
    * `pqRounds > 0` trains the first batch's codebooks before
    * freezing (appendBatch scaladoc). */
  def fit(spark: SparkSession, vecs: Dataset[_], stateDir: String,
      checkpointDir: String, kc: Int, m: Int, subLen: Int, kCb: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pqRounds: Int = 0): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[_], batchId: Long) =>
        appendBatch(spark, stateDir, batch.toDF(), kc, m, subLen, kCb,
          batchId, idCol, vecCol, pqRounds)
        ()
      }
      .start()

  /** Serve ADC top-k from the maintained index, the code-table read
    * FILTERED to [[IvfPq.probedCells]] first — partition-pruning the
    * compacted `partitionBy(cell)` generation at the directory level
    * (a row predicate on fresh append dirs). Result-identical to the
    * unfiltered probe: the probe's LUT join on `cell` discards
    * non-probed cells regardless. Queries arrive as raw float
    * vectors; quantization happens here (the appendBatch convention).
    * Throws before the first committed batch. */
  def probe(spark: SparkSession, stateDir: String, queries: DataFrame,
      k: Int, nProbe: Int, m: Int, subLen: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    val (cents, cbs, codes) = readIndex(spark, stateDir).getOrElse(
      sys.error(s"no committed IVF-PQ index under $stateDir"))
    val qs = queries.select(col(idCol).as("q_id"),
      VectorOps.quantize(col(vecCol)).as("qv"))
    val probed = IvfPq.probedCells(spark, cents, qs, nProbe)
    IvfPq.probe(spark, cents, cbs,
      codes.filter(col("cell").isin(probed: _*)),
      qs, k, nProbe, m, subLen, excludeSelf)
  }
}
