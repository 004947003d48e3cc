package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{IvfPq, ProductQuantizer}
import graft.util.StateFs

/** Streaming IVF-PQ index maintenance — [[IvfPq.append]] wired into a
  * `foreachBatch` stream: the PRODUCTION billion-vector serving shape
  * ([[graft.operators.IvfPq]] header) gets the same stored-state
  * maintenance path as plain IVF ([[StreamingIvf]]) and BM25
  * ([[StreamingBm25]]), completing the streamed-index symmetry. What
  * the store holds is the 64×-smaller CODE table, not raw vectors —
  * which is precisely why this is the shape that serves at 100 TB:
  * the stream pays one encode per arriving vector, the stored mass is
  * m small ints + a cell id per vector, and probes touch only the
  * probed cells' codes plus the constant-size centroid/codebook/LUT
  * frames.
  *
  * State layout (the [[StreamingIvf]] design, plus one more frozen
  * frame):
  *
  *  - `quantizer/centroids/` + `quantizer/codebooks/` — the frozen
  *    pair, written ONCE by the first non-empty batch (deterministic
  *    seeds: the kc smallest vec_ids of that batch; the kCb
  *    smallest's RESIDUAL subvectors against them, per the IVFADC
  *    scheme — or, at `pqRounds > 0`, codebooks Lloyd-TRAINED on the
  *    whole first batch's residuals, still deterministic) and
  *    committed TOGETHER by one `quantizer/_SUCCESS`
  *    marker created after both writes — a crash between the two
  *    writes leaves an uncommitted quantizer the replay re-seeds
  *    identically, never a half-present pair misread as loss. They
  *    freeze together because [[IvfPq.append]]'s bit-equality
  *    contract (fold ≡ one-shot encode) is a property of the frozen
  *    pair; distribution drift away from either is the documented
  *    rebuild trigger.
  *  - `codes/g<k>/v<batchId>/` — each batch's code-table rows
  *    `(vec_id, sub, code, cell)` in their own `_SUCCESS`-gated dir
  *    (commit doubles as the replay marker), appended by encoding the
  *    BATCH ONLY against the frozen pair. Loss matrix is the r14 IVF
  *    one, shared via [[graft.util.StateFs.checkedVDirs]]: a
  *    compaction `MANIFEST` + an `applog/v<id>` marker per committed
  *    append, every listing cross-checked, external loss of ANY
  *    committed generation loud on read, append, and compact.
  *
  * [[compact]] coalesces committed dirs into one generation written
  * `partitionBy(cell)` — the bucketed layout the IvfPq scaladoc
  * prescribes at scale — so [[probe]]'s `cell isin probedCells`
  * filter prunes the compacted generation at the directory level
  * (fresh append dirs take it as a row predicate until the next
  * compaction folds them).
  *
  * The checkpoint/state-dir coupling caveat is [[StreamingIvf]]'s
  * verbatim (per-batch dirs are the replay markers): reset both or
  * neither.
  */
object StreamingIvfPq {

  private def codesBase(stateDir: String) = new Path(stateDir, "codes")

  /** The live codes tree: the PTR-named generation dir under `codes/`
    * (the [[StreamingIvf]] device, [[graft.util.StateFs.resolveLive]]).
    * The frozen quantizer pair is written once and never swapped, so
    * it lives outside the generation layout. */
  private def codesDir(spark: SparkSession, stateDir: String): Path = {
    val base = codesBase(stateDir)
    StateFs.resolveLive(StateFs.fs(spark, base), base)
  }

  private def quantizerDir(stateDir: String) = new Path(stateDir, "quantizer")
  private def centroidsDir(stateDir: String) =
    new Path(quantizerDir(stateDir), "centroids")
  private def codebooksDir(stateDir: String) =
    new Path(quantizerDir(stateDir), "codebooks")

  private def committedCodeDirs(spark: SparkSession, stateDir: String): Seq[Path] = {
    val codes = codesDir(spark, stateDir)
    StateFs.checkedVDirs(StateFs.fs(spark, codes), codes, "IVF-PQ")
  }

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
    if (frozen.isEmpty) {
      // committed codes with NO frozen pair at all: external loss of
      // both frames — the checked listing makes it loud instead of
      // "no index yet" (the StreamingIvf readIndex guard, shared
      // rationale; the half-missing case threw in readQuantizer)
      val dirs = committedCodeDirs(spark, stateDir)
      require(dirs.isEmpty,
        s"IVF-PQ state inconsistent: committed code dirs " +
          s"[${dirs.map(_.getName).mkString(", ")}] exist under " +
          s"${codesDir(spark, stateDir)} but the frozen quantizer is missing " +
          "— centroids and codebooks were removed externally; restore " +
          "them or rebuild the index from the raw vectors")
    }
    frozen.map { case (cents, cbs) =>
      val dirs = committedCodeDirs(spark, stateDir)
      val codes =
        if (dirs.isEmpty)
          cents.limit(0).select(col("c_id").as("vec_id"),
            lit(0).as("sub"), col("c_id").as("code"), col("c_id").as("cell"))
        else dirs
          // per-dir reads + unionByName (the StreamingIvf device): a
          // compacted dir is partitionBy(cell) — the partition column
          // reads back Int-inferred, cast back to the Long the data
          // column carries — while fresh append dirs hold cell as a
          // data column; one multi-path read would refuse the mix
          .map(d => spark.read.option("basePath", d.toString).parquet(d.toString)
            .withColumn("cell", col("cell").cast("long")))
          .reduce(_ unionByName _)
      (cents, cbs, codes)
    }
  }

  /** Fold one batch into the index — pure batch logic, callable (and
    * tested, and used by the driver query `q_ann_ivfpq_served`)
    * outside any stream. The first non-empty batch seeds and freezes
    * the quantizer pair. Returns true iff the batch was applied. */
  def appendBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
      kc: Int, m: Int, subLen: Int, kCb: Int, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pqRounds: Int = 0): Boolean = {
    // writer entry: a virgin codes store publishes PTR=g0 first
    val codes = StateFs.openLive(spark, codesBase(stateDir))
    val fs = StateFs.fs(spark, codes)
    // fail-fast loss gate at every entry (the r14 IVF discipline) —
    // also feeds the seeding guard below
    val existing = committedCodeDirs(spark, stateDir)
    val dir = new Path(codes, f"v$batchId%020d")
    if (StateFs.committed(fs, dir)) {
      // replay of a committed id — and the repair point for the
      // commit-to-log crash window (StateFs.logAppend scaladoc)
      StateFs.logAppend(fs, codes, dir.getName)
      return false
    }
    if (batch.isEmpty) {
      // chain densifier — empty batches log their id too, keeping the
      // delivered-id chain gap-free (the StreamingIvf.appendBatch
      // rationale; StateFs.checkedVDirs has the full argument)
      StateFs.logSkip(fs, codes, batchId)
      return false
    }
    // Inside foreachBatch the batch belongs to the stream's CLONED
    // session; the dot_long native function must be registered (and
    // the encode plans analyzed) THERE, not on the outer session — the
    // Similarity.ivfAssign convention (`corpus.sparkSession`), which
    // is why every IvfPq call below takes `sb`.
    val sb = batch.sparkSession
    val qb = batch.select(col(idCol).as("vec_id"),
      ProductQuantizer.quantize(col(vecCol)).as("qv"))
    val (cents, cbs) = readQuantizer(sb, stateDir).getOrElse {
      require(existing.isEmpty,
        s"IVF-PQ state inconsistent: committed code dirs " +
          s"[${existing.map(_.getName).mkString(", ")}] exist under " +
          s"$codes but the frozen quantizer is missing — centroids and " +
          "codebooks were removed externally; restore them or rebuild " +
          "the index from the raw vectors")
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
      // driver config); pqRounds > 0 trains per-subspace Lloyd rounds
      // on the WHOLE first batch's residuals before freezing
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
      // documented — see the degeneracy guard below the pair write.
      val cb =
        if (pqRounds == 0) {
          val seedRes = IvfPq.residuals(sb, qb.orderBy("vec_id").limit(kCb), ceRead)
            .select(col("vec_id"), col("rv").as("qv"))
          ProductQuantizer.subRows(seedRes, m, subLen)
            .select(col("vec_id").as("c_id"), col("sub"), col("sv").as("c_sv"))
        } else {
          val res = IvfPq.residuals(sb, qb, ceRead)
            .select(col("vec_id"), col("rv").as("qv"))
          IvfPq.codebooksFor(res, m, subLen, kCb, pqRounds)
        }
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
      require(!IvfPq.degenerateCodebooks(cb,
          IvfPq.residuals(sb, qb, ceRead)
            .select(col("vec_id"), col("rv").as("qv"))),
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
      // the PAIR commit (readQuantizer scaladoc): both frames are in
      // place — one atomic marker create makes them visible together;
      // a crash before this line leaves an uncommitted quantizer the
      // replay re-seeds identically (overwrite mode) from this batch
      fs.create(new Path(quantizerDir(stateDir), "_SUCCESS"), true).close()
      (ceRead, sb.read.parquet(codebooksDir(stateDir).toString))
    }
    IvfPq.append(sb, qb, cents, cbs, m, subLen)
      .write.mode("overwrite").parquet(dir.toString)
    StateFs.logAppend(fs, codes, dir.getName)
    true
  }

  /** Background compaction between drains — committed code dirs → ONE
    * generation named at the max committed batch id, written
    * `partitionBy(cell)` (the bucketed serving layout), `MANIFEST` +
    * `_COMPACTED` installed inside the unpublished next generation so
    * loss metadata is atomic with the PTR swap; the applog is consumed
    * wholesale (it lives inside the live generation). Same WAL-replay safety argument as
    * [[StreamingIvf.compact]] — and the same enforced no-concurrent-
    * writer contract (VERDICT r14 #1): committed-generation + applog
    * names snapshotted at entry, re-checked immediately before the
    * swap, loud abort discarding only the rewrite (the
    * [[StreamingIvf.compact]] scaladoc has the full argument).
    * Returns true iff a rewrite happened. */
  def compact(spark: SparkSession, stateDir: String): Boolean =
    compactImpl(spark, stateDir, () => ())

  /** [[compact]] with the injectable pre-swap test seam (the
    * Compactor/StreamingIvf device). */
  private[graft] def compactImpl(spark: SparkSession, stateDir: String,
      beforeSwap: () => Unit): Boolean = {
    val base = codesBase(stateDir)
    val fs = StateFs.fs(spark, base)
    val live = StateFs.resolveLive(fs, base)
    StateFs.gcStaleGens(fs, base, live.getName)
    // snapshot BEFORE the fold-set listing (review r15 — the
    // StreamingIvf.compactImpl rationale: an append landing between
    // snapshot and listing joins the fold; one landing after the
    // listing shows in the re-check diff; neither is destroyed)
    val snapshot = StateFs.appendSnapshot(fs, live)
    val dirs = committedCodeDirs(spark, stateDir) // checked: never folds around a hole
    if (dirs.size <= 1) return false
    // the true frontier: max over committed dirs AND skip-logged ids
    // (StreamingIvf.compactImpl rationale — keeps the id chain dense)
    val vname = StateFs.frontierName(fs, live, dirs)
    // stage in the unpublished next generation, install with one
    // atomic PTR rewrite (the StreamingIvf/StateFs contract)
    val target = StateFs.nextGen(base, live)
    dirs.map(d => spark.read.option("basePath", d.toString).parquet(d.toString)
        .withColumn("cell", col("cell").cast("long")))
      .reduce(_ unionByName _)
      // bucket-aligned: one hash exchange lands each cell in one task
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(new Path(target, vname).toString)
    StateFs.writeFolded(fs, new Path(target, vname), dirs.map(_.getName))
    StateFs.writeFileAtomic(spark, new Path(target, "MANIFEST"), vname)
    // carry the frontier + genesis witnesses into the new tree
    // (StreamingIvf compactImpl rationale)
    StateFs.writeFileAtomic(spark, StateFs.frontierFile(target),
      vname.drop(1).toLong.toString)
    StateFs.writeFileAtomic(spark, StateFs.genesisFile(target),
      vname.drop(1).toLong.toString)
    beforeSwap()
    // pre-swap optimistic-concurrency re-check: a drain committed an
    // append mid-rewrite — abort loudly, keep live (the append and its
    // applog entry included), discard only the rewrite
    val changed = StateFs.snapshotDiff(fs, live, snapshot)
    if (changed.nonEmpty) {
      StateFs.deleteRec(fs, target)
      sys.error(s"IVF-PQ compact: $live changed during the rewrite " +
        s"(concurrent writer; changed entries: ${changed.mkString(", ")}) " +
        "— rewrite discarded, live index intact including the concurrent " +
        "append; rerun compaction between drains (the no-writer " +
        "maintenance slot)")
    }
    StateFs.pointerSwap(spark, base, target)
    true
  }

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
      ProductQuantizer.quantize(col(vecCol)).as("qv"))
    val probed = IvfPq.probedCells(spark, cents, qs, nProbe)
    IvfPq.probe(spark, cents, cbs,
      codes.filter(col("cell").isin(probed: _*)),
      qs, k, nProbe, m, subLen, excludeSelf)
  }
}
