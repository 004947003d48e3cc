package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity
import graft.util.StateFs

/** Streaming IVF index maintenance — [[Similarity.ivfAppend]] wired
  * into a `foreachBatch` stream: arriving vector batches append to a
  * FROZEN coarse quantizer; replays no-op; the served index after any
  * prefix is bit-identical to assigning that prefix's corpus against
  * the same centroids in one batch (the `ivfAppend` contract,
  * spec-pinned end-to-end here).
  *
  * Shape: `foreachBatch`, like [[StreamingKMeans]] — the centroid
  * frame is tiny global state every batch row must read (broadcast
  * argmax), which the keyed-state API cannot express without
  * funneling the stream through one task. But the STATE here differs
  * from k-means in the way that decides the storage layout: the
  * k-means accumulator is k rows REWRITTEN each batch (versioned
  * pointer swap), while the IVF inverted lists GROW with the stream —
  * rewriting them per batch would cost O(corpus) per arrival. So the
  * state is append-only:
  *
  *  - `centroids/` — written ONCE by the first non-empty batch
  *    (deterministic seed: the nCentroids smallest vec_ids, the
  *    [[Similarity.ivfIndex]] rule), then frozen. Appends can never
  *    move it; distribution drift away from a frozen quantizer is the
  *    documented rebuild trigger.
  *  - `lists/g<k>/v<batchId>/` — each batch's assigned rows land in their
  *    own directory; per-batch cost follows the BATCH size, never the
  *    index size. A directory is visible to readers only once its
  *    `_SUCCESS` marker exists, so a crash mid-write leaves an
  *    invisible partial that the replay simply overwrites — and a
  *    COMMITTED directory doubles as the replay marker (a re-delivered
  *    batch id finds its directory committed and skips). That is the
  *    same crash-window reasoning as the k-means pointer swap, with
  *    the directory's `_SUCCESS` playing the pointer's role per batch.
  *
  * At 100 TB the per-batch directories are the compaction unit:
  * [[compact]] coalesces every committed directory into one between
  * drains (published by one PTR rewrite, read-equivalence spec-pinned
  * in StreamingIvfSpec) — written `partitionBy(cluster)`, so the
  * compacted generation IS the cluster-partitioned layout
  * [[Similarity.ivfIndex]] documents: [[probe]] filters the assigned
  * read to its probed cluster ids and the scan skips every other
  * list at the directory level (the `tkb` device of
  * [[graft.operators.Bm25Index]] applied to vectors). Fresh appends
  * after a compaction stay unpartitioned (per-batch dirs are small;
  * the NEXT compaction folds them into the layout) and take the
  * same filter as a row predicate.
  *
  * Loss detection (r13 manifest + r14 append log — together a
  * COMPLETE loud-loss matrix, at zero pointer swaps): [[compact]]
  * writes a `MANIFEST` file naming the compacted generation INSIDE
  * the unpublished next generation, so it becomes visible atomically
  * with the compaction's PTR rewrite — reads fail loudly if the manifest-named
  * generation is gone (external GC/retention of the compacted
  * corpus would otherwise serve a silently smaller index). Append
  * dirs are covered by the `lists/applog/` append LOG (VERDICT r13
  * #1 — they were the one honor-system residual): each committed
  * batch also creates an empty `applog/v<id>` marker — an O(1)
  * atomic single-file create, NOT a pointer swap, so the
  * append-only cheapness survives — and every listing cross-checks
  * log entries against on-disk committed dirs, failing loudly when
  * a logged generation is missing. The two writes (parquet commit,
  * log entry) are not atomic together; the crash between them is
  * repaired by the WAL replay of that id (the replay-skip path
  * completes the missing log entry), and the log deliberately
  * LAGS the commit so a crash can only under-log — an orphan log
  * entry (false loss alarm) cannot arise. Compaction consumes the
  * log wholesale: `applog/` lives inside the live generation, so the
  * folded entries vanish atomically with the swap and the
  * compacted mass passes to MANIFEST coverage. The id chain is kept
  * DENSE (r15): empty batches log an `applog/s<id>` marker too, and
  * compaction names its generation at the true frontier
  * ([[graft.util.StateFs.frontierName]]), so every delivered id above
  * the compacted generation is accounted by a dir or a log entry —
  * an interior hole is then certain CO-loss of a generation and its
  * marker (the r14 residual), loud on every listing. The chain's
  * SUFFIX is covered by the `FRONTIER` witness (r15,
  * [[graft.util.StateFs.logAppend]]): one small atomic file recording
  * the max delivered id, which every listing requires the surviving
  * chain to reach — co-loss of the newest generation(s) with their
  * markers no longer reads as a shorter history — and since r16,
  * removing FRONTIER itself (alone or together with that suffix) is
  * loud too: the write order FRONTIER-before-GENESIS makes
  * GENESIS-without-FRONTIER impossible benignly, so every listing
  * refuses it naming the witness ([[graft.util.StateFs.checkedVDirs]]).
  * Remaining residual (documented, under-detect-only): the single
  * newest id inside its marker-to-frontier write instant (which the
  * WAL replay repairs anyway).
  *
  * The checkpoint and the state dir live and die TOGETHER (the
  * [[StreamingBm25]] caveat — but with a WORSE failure mode here,
  * because this index's replay marker is the per-batch dir itself,
  * not a monotone frontier): a recreated checkpoint restarts batch
  * ids at 0 and re-lists every source file. An id whose per-batch
  * dir still exists is no-oped — silently dropping any NEW files
  * swept into it — but an id whose dir a compaction folded away is
  * NOT marked committed anymore, so it re-appends the ENTIRE
  * re-listed corpus on top of the compacted generation: every
  * pre-existing vector served twice (spec-pinned in
  * StreamingIvfSpec). A kept checkpoint against a deleted state dir
  * re-delivers nothing and serves an empty index forever. Reset
  * both or neither.
  */
object StreamingIvf {

  private def listsBase(stateDir: String) = new Path(stateDir, "lists")

  /** The live lists tree: the PTR-named generation dir under `lists/`
    * ([[graft.util.StateFs.resolveLive]]; `g0`, not created, on a
    * virgin index). The centroids dir is written once and never
    * swapped, so it lives outside the generation layout. */
  private def listsDir(spark: SparkSession, stateDir: String): Path = {
    val base = listsBase(stateDir)
    StateFs.resolveLive(StateFs.fs(spark, base), base)
  }

  /** [[graft.util.StateFs.logAppend]] on the lists dir — one O(1)
    * atomic empty-file create per committed batch (header scaladoc). */
  private def logAppend(fs: org.apache.hadoop.fs.FileSystem, lists: Path,
      name: String): Unit = StateFs.logAppend(fs, lists, name)

  /** Committed list dirs of the live generation — state I/O through
    * the Hadoop FileSystem API (graft.util.StateFs), so file:// and
    * hdfs:// state dirs behave identically. */
  private def committedListDirs(spark: SparkSession, stateDir: String): Seq[Path] = {
    val lists = listsDir(spark, stateDir)
    // The MANIFEST + applog cross-checks live in StateFs.checkedVDirs
    // (r14 — shared with StreamingIvfPq): the manifest-named compacted
    // generation and every applog-logged append dir must exist, else
    // loud loss errors naming what is missing. A missing LOG entry is
    // the benign commit-to-log crash window (the replay completes it);
    // appends after the last compaction are applog-covered, the
    // compacted mass is manifest-covered (header scaladoc).
    StateFs.checkedVDirs(StateFs.fs(spark, lists), lists, "IVF")
  }

  private def centroidsDir(stateDir: String) = new Path(stateDir, "centroids")

  /** The frozen coarse quantizer, or None before the first committed
    * batch. */
  def readCentroids(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val d = centroidsDir(stateDir)
    if (StateFs.committed(StateFs.fs(spark, d), d))
      Some(spark.read.parquet(d.toString))
    else None
  }

  /** The served index `(centroids, assigned lists)` after every
    * committed batch, or None before the first. Only `_SUCCESS`-marked
    * list directories are read — partial writes are invisible. */
  def readIndex(spark: SparkSession, stateDir: String): Option[(DataFrame, DataFrame)] = {
    val cents0 = readCentroids(spark, stateDir)
    // Centroid-loss detection (review r13): list dirs are only ever
    // written AFTER the centroids commit, so committed lists with no
    // centroids is certain external loss — returning None here would
    // read as "no index yet" and invite a silent from-scratch rebuild
    // over live data. appendBatch has the matching guard (it would
    // otherwise re-seed NEW centroids and assign future appends and
    // probes against geometry the stored lists were not built with).
    if (cents0.isEmpty) {
      // the manifest-checked listing, not a raw one (review r13 third
      // pass): it fails loudly when MANIFEST names a generation that is
      // gone — so TOTAL loss (centroids plus every list dir removed,
      // the plain MANIFEST file surviving v*-targeted GC) is loud too,
      // instead of reading as "no index yet" and inviting a re-seed
      // that would wedge on the stale manifest later
      val dirs = committedListDirs(spark, stateDir)
      require(dirs.isEmpty,
        s"IVF state inconsistent: committed list dirs " +
          s"[${dirs.map(_.getName).mkString(", ")}] exist under " +
          s"${listsDir(spark, stateDir)} but the frozen centroids are missing " +
          "— the centroids were removed externally; restore them or " +
          "rebuild the index from the raw vectors")
    }
    cents0.map { cents =>
      val dirs = committedListDirs(spark, stateDir)
      val assigned =
        if (dirs.isEmpty)
          // centroids committed but no lists yet (crash window between
          // the two first-batch writes): an empty, correctly-typed list
          // frame — the replay will fill it.
          cents.limit(0).select(col("cent_id").as("cluster"),
            col("cent_id").as("c_id"), col("cent_vec").as("c_vec"))
        else dirs
          // per-dir reads + unionByName: a compacted dir is
          // partitionBy(cluster) (cluster read back as a partition
          // column — directory-name inference types it Int, so cast
          // it back to the Long the data column carries), fresh
          // append dirs hold it as a data column — one multi-path
          // read would refuse the mixed layout
          .map(d => spark.read.option("basePath", d.toString).parquet(d.toString)
            .withColumn("cluster", col("cluster").cast("long")))
          .reduce(_ unionByName _)
      (cents, assigned)
    }
  }

  /** Fold one batch into the index — pure batch logic, callable (and
    * tested) outside any stream. First non-empty batch also seeds and
    * freezes the quantizer. Returns true iff the batch was applied
    * (false = replay skip or empty batch). */
  def appendBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
      nCentroids: Int, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Boolean = {
    // writer entry: a virgin lists store publishes PTR=g0 first
    val lists = StateFs.openLive(spark, listsBase(stateDir))
    val fs = StateFs.fs(spark, lists)
    // Fail-fast gate (ADVICE r13): run the manifest/applog-checked
    // listing at EVERY append entry, not only when seeding — after
    // external loss, appends onto an index every read of which fails
    // would otherwise keep succeeding, accumulating wasted work on a
    // wedged index. Also feeds the seeding guard below.
    val existing = committedListDirs(spark, stateDir)
    val listDir = new Path(lists, f"v$batchId%020d")
    if (StateFs.committed(fs, listDir)) {
      // Replay of a committed id: also the repair point for the crash
      // window between the dir's parquet commit and its applog entry
      // (the two writes are not atomic together; the WAL re-delivers
      // exactly the id that can be mid-window — header scaladoc).
      logAppend(fs, lists, listDir.getName)
      return false
    }
    if (batch.isEmpty) {
      // Chain densifier (VERDICT r14 #3): an empty batch is a no-op
      // for the index but its id is still logged (`applog/s<id>`) so
      // the delivered-id chain stays gap-free — any interior hole in
      // the chain is then certain marker+dir co-loss, which
      // StateFs.checkedVDirs calls out loudly. O(1), idempotent on
      // replay.
      StateFs.logSkip(fs, lists, batchId)
      return false
    }
    val cents = readCentroids(spark, stateDir).getOrElse {
      // Seeding is only legitimate on a virgin index: lists are written
      // AFTER the centroids commit (and this batch's own dir was ruled
      // out by the replay check above), so any committed list dir here
      // means the centroids were lost externally — re-seeding would
      // silently assign this and future appends (and probes) against
      // geometry the stored lists were not built with (review r13).
      // Manifest-checked listing (third pass): a surviving MANIFEST
      // with every list dir gone is total external loss, loud too.
      require(existing.isEmpty,
        s"IVF state inconsistent: committed list dirs " +
          s"[${existing.map(_.getName).mkString(", ")}] exist under " +
          s"$lists but the frozen centroids are missing — the centroids " +
          "were removed externally; restore them or rebuild the index " +
          "from the raw vectors")
      // Deterministic seed from THIS batch (smallest ids), then freeze.
      // A crash after this write replays the same batch → the same
      // centroids are simply read back, not re-derived — idempotent.
      val (c, _) = Similarity.ivfIndex(batch, nCentroids, idCol, vecCol)
      c.coalesce(1).write.mode("overwrite").parquet(centroidsDir(stateDir).toString)
      spark.read.parquet(centroidsDir(stateDir).toString)
    }
    Similarity.ivfAssign(cents, batch, idCol, vecCol)
      .write.mode("overwrite").parquet(listDir.toString)
    logAppend(fs, lists, listDir.getName)
    true
  }

  /** Background compaction — the coalesce the header promised: rewrite
    * every committed `lists/v*` directory into ONE directory named at
    * the current maximum committed batch id. Served content is
    * identical (spec-pinned); replay stays safe because the only batch
    * id the offsets WAL can re-deliver after a drain is the last one,
    * whose `_SUCCESS` the compacted directory retains (earlier ids are
    * WAL-committed and never replayed — and compaction runs BETWEEN
    * drains, the single-writer discipline shared with
    * [[graft.operators.Bm25Index.compact]]). The rewrite lands in the
    * unpublished next generation and is published by one PTR rewrite:
    * a crash leaves either the old generation served next to a dead
    * partial target, or the new one next to its grace-window
    * predecessor — both collected at the next compaction entry
    * ([[graft.util.StateFs.gcStaleGens]]).
    *
    * The swap also installs the loss-detection manifest (header
    * scaladoc): `MANIFEST` naming the compacted generation, plus the
    * generation's folded-dirs `_COMPACTED` marker
    * ([[graft.util.StateFs.writeFolded]], diagnostic), are written
    * into the unpublished generation BEFORE the swap — they become visible
    * atomically with it, so there is no window where the manifest
    * names a generation that does not exist (the trap ADVICE r12
    * found in the Bm25 swap-then-commit ordering cannot arise here:
    * this index's metadata lives inside the generation, not in a
    * separately-committed stats row).
    *
    * NO CONCURRENT WRITERS — enforced, not assumed (VERDICT r14 #1,
    * the [[graft.sink.Compactor]] standard applied here): the rewrite
    * takes seconds-to-minutes and the swap REPLACES the live tree, so
    * a drain committing an append (parquet dir + applog marker) in
    * that window would be silently destroyed — and because `applog/`
    * lives INSIDE the live generation, the loss-detection evidence would
    * vanish with the data: the one hole the r14 loud-loss matrix
    * cannot see. The committed-generation + applog name set is
    * therefore snapshotted at entry
    * ([[graft.util.StateFs.appendSnapshot]]) and re-checked
    * immediately before the swap — any difference aborts loudly with
    * the rewrite discarded and the live tree (INCLUDING the
    * concurrent append and its log entry) intact; the next clean
    * compaction folds it. The unguarded window shrinks from the whole
    * rewrite to the instants between the re-check and the PTR
    * rewrite. Schedule compaction between drains regardless; the
    * guard turns a discipline violation into a loud retry instead of
    * silent loss.
    * Returns true iff a rewrite happened. */
  def compact(spark: SparkSession, stateDir: String): Boolean =
    compactImpl(spark, stateDir, () => ())

  /** [[compact]] with an injectable pre-swap hook — the test seam the
    * concurrent-append guard is pinned through (the
    * CompactionSpec/Compactor device); the public entry passes a
    * no-op. */
  private[graft] def compactImpl(spark: SparkSession, stateDir: String,
      beforeSwap: () => Unit): Boolean = {
    val base = listsBase(stateDir)
    val fs = StateFs.fs(spark, base)
    val live = StateFs.resolveLive(fs, base)
    // writer-entry GC: a crashed compaction's partial target, or the
    // superseded grace-window generation
    StateFs.gcStaleGens(fs, base, live.getName)
    // the concurrency snapshot is taken BEFORE the fold-set listing
    // (review r15 — taken after, an append committing between the two
    // listings was in the snapshot but NOT in the fold, so the
    // pre-swap re-check passed and the swap destroyed it): anything
    // committed after this instant either made it into the fold set
    // below (safe — the rewrite carries it) or shows up in the
    // re-check diff (loud abort).
    val snapshot = StateFs.appendSnapshot(fs, live)
    // the manifest-CHECKED listing, not the raw one: if the compacted
    // generation was lost externally, folding the survivors here would
    // rewrite the manifest around the hole — silently "healing" the
    // index into a smaller corpus and erasing the loss evidence the
    // manifest exists to preserve. Compaction must fail as loudly as
    // the reads do.
    val dirs = committedListDirs(spark, stateDir)
    if (dirs.size <= 1) return false
    // named at the TRUE frontier — the max over committed dirs and
    // skip-logged empty-batch ids, so consuming the applog with the
    // swap cannot open a false hole in the dense id chain
    val vname = StateFs.frontierName(fs, live, dirs)
    // stage in the UNPUBLISHED next generation dir, install by one
    // atomic PTR rewrite (StateFs scaladoc)
    val target = StateFs.nextGen(base, live)
    dirs.map(d => spark.read.option("basePath", d.toString).parquet(d.toString)
        .withColumn("cluster", col("cluster").cast("long")))
      .reduce(_ unionByName _)
      // bucket-aligned write: one hash exchange lands each cluster in
      // one task → ≤nCentroids files, not tasks×clusters tiny ones
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(new Path(target, vname).toString)
    StateFs.writeFolded(fs, new Path(target, vname), dirs.map(_.getName))
    StateFs.writeFileAtomic(spark, new Path(target, "MANIFEST"), vname)
    // carry the frontier + genesis witnesses into the new generation
    // (they live in the generation root; vname IS the frontier at rest — the
    // single-writer discipline plus the concurrency guard below
    // enforce "at rest" — and everything at or below it is folded, so
    // density is guaranteed from vname on)
    StateFs.writeFileAtomic(spark, StateFs.frontierFile(target),
      vname.drop(1).toLong.toString)
    StateFs.writeFileAtomic(spark, StateFs.genesisFile(target),
      vname.drop(1).toLong.toString)
    beforeSwap()
    // Optimistic-concurrency re-check (header scaladoc): a drain
    // committed an append while we rewrote — swapping now would
    // destroy it together with its applog evidence. Abort loudly,
    // keeping live (the concurrent append included), discarding only
    // our rewrite.
    val changed = StateFs.snapshotDiff(fs, live, snapshot)
    if (changed.nonEmpty) {
      StateFs.deleteRec(fs, target)
      sys.error(s"IVF compact: $live changed during the rewrite " +
        s"(concurrent writer; changed entries: ${changed.mkString(", ")}) " +
        "— rewrite discarded, live index intact including the concurrent " +
        "append; rerun compaction between drains (the no-writer " +
        "maintenance slot)")
    }
    StateFs.pointerSwap(spark, base, target)
    true
  }

  /** Wire the appender into a stream. `vecs` must carry
    * `(idCol, vecCol)`; each micro-batch appends its own committed
    * list directory; re-delivered batch ids no-op. */
  def fit(spark: SparkSession, vecs: Dataset[_], stateDir: String,
      checkpointDir: String, nCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[_], batchId: Long) =>
        appendBatch(spark, stateDir, batch.toDF(), nCentroids, batchId,
          idCol, vecCol)
        ()
      }
      .start()

  /** Serve queries from the maintained index —
    * [[Similarity.ivfProbe]] over the committed state, with the
    * assigned read FILTERED to the probed cluster ids first: the
    * query→cluster argmax is a broadcast crossjoin over |queries|
    * rows (~free, recomputed inside `ivfProbe` anyway), its ≤
    * |queries|·nProbe distinct ids are collected, and `isin` over
    * them partition-prunes the compacted `partitionBy(cluster)`
    * generation at the directory level — probe cost follows probed
    * lists, not index size. Dropping non-probed clusters before the
    * join is result-identical: the join on `cluster` discards them
    * regardless. Throws before the first committed batch. */
  def probe(spark: SparkSession, stateDir: String, queries: DataFrame,
      k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cents, assigned) = readIndex(spark, stateDir).getOrElse(
      sys.error(s"no committed IVF index under $stateDir"))
    val probed = Similarity.probedClusters(cents, queries, nProbe, idCol, vecCol)
    Similarity.ivfProbe(cents,
      assigned.filter(col("cluster").isin(probed: _*)),
      queries, k, nProbe, idCol, vecCol)
  }
}
