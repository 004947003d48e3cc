package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The per-batch append log of a stored index — the one
  * implementation behind [[graft.streaming.StreamingIvf]] (`lists/`,
  * partitioned by `cluster`), [[graft.streaming.StreamingIvfPq]]
  * (`codes/`, partitioned by `cell`) and both families of
  * [[graft.operators.Bm25Index]] (`postings/` by `tkb`, `dl/` by
  * `dhb`). It is the `foreachBatch`
  * exactly-once recipe of the Structured Streaming paper: the batch's
  * own committed directory is its idempotency marker.
  *
  * LAYOUT. `base` is a [[StateFs]] generation container (`g<k>` dirs
  * plus `PTR`). Inside the live generation:
  *  - `v<batchId>/` — one batch's rows, visible once `_SUCCESS` exists
  *    (a crash mid-write leaves an invisible partial the replay
  *    overwrites). A committed dir doubles as the replay marker.
  *  - `applog/v<id>` — an empty marker per committed append, and
  *    `applog/s<id>` per delivered-but-empty batch: O(1) atomic creates,
  *    never a pointer swap, so appends stay cheap.
  *  - `FRONTIER` — the max delivered id; `GENESIS` — the first id
  *    logged under the dense-chain regime.
  *  - after a compaction: one `v<frontier>/` written
  *    `partitionBy(partCol)`, its `_COMPACTED` folded-dirs marker, and a
  *    `MANIFEST` naming it.
  *
  * WRITE ORDER per batch: parquet commit, then the `applog` marker, then
  * FRONTIER (raised), then GENESIS (once). Each write can only LAG the
  * one before it, so a crash under-logs and never leaves an orphan entry
  * (a false loss alarm); the WAL re-delivers exactly the id that can be
  * mid-window, and its replay-skip path re-runs the logging to complete
  * it.
  *
  * CRASH/LOSS MATRIX, checked on every listing — read, append and
  * compact ([[checkedVDirs]]):
  *  - the MANIFEST-named compacted generation is gone → loud (it holds
  *    the whole pre-compaction corpus);
  *  - an `applog/v<id>` names a missing dir → loud; a missing marker
  *    next to its dir is the benign commit-to-log window;
  *  - a hole in the delivered-id chain above the compacted generation
  *    (dirs ∪ markers, dense because empty batches log `s<id>`) → loud:
  *    a dir and its marker were removed together. Gated on GENESIS, so
  *    a pre-dense-chain store, whose empty batches left unlogged holes,
  *    keeps the per-entry checks only;
  *  - the chain stops short of FRONTIER → loud: its newest suffix was
  *    removed;
  *  - GENESIS without FRONTIER → loud: FRONTIER is written first, so it
  *    was removed, perhaps with the suffix it witnessed;
  *  - a witness that does not parse → loud, naming the file.
  * The one residual is under-detect-only: the newest id inside its
  * marker-to-frontier instant, which its WAL replay repairs anyway.
  *
  * COMPACTION folds every committed dir into one generation named at
  * the true frontier (the max over dirs and `s<id>` markers, so no false
  * hole opens), staged in the unpublished next generation with its
  * `_COMPACTED`, `MANIFEST`, `FRONTIER` and `GENESIS`, and published by
  * one PTR rewrite; `applog/` lives inside the generation, so the folded
  * markers vanish atomically with the swap. It refuses to fold around a
  * loss (the checked listing), and it enforces the single-writer rule:
  * the committed-dir and `applog` name set is snapshotted BEFORE the
  * fold-set listing and re-checked just before the swap, and any change
  * discards the rewrite and fails loudly with the live generation — the
  * concurrent append and its marker included — intact.
  *
  * The checkpoint and the state dir live and die together: a recreated
  * checkpoint restarts batch ids at 0, so an id whose dir still exists
  * no-ops (dropping new files swept into it) and an id a compaction
  * folded away re-appends the whole re-listed corpus. A kept checkpoint
  * against a deleted state dir serves an empty index forever. Reset
  * both or neither.
  *
  * `label` names the index in error messages ("IVF", "IVF-PQ", "BM25"). */
final class AppendLog(base: Path, partCol: String, label: String) {
  import AppendLog._

  /** The loss-checked committed dirs of the live generation
    * ([[StateFs.resolveLive]]: none on a virgin base). */
  def dirs(spark: SparkSession): Seq[Path] = {
    val fs = StateFs.fs(spark, base)
    checkedVDirs(fs, StateFs.resolveLive(fs, base), label)
  }

  /** Every committed dir, or None before the first append. */
  def read(spark: SparkSession): Option[DataFrame] = {
    val ds = dirs(spark)
    if (ds.isEmpty) None else Some(union(spark, ds))
  }

  /** Per-dir reads of `ds` (a checked listing, or a caller's subset of
    * one) unioned by name: a compacted dir holds `partCol` as a
    * partition column (inferred Int, cast back to the Long the data
    * column carries), fresh dirs as a data column — one multi-path read
    * would refuse the mix. */
  private[graft] def union(spark: SparkSession, ds: Seq[Path]): DataFrame =
    ds.map(d => spark.read.option("basePath", d.toString).parquet(d.toString)
        .withColumn(partCol, col(partCol).cast("long")))
      .reduce(_ unionByName _)

  /** Fold batch `batchId`: a replayed id completes its log entry and
    * no-ops, an empty batch logs `s<id>` and no-ops, otherwise
    * `write(existing, dir)` writes the batch into `dir` and the id is
    * logged. `existing` is the checked listing, run at every entry so
    * appends onto a damaged store fail fast. Returns true iff applied. */
  def append(spark: SparkSession, batch: DataFrame, batchId: Long)(
      write: (Seq[Path], String) => Unit): Boolean = {
    val l = StateFs.openLive(spark, base)
    val fs = StateFs.fs(spark, l)
    val existing = checkedVDirs(fs, l, label)
    val dir = new Path(l, f"v$batchId%020d")
    if (StateFs.committed(fs, dir)) {
      logAppend(fs, l, dir.getName)
      return false
    }
    if (batch.isEmpty) {
      logSkip(fs, l, batchId)
      return false
    }
    write(existing, dir.toString)
    logAppend(fs, l, dir.getName)
    true
  }

  /** Fold every committed dir into one generation (object scaladoc).
    * Returns true iff a rewrite happened. */
  def compact(spark: SparkSession): Boolean = compactImpl(spark, () => ())

  /** [[compact]] with an injectable pre-swap hook, the seam the
    * concurrent-append guard is tested through. */
  private[graft] def compactImpl(spark: SparkSession, beforeSwap: () => Unit): Boolean = {
    val fs = StateFs.fs(spark, base)
    val l = StateFs.resolveLive(fs, base)
    StateFs.gcStaleGens(fs, base, l.getName)
    // before the fold-set listing: an append landing after this
    // instant is either folded or shows in the re-check
    val snapshot = appendSnapshot(fs, l)
    val ds = checkedVDirs(fs, l, label)
    if (ds.size <= 1) return false
    val vname = frontierName(fs, l, ds)
    val target = StateFs.nextGen(base, l)
    val gen = new Path(target, vname)
    union(spark, ds)
      // one hash exchange lands each bucket in one task
      .repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(gen.toString)
    StateFs.writeFolded(fs, gen, ds.map(_.getName))
    StateFs.writeFileAtomic(spark, new Path(target, "MANIFEST"), vname)
    // vname is the frontier at rest and everything at or below it is
    // folded, so the chain is dense from vname on
    val id = vname.drop(1).toLong.toString
    StateFs.writeFileAtomic(spark, frontierFile(target), id)
    StateFs.writeFileAtomic(spark, genesisFile(target), id)
    beforeSwap()
    val changed = snapshotDiff(fs, l, snapshot)
    if (changed.nonEmpty) {
      StateFs.deleteRec(fs, target)
      sys.error(s"$label compact: $l changed during the rewrite " +
        s"(concurrent writer; changed entries: ${changed.mkString(", ")}) " +
        "— rewrite discarded, live index intact including the concurrent " +
        "append; rerun compaction between drains (the no-writer " +
        "maintenance slot)")
    }
    StateFs.pointerSwap(spark, base, target)
    true
  }
}

object AppendLog {

  private def applogDir(dir: Path): Path = new Path(dir, "applog")

  private[graft] def frontierFile(dir: Path): Path = new Path(dir, "FRONTIER")

  private[graft] def genesisFile(dir: Path): Path = new Path(dir, "GENESIS")

  private def idOf(name: String): Option[Long] =
    if (name.matches("[vs]\\d+")) Some(name.drop(1).toLong) else None

  private def logged(fs: FileSystem, dir: Path): Seq[String] = {
    val log = applogDir(dir)
    if (fs.exists(log)) fs.listStatus(log).toSeq.map(_.getPath.getName)
    else Seq.empty
  }

  /** A witness that does not parse is loud: silently rewriting a
    * corrupt FRONTIER downward would hide a real suffix loss. */
  private def readWitness(fs: FileSystem, f: Path, what: String): Long = {
    val raw = StateFs.readString(fs, f)
    scala.util.Try(raw.toLong).getOrElse(sys.error(
      s"$what witness $f is unreadable (content: '$raw') — restore it " +
        "(one line holding the batch id) or rebuild the index"))
  }

  /** Log `name` in `dir`'s append log, then raise FRONTIER, then write
    * GENESIS once — the write order of the class scaladoc. Idempotent:
    * the replay-skip path re-runs it to complete a crashed window. */
  private[graft] def logAppend(fs: FileSystem, dir: Path, name: String): Unit = {
    val d = applogDir(dir)
    if (!fs.exists(d)) { fs.mkdirs(d); () }
    val f = new Path(d, name)
    if (!fs.exists(f)) fs.create(f, false).close()
    for (id <- idOf(name)) {
      val ff = frontierFile(dir)
      val cur = if (fs.exists(ff)) readWitness(fs, ff, "frontier") else -1L
      if (id > cur) StateFs.writeFileAtomicFs(fs, ff, id.toString)
      val gf = genesisFile(dir)
      if (!fs.exists(gf)) StateFs.writeFileAtomicFs(fs, gf, id.toString)
    }
  }

  /** Log a delivered-but-empty batch as `applog/s<id>`, keeping the id
    * chain dense. */
  private def logSkip(fs: FileSystem, dir: Path, batchId: Long): Unit =
    logAppend(fs, dir, f"s$batchId%020d")

  /** The compacted generation's name: the max over committed dir ids
    * AND `s<id>` markers. Named at a mere max-dir id while a higher
    * empty batch was logged, the swap would consume that id's marker
    * and open a false hole; named here, a replay of that id finds the
    * dir committed and no-ops. */
  private def frontierName(fs: FileSystem, dir: Path, dirs: Seq[Path]): String = {
    val sIds = logged(fs, dir).collect { case n if n.matches("s\\d+") => n.drop(1).toLong }
    f"v${(dirs.map(_.getName.drop(1).toLong) ++ sIds).max}%020d"
  }

  /** Committed dir names plus `applog/` entries — the concurrency key.
    * Names suffice: committed dirs are immutable, so the only changes
    * are whole dirs or markers appearing or vanishing. */
  private def appendSnapshot(fs: FileSystem, dir: Path): Set[String] =
    (StateFs.committedVDirs(fs, dir).map(_.getName) ++
      logged(fs, dir).map("applog/" + _)).toSet

  private def snapshotDiff(fs: FileSystem, dir: Path, entry: Set[String]): Seq[String] = {
    val now = appendSnapshot(fs, dir)
    ((now diff entry) ++ (entry diff now)).toSeq.sorted
  }

  /** [[StateFs.committedVDirs]] of `dir`, after the loss checks of the
    * class scaladoc; each failure names what is missing. */
  private[graft] def checkedVDirs(fs: FileSystem, dir: Path, what: String): Seq[Path] = {
    val dirs = StateFs.committedVDirs(fs, dir)
    val manifest = new Path(dir, "MANIFEST")
    if (fs.exists(manifest)) {
      val gen = StateFs.readString(fs, manifest)
      require(dirs.exists(_.getName == gen),
        s"$what state inconsistent: the compaction manifest under $dir " +
          s"names generation $gen but no committed directory of that " +
          "name exists — the compacted corpus was removed externally; " +
          "restore it or rebuild the index from its source rows")
    }
    val log = logged(fs, dir)
    val names = dirs.map(_.getName).toSet
    val missing = log.filter(n => n.startsWith("v") && !names.contains(n)).sorted
    require(missing.isEmpty,
      s"$what state inconsistent: the append log under $dir names " +
        s"committed generation(s) [${missing.mkString(", ")}] but no " +
        "committed directory of that name exists — committed appends " +
        "were removed externally; restore them or rebuild the index " +
        "from its source rows")
    val ids = (dirs.map(_.getName) ++ log).flatMap(idOf).toSet
    val gf = genesisFile(dir)
    if (ids.nonEmpty && fs.exists(gf)) {
      val genesis = readWitness(fs, gf, "genesis")
      val manifestFloor =
        if (fs.exists(manifest)) StateFs.readString(fs, manifest).drop(1).toLong
        else -1L
      val floor = math.max(manifestFloor, genesis - 1)
      val holes = ((floor + 1) to ids.max).filterNot(ids)
      require(holes.isEmpty,
        s"$what state inconsistent: delivered batch id(s) " +
          s"[${holes.map(i => f"v$i%020d").mkString(", ")}] under $dir are " +
          "accounted by neither a committed directory nor an append-log " +
          "entry — the id chain is dense by construction, so a committed " +
          "generation AND its log marker were removed together externally; " +
          "restore them or rebuild the index from its source rows")
    }
    val ff = frontierFile(dir)
    if (fs.exists(ff)) {
      val frontier = readWitness(fs, ff, "frontier")
      val maxSeen = if (ids.nonEmpty) ids.max else -1L
      require(maxSeen >= frontier,
        s"$what state inconsistent: the frontier witness under $dir " +
          s"records delivered batch id $frontier but the newest surviving " +
          s"generation or log entry is " +
          s"${if (maxSeen < 0) "none" else f"v$maxSeen%020d"} — the chain's " +
          "suffix (the newest committed generation(s) and their log " +
          "markers) was removed externally; restore them or rebuild the " +
          "index from its source rows")
    } else require(!fs.exists(gf),
      s"$what state inconsistent: the FRONTIER witness under $dir is " +
        "missing but GENESIS exists — FRONTIER is written before GENESIS " +
        "and consumed by nothing, so it was removed externally, possibly " +
        "together with the newest committed generation(s) it witnessed. " +
        "ONE benign cause exists: a store whose FIRST append ran on a " +
        "build that wrote GENESIS before FRONTIER and crashed in exactly " +
        "that one instant trips this check healthy on upgrade. Either way " +
        "the restore is one line: write FRONTIER holding the max delivered " +
        "batch id (for the legacy-upgrade case, the newest generation's " +
        "id). Otherwise restore the lost generation(s) or rebuild the " +
        "index from its source rows")
    dirs
  }
}
