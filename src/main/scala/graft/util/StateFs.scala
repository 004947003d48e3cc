package graft.util

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem primitives for the stored-state stores
  * ([[graft.operators.Bm25Index]], [[graft.streaming.StreamingIvf]],
  * [[graft.streaming.StreamingIvfPq]], [[graft.sink.Compactor]]):
  * version-dir listing, `_SUCCESS` commit checks, the CURRENT pointer,
  * and the one state layout every stored base uses — factored here so
  * the layout and its crash matrix exist ONCE. Through the Hadoop API
  * the same code serves `file://`, `hdfs://` and object stores alike.
  *
  * THE LAYOUT. A state base dir is a container of generation dirs
  * `g<k>` plus a one-line `PTR` file naming the live one. Compaction
  * writes its rewrite into `g<k+1>` (unpublished — readers follow PTR,
  * so partial writes are invisible), then publishes it by atomically
  * rewriting PTR: one small-file replace, atomic on HDFS/local via the
  * FileContext overwrite-rename and on S3-class stores, where a PUT
  * replaces the whole object. No directory rename is load-bearing —
  * the log-commit shape object stores support. The previous generation
  * is KEPT as an in-flight-reader grace window ([[pointerSwap]]) and
  * collected at the next compaction entry ([[gcStaleGens]]). Crash
  * matrix, all read-safe with ZERO repair: a partial `g<k+1>` with PTR
  * at `g<k>` serves the old generation; a moved PTR serves the new one
  * while the predecessor idles; stale generations and an orphan
  * `PTR.tmp` are collected at the next compaction entry.
  *
  * VIRGIN BASES. A base that is absent, empty, or holds only the
  * `PTR.tmp` of a crashed first publish is virgin: [[resolveLive]]
  * names `g0` without creating anything, so readers see an empty
  * store, and the first writer ([[openLive]]) publishes `PTR=g0`
  * before it writes any generation — no marker file is needed.
  *
  * LEFTOVER LAYOUTS. A non-empty base without `PTR` is refused loudly
  * on read, append and compact, deleting nothing: with generation dirs
  * present the pointer was lost externally; otherwise it is a leftover
  * of the retired rename-aside layout (`v*` dirs, parquet files, or
  * `.bak`/`.tmp` siblings), which must be rebuilt into a fresh dir. */
object StateFs {

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def committed(fs: FileSystem, d: Path): Boolean =
    fs.exists(new Path(d, "_SUCCESS"))

  /** Committed `v*`-named child directories of `dir`, name-sorted. */
  def committedVDirs(fs: FileSystem, dir: Path): Seq[Path] = {
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v") &&
        committed(fs, s.getPath))
      .map(_.getPath).sortBy(_.getName)
  }

  def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8).trim
    finally in.close()
  }

  /** Atomically (re)write a small text file: write `<name>.tmp`, then
    * rename OVER the target — atomic on HDFS and the local fs via
    * `FileContext` (plain `FileSystem.rename` cannot overwrite). */
  def writeFileAtomic(spark: SparkSession, target: Path, value: String): Unit =
    writeFileAtomicFs(fs(spark, target), target, value)

  /** [[writeFileAtomic]] against an already-resolved FileSystem — for
    * callers without a session handle ([[logAppend]]'s frontier
    * update). */
  def writeFileAtomicFs(f: FileSystem, target: Path, value: String): Unit = {
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(value.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(target.toUri, f.getConf)
      .rename(tmp, target, Options.Rename.OVERWRITE)
  }

  /** Atomically (re)point `dir/CURRENT` at `value`. */
  def writePointer(spark: SparkSession, dir: Path, value: String): Unit =
    writeFileAtomic(spark, new Path(dir, "CURRENT"), value)

  def deleteRec(fs: FileSystem, p: Path): Unit = {
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  // ---- the generation-pointer layout (object scaladoc) ----

  private val PtrFile = "PTR"

  private def isGen(s: org.apache.hadoop.fs.FileStatus): Boolean =
    s.isDirectory && s.getPath.getName.matches("g\\d+")

  /** The live generation of `base`: the PTR-named `g<k>` dir, or `g0`
    * (not created) for a virgin base. Refuses loudly — deleting
    * nothing — a base whose PTR is missing but which holds generation
    * dirs (external loss of the pointer: defaulting to `g0` would
    * serve an empty store while the next compaction's [[gcStaleGens]]
    * deleted the real live generation), and a base holding a leftover
    * rename-aside layout (object scaladoc). */
  def resolveLive(fs: FileSystem, base: Path): Path = {
    val ptr = new Path(base, PtrFile)
    if (fs.exists(ptr)) return new Path(base, readString(fs, ptr))
    val kids =
      if (fs.exists(base))
        fs.listStatus(base).toSeq.filterNot(_.getPath.getName == PtrFile + ".tmp")
      else Seq.empty
    val gens = kids.filter(isGen).map(_.getPath.getName).sorted
    require(gens.isEmpty,
      s"state inconsistent: $base has no PTR file but generation dir(s) " +
        s"[${gens.mkString(", ")}] exist — the version pointer was removed " +
        "externally; restore it (one line naming the live generation) or " +
        "rebuild the index")
    val siblings = Seq(".bak", ".tmp")
      .map(s => new Path(base.getParent, base.getName + s)).filter(fs.exists)
    if (kids.nonEmpty || siblings.nonEmpty) {
      val found = (kids.map(_.getPath.getName).sorted ++
        siblings.map(_.getName)).take(8)
      sys.error(s"leftover rename layout refused: $base holds state in the " +
        s"retired rename-aside layout (found: ${found.mkString(", ")}) and " +
        "no PTR version pointer — only the g<k>/PTR generation layout is " +
        "served. Rebuild the store into a fresh directory; nothing was " +
        "deleted")
    }
    new Path(base, "g0")
  }

  /** [[resolveLive]] for a WRITER: on a virgin base, publish `PTR=g0`
    * first, so no generation is ever written without the pointer that
    * names it. */
  def openLive(spark: SparkSession, base: Path): Path = {
    val f = fs(spark, base)
    val ptr = new Path(base, PtrFile)
    if (f.exists(ptr)) new Path(base, readString(f, ptr))
    else {
      val live = resolveLive(f, base) // g0, or the loud refusals
      writeFileAtomic(spark, ptr, live.getName)
      live
    }
  }

  /** The target generation dir a compaction writes into: the
    * successor of the live generation. */
  def nextGen(base: Path, live: Path): Path =
    new Path(base, "g" + (live.getName.drop(1).toLong + 1))

  /** Publish `next` as the live generation — ONE atomic PTR rewrite,
    * nothing else. The previous generation is deliberately KEPT: a
    * reader that resolved it just before the swap may still be
    * mid-scan, and deleting it inline would fail that read. It is
    * collected by [[gcStaleGens]] at the next compaction entry, which
    * by the single-writer discipline is the next point guaranteed free
    * of readers mid-scan on it; the cost is one stale generation of
    * disk between compactions.
    *
    * GRACE-WINDOW CONTRACT: the window is exactly ONE generation deep,
    * so a reader's scan must not span TWO compactions — a reader that
    * resolved generation `g<k>` keeps it through the swap to `g<k+1>`
    * but loses it to the writer-entry GC of the compaction that
    * publishes `g<k+2>`. */
  def pointerSwap(spark: SparkSession, base: Path, next: Path): Unit =
    writeFileAtomic(spark, new Path(base, PtrFile), next.getName)

  /** Writer-entry GC: every `g*` generation except the live `keep` is
    * stale — a crashed compaction's partial target, or the previous
    * generation [[pointerSwap]] left as the reader grace window. Also
    * drops orphan `*.tmp` FILES directly under `base` (a crash between
    * [[writeFileAtomicFs]]'s create and rename strands a `PTR.tmp`
    * nothing else cleans). */
  def gcStaleGens(fs: FileSystem, base: Path, keep: String): Unit =
    if (fs.exists(base))
      fs.listStatus(base).toSeq.foreach { s =>
        val n = s.getPath.getName
        if (n != keep && (isGen(s) || (s.isFile && n.endsWith(".tmp"))))
          deleteRec(fs, s.getPath)
      }

  // ---- crash-interrupted-compaction marker ----

  /** Record, INSIDE a compacted generation directory, the names of
    * the directories it folded — written while the generation is
    * still unpublished, so the marker becomes visible atomically
    * with the PTR swap. Underscore-prefixed: parquet readers ignore it,
    * like `_SUCCESS`. A reader whose committed manifest names
    * directories that no longer exist can then distinguish a
    * crash-interrupted compaction (every missing name appears in a
    * committed generation's folded list → serve that generation, it
    * holds the union) from genuine external data loss (fail loudly). */
  def writeFolded(fs: FileSystem, genDir: Path, folded: Seq[String]): Unit = {
    val out = fs.create(new Path(genDir, "_COMPACTED"), true)
    try out.write(folded.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The folded-dir names of a compacted generation, or None for a
    * plain append generation. */
  def readFolded(fs: FileSystem, genDir: Path): Option[Seq[String]] = {
    val m = new Path(genDir, "_COMPACTED")
    if (!fs.exists(m)) None
    else Some(readString(fs, m).split("\n").toSeq.filter(_.nonEmpty))
  }

  // ---- manifest + append-log checked listing (shared by the
  //      streamed stored-state indexes: StreamingIvf, StreamingIvfPq) ----

  def applogDir(dir: Path): Path = new Path(dir, "applog")

  /** Record a committed append generation in `dir`'s append log — one
    * O(1) atomic empty-file create per batch, NOT a pointer swap (the
    * append-only cheapness survives). Idempotent: the replay-skip path
    * re-runs it to complete the crash window between a generation's
    * parquet commit and its log entry. The log deliberately LAGS the
    * commit, so a crash can only under-log — an orphan entry (false
    * loss alarm) cannot arise; [[checkedVDirs]] treats a missing entry
    * as the benign window and a missing DIR for a logged entry as
    * certain external loss. */
  def frontierFile(dir: Path): Path = new Path(dir, "FRONTIER")

  /** First batch id delivered under the dense-chain regime — the
    * dense-id check's floor gate (review r15): a pre-r15 state dir
    * whose history contained an EMPTY batch has a legitimate hole (no
    * `s<id>` marker was written then), and an ungated check would
    * permanently wedge the healthy index after an upgrade. Density is
    * guaranteed only from the first r15-logged id on; GENESIS records
    * it (written once by [[logAppend]], reset to the folded frontier
    * by compaction). A dir without GENESIS gets r14 semantics. */
  def genesisFile(dir: Path): Path = new Path(dir, "GENESIS")

  private def idOf(name: String): Option[Long] =
    if (name.matches("[vs]\\d+")) Some(name.drop(1).toLong) else None

  /** The witness files' one shared parse policy (review r15): corrupt
    * content is LOUD state inconsistency — [[logAppend]] must not
    * silently rewrite a corrupt frontier downward (a real suffix loss
    * below the old value would become undetectable), and readers must
    * name the file instead of surfacing a bare NumberFormatException. */
  private def readWitness(fs: FileSystem, f: Path, what: String): Long = {
    val raw = readString(fs, f)
    scala.util.Try(raw.toLong).getOrElse(sys.error(
      s"$what witness $f is unreadable (content: '$raw') — restore it " +
        "(one line holding the batch id) or rebuild the index"))
  }

  def logAppend(fs: FileSystem, dir: Path, name: String): Unit = {
    val d = applogDir(dir)
    if (!fs.exists(d)) { fs.mkdirs(d); () }
    val f = new Path(d, name)
    if (!fs.exists(f)) fs.create(f, false).close()
    // Frontier witness (r15 — closes the SUFFIX co-loss residual the
    // dense chain left): FRONTIER records the max delivered batch id
    // as one small atomic file, updated AFTER the log marker so it
    // can only LAG the chain (a lower bound — no false alarms; the
    // crash between marker and frontier write is repaired by the same
    // WAL replay that completes the marker). [[checkedVDirs]] then
    // requires the surviving chain to reach it: co-loss of the
    // NEWEST generation(s) with their markers — previously
    // indistinguishable from a shorter history — is loud. Runs on
    // every logged id (v and s alike); O(1) per batch (one read, one
    // small-file rewrite when the frontier advances).
    //
    // Order (review r16 — closes the FRONTIER-plus-suffix co-loss
    // residual): FRONTIER is written BEFORE GENESIS, so in the r16+
    // regime GENESIS-without-FRONTIER cannot arise benignly (the
    // crash between the two leaves FRONTIER-without-GENESIS, which
    // merely skips the dense check until the same id's WAL replay
    // writes GENESIS). [[checkedVDirs]] can then treat a missing
    // FRONTIER next to a present GENESIS as certain external removal
    // of the witness — previously it had to read as legacy state and
    // skip, which let FRONTIER be removed TOGETHER with the suffix it
    // witnesses, silently. Upgrade note: a store whose r15-era first
    // append crashed exactly between its genesis and frontier writes
    // (the old order, a one-instant window) trips the new check once;
    // the named repair is the one-line FRONTIER restore.
    for (id <- idOf(name)) {
      val ff = frontierFile(dir)
      val cur =
        if (fs.exists(ff)) readWitness(fs, ff, "frontier") else -1L
      if (id > cur) writeFileAtomicFs(fs, ff, id.toString)
      val gf = genesisFile(dir)
      if (!fs.exists(gf)) writeFileAtomicFs(fs, gf, id.toString)
    }
  }

  /** Record a DELIVERED-but-empty batch id as `applog/s<id>` — the
    * chain densifier (VERDICT r14 #3): with every delivered id logged
    * (committed appends as `v<id>`, empty batches as `s<id>`) the
    * logged/committed id set is gap-free above the compacted
    * generation, so [[checkedVDirs]] can call any interior hole what
    * it is — co-loss of a generation AND its log marker, the one
    * state r14's per-entry checks could not distinguish from a
    * legitimately sparse chain. Same O(1) idempotent marker create as
    * [[logAppend]]. */
  def logSkip(fs: FileSystem, dir: Path, batchId: Long): Unit =
    logAppend(fs, dir, f"s$batchId%020d")

  /** The compaction frontier name: the max over committed generation
    * ids AND skip-logged (`s<id>`) ids. Compaction consumes the whole
    * applog with the swap, so naming the compacted generation at a
    * mere max-DIR id while a higher `s<id>` existed (the stream's
    * last delivered batch was empty) would leave that id accounted
    * nowhere — a permanent false hole in the dense chain. Named at
    * the true frontier, the generation dir itself accounts for the
    * id, and a WAL replay of that empty id finds the dir committed
    * and correctly no-ops. */
  def frontierName(fs: FileSystem, dir: Path, dirs: Seq[Path]): String = {
    val log = applogDir(dir)
    val sIds =
      if (fs.exists(log))
        fs.listStatus(log).toSeq.map(_.getPath.getName)
          .collect { case n if n.matches("s\\d+") => n.drop(1).toLong }
      else Seq.empty
    f"v${(dirs.map(_.getName.drop(1).toLong) ++ sIds).max}%020d"
  }

  /** Name-level snapshot of `dir`'s committed generations plus its
    * append-log entries — the optimistic-concurrency key the index
    * compactors compare (VERDICT r14 #1: the [[graft.sink.Compactor]]
    * device ported to the index `compact()` paths): taken at compact
    * entry, re-checked via [[snapshotDiff]] immediately before the
    * swap. Any difference means a writer committed an append (or
    * external loss removed one) during the rewrite — swapping then
    * would silently destroy the committed batch TOGETHER with its
    * applog evidence (the log lives inside the swapped tree), the one
    * loss the r14 loud-loss matrix cannot see. Names suffice where the
    * Compactor needs (path, len, mtime): index generations are
    * immutable once committed and `_SUCCESS`-gated — the only
    * mutations are whole-generation appearance/disappearance and log
    * entries, which names capture; an uncommitted in-flight write is
    * invisible to the swap's readers either way. */
  def appendSnapshot(fs: FileSystem, dir: Path): Set[String] = {
    val gens = committedVDirs(fs, dir).map(_.getName)
    val log = applogDir(dir)
    val logs =
      if (fs.exists(log))
        fs.listStatus(log).toSeq.map(s => "applog/" + s.getPath.getName)
      else Seq.empty
    (gens ++ logs).toSet
  }

  /** Entries that appeared or vanished since `entry` — empty means no
    * concurrent writer landed during the rewrite and the swap is safe
    * (modulo the residual instants between this check and the PTR
    * rewrite, the documented Compactor residual). */
  def snapshotDiff(fs: FileSystem, dir: Path, entry: Set[String]): Seq[String] = {
    val now = appendSnapshot(fs, dir)
    ((now diff entry) ++ (entry diff now)).toSeq.sorted
  }

  /** The loss-checked committed listing: [[committedVDirs]], then two cross-checks that turn external
    * loss of committed state into loud errors naming what is missing
    * — `MANIFEST` (the compacted generation must exist: it holds the
    * whole pre-compaction corpus) and `applog/` (every logged append
    * generation must exist as a committed dir). `what` names the
    * index in the error messages ("IVF", "IVF-PQ", ...). */
  def checkedVDirs(fs: FileSystem, dir: Path, what: String): Seq[Path] = {
    val dirs = committedVDirs(fs, dir)
    val manifest = new Path(dir, "MANIFEST")
    if (fs.exists(manifest)) {
      val gen = readString(fs, manifest)
      require(dirs.exists(_.getName == gen),
        s"$what state inconsistent: the compaction manifest under $dir " +
          s"names generation $gen but no committed directory of that " +
          "name exists — the compacted corpus was removed externally; " +
          "restore it or rebuild the index from the raw vectors")
    }
    val applog = applogDir(dir)
    val logged =
      if (fs.exists(applog))
        fs.listStatus(applog).toSeq.map(_.getPath.getName)
      else Seq.empty
    if (logged.nonEmpty) {
      val names = dirs.map(_.getName).toSet
      val missing = logged
        .filter(n => n.startsWith("v") && !names.contains(n)).sorted
      require(missing.isEmpty,
        s"$what state inconsistent: the append log under $dir names " +
          s"committed generation(s) [${missing.mkString(", ")}] but no " +
          "committed directory of that name exists — committed appends " +
          "were removed externally; restore them or rebuild the index " +
          "from the raw vectors")
    }
    // Dense-id-chain check (VERDICT r14 #3 — closes the marker+dir
    // CO-loss residual): every DELIVERED batch id is logged (committed
    // appends as `v<id>`, empty batches as `s<id>` — [[logSkip]]), and
    // stream WAL batch ids are consecutive from 0, so above the
    // compacted generation (the chain floor: compaction consumes the
    // applog and names its generation at the true frontier,
    // [[frontierName]]) the union of committed-dir ids and logged ids
    // is gap-free. An interior hole is therefore certain co-loss of a
    // generation AND its log marker — each alone is caught by the
    // checks above, and the benign commit-to-log crash window leaves
    // the DIR, which still accounts for its id here. Residual (the
    // only one left, documented): co-loss of a SUFFIX of the chain —
    // the topmost generation(s) with their markers — is
    // indistinguishable from a shorter history; under-detects, never
    // false-alarms.
    val ids = (dirs.map(_.getName) ++ logged).collect {
      case n if n.matches("[vs]\\d+") => n.drop(1).toLong
    }.toSet
    // Gated on GENESIS (review r15): density holds only from the first
    // id logged under the r15 regime — a pre-r15 history's empty
    // batches left legitimate holes no marker records, and an ungated
    // check would wedge a healthy index on upgrade. A dir without
    // GENESIS keeps r14 semantics (per-entry checks above only).
    val gf = genesisFile(dir)
    if (ids.nonEmpty && fs.exists(gf)) {
      val genesis = readWitness(fs, gf, "genesis")
      val manifestFloor =
        if (fs.exists(manifest)) readString(fs, manifest).drop(1).toLong
        else -1L
      val floor = math.max(manifestFloor, genesis - 1)
      val holes = ((floor + 1) to ids.max).filterNot(ids)
      require(holes.isEmpty,
        s"$what state inconsistent: delivered batch id(s) " +
          s"[${holes.map(i => f"v$i%020d").mkString(", ")}] under $dir are " +
          "accounted by neither a committed directory nor an append-log " +
          "entry — the id chain is dense by construction, so a committed " +
          "generation AND its log marker were removed together externally; " +
          "restore them or rebuild the index from the raw vectors")
    }
    // Frontier check ([[logAppend]] scaladoc): the dense chain above
    // cannot see loss of its own SUFFIX — the newest generation(s)
    // with their markers removed together read as a shorter history.
    // FRONTIER is the O(1) witness: the chain must reach it. It lags
    // only inside the marker-to-frontier instant of the newest id
    // (WAL-replay-repaired), so maxSeen < frontier is certain loss.
    // A dir with NEITHER witness (pre-r15 legacy state) skips the
    // check — under-detects, never false-alarms. A dir with GENESIS
    // but no FRONTIER is loud since r16 ([[logAppend]]'s write order:
    // FRONTIER strictly precedes GENESIS, so this state cannot arise
    // benignly): it means the witness was removed externally —
    // possibly TOGETHER with the chain suffix it recorded, the one
    // co-loss that was previously silent.
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
          "index from the raw vectors")
    } else require(!fs.exists(gf),
      s"$what state inconsistent: the FRONTIER witness under $dir is " +
        "missing but GENESIS exists — FRONTIER is written before GENESIS " +
        "and consumed by nothing, so it was removed externally, possibly " +
        "together with the newest committed generation(s) it witnessed. " +
        "ONE benign cause exists (ADVICE r17): a store whose FIRST append " +
        "ran on a pre-r16 build (GENESIS-before-FRONTIER write order) and " +
        "crashed in exactly that one instant trips this check healthy on " +
        "upgrade. Either way the restore is one line: write FRONTIER " +
        "holding the max delivered batch id (for the legacy-upgrade case, " +
        "the newest generation's id). Otherwise restore the lost " +
        "generation(s) or rebuild the index from the raw vectors")
    dirs
  }

  /** Delete every `v*`-named generation under `dir` except `keep` —
    * committed or partial (a crashed commit's half-written dir
    * included). The post-pointer-swap GC shared by the versioned
    * state stores. */
  def gcVersions(fs: FileSystem, dir: Path, keep: String): Unit =
    if (fs.exists(dir))
      fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v") &&
          s.getPath.getName != keep)
        .foreach(s => deleteRec(fs, s.getPath))
}
