package graft.util

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hadoop-FileSystem primitives for the stored-state stores
  * ([[graft.operators.Bm25Index]], [[graft.sink.Compactor]],
  * [[AppendLog]] — the streamed vector indexes — and
  * [[graft.streaming.StreamingKMeans]]): version-dir listing, `_SUCCESS`
  * commit checks, the `_COMPACTED` folded-dirs marker, and the one
  * state layout every stored base uses — factored here so the layout
  * and its crash matrix exist ONCE. Through the Hadoop API the same
  * code serves `file://`, `hdfs://` and object stores alike.
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
  * Two kinds of store share it: append stores ([[AppendLog]], the
  * Compactor tables) write into the live generation and compact into
  * the next, and replace stores (BM25's merged df/stats, the
  * StreamingKMeans accumulator) write each whole new state into the
  * next generation ([[commitFrames]], read back by [[readFrames]]).
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
  * of a retired layout — the rename-aside swap (`v*` dirs, parquet
  * files, or `.bak`/`.tmp` siblings) or the `v<id>` dirs and `CURRENT`
  * pointer replace stores once used — which must be rebuilt into a
  * fresh dir. */
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
    * callers without a session handle ([[AppendLog]]'s witness
    * updates). */
  def writeFileAtomicFs(f: FileSystem, target: Path, value: String): Unit = {
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(value.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(target.toUri, f.getConf)
      .rename(tmp, target, Options.Rename.OVERWRITE)
  }

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
    * layout (object scaladoc). */
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
      sys.error(s"leftover rename layout refused: $base holds state in a " +
        "retired layout — the rename-aside swap or the v<id>/CURRENT " +
        s"pointer (found: ${found.mkString(", ")}) — and no PTR version " +
        "pointer; only the g<k>/PTR generation layout is " +
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

  // ---- replace stores: each commit writes the whole state ----

  /** The live generation holding a replace store's `frames`, or None
    * while the store is virgin: `live` is `g0`, which replace stores
    * never write (their first commit publishes `PTR=g0` and writes
    * `g1`, so a crash inside it stays quiet). A named `g<k>` that is
    * missing, or whose frames lack `_SUCCESS`, is external loss. */
  private def replacedLive(fs: FileSystem, base: Path, live: Path,
      frames: Seq[String]): Option[Path] =
    if (live.getName == "g0") None
    else {
      val lost = frames.filterNot(f => committed(fs, new Path(live, f)))
      require(lost.isEmpty,
        s"state inconsistent: the version pointer under $base names " +
          s"generation ${live.getName} but its frame(s) " +
          s"[${lost.mkString(", ")}] are missing or uncommitted — the live " +
          "state was removed externally; restore it or rebuild the store " +
          "from its source rows")
      Some(live)
    }

  /** The committed `frames` of a replace store, in order, or None
    * before its first commit. A lost pointer, a lost live generation
    * and a leftover layout are refused loudly ([[resolveLive]]). */
  def readFrames(spark: SparkSession, base: Path,
      frames: Seq[String]): Option[Seq[DataFrame]] = {
    val f = fs(spark, base)
    replacedLive(f, base, resolveLive(f, base), frames)
      .map(g => frames.map(n => spark.read.parquet(new Path(g, n).toString)))
  }

  /** Replace a store's whole state with `frames` (name → one-file
    * frame): after the read-side refusals, collect stale generations,
    * write every frame into the next generation, and publish it with
    * one [[pointerSwap]]. The previous generation stays as the reader
    * grace window; the frames may read the live one. */
  def commitFrames(spark: SparkSession, base: Path,
      frames: Seq[(String, DataFrame)]): Unit = {
    val f = fs(spark, base)
    val live = openLive(spark, base)
    replacedLive(f, base, live, frames.map(_._1))
    gcStaleGens(f, base, live.getName)
    val next = nextGen(base, live)
    for ((n, df) <- frames)
      df.coalesce(1).write.mode("overwrite").parquet(new Path(next, n).toString)
    pointerSwap(spark, base, next)
  }

  // ---- compacted-generation marker ----

  /** Record, INSIDE a compacted generation directory, the names of
    * the directories it folded — written while the generation is
    * still unpublished, so the marker becomes visible atomically
    * with the PTR swap. Underscore-prefixed: parquet readers ignore it,
    * like `_SUCCESS`. Its presence tells a compacted generation from a
    * plain append dir of the same name ([[AppendLog]]; BM25's served
    * set and its merged-state-loss rule). */
  def writeFolded(fs: FileSystem, genDir: Path, folded: Seq[String]): Unit = {
    val out = fs.create(new Path(genDir, "_COMPACTED"), true)
    try out.write(folded.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
