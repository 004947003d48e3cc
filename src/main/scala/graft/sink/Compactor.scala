package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.util.StateFs

/** Small-file compaction — the unglamorous operator every 100 TB
  * ingest pipeline needs: incremental loads (one file per day per
  * trigger) accumulate small parquet files; scans then pay per-file
  * open/footer costs and lose vectorization efficiency.
  *
  * `compact` rewrites a table to ⌈rows/targetRowsPerFile⌉ files,
  * optionally sort-clustered so parquet row-group min/max statistics
  * become selective for the cluster keys (poor-man's Z-order for the
  * single-key case). A compacted table uses the one
  * [[graft.util.StateFs]] state layout: the table dir holds `g<k>`
  * generation dirs plus a `PTR` file naming the live one. [[compact]]
  * stages its rewrite in the UNPUBLISHED next generation and publishes
  * it with one atomic `PTR` rewrite — no directory rename is
  * load-bearing, so the same code is crash-safe on an object store —
  * and the superseded generation survives as an in-flight-reader
  * grace window until the next compact entry's GC. A crash at any
  * point leaves the old generation served; the next compact collects
  * the partial target. A table dir left in the retired rename-aside
  * layout (plain parquet files, `.bak`/`.tmp` siblings) is refused
  * loudly by [[read]], [[writeDir]] and [[compact]], nothing deleted:
  * rebuild it into a fresh dir.
  *
  * The DISCIPLINE the layout asks of writers: resolve the write
  * target through [[writeDir]] per job, never cache it across a
  * compaction — a writer holding a pre-swap path would land its rows
  * in the grace-window generation and lose them to the GC. Readers go
  * through [[read]] (PTR-resolving).
  */
object Compactor {

  /** The directory writers must target: the PTR-named live
    * generation. On a virgin table dir this publishes `PTR=g0` first.
    * Resolve per job (header scaladoc) — never cache across a
    * compaction. */
  def writeDir(spark: SparkSession, dir: String): String =
    StateFs.openLive(spark, new Path(dir)).toString

  /** Read the live generation of a compacted table (PTR-resolving; a
    * mid-compaction reader sees the old generation, protected by the
    * grace window until the next compact entry's GC). */
  def read(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val base = new Path(dir)
    spark.read.parquet(StateFs.resolveLive(StateFs.fs(spark, base), base).toString)
  }

  /** Data-file count of the LIVE generation (a base-dir recursion
    * would double-count the grace-window generation), recursing into
    * partition directories. */
  def fileCount(spark: SparkSession, dir: String): Int = {
    val base = new Path(dir)
    val fs = StateFs.fs(spark, base)
    val p = StateFs.resolveLive(fs, base)
    var n = 0
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
    }
    n
  }

  /** Recursive `(path, length, mtime)` listing of every file under
    * `dir` — the optimistic-concurrency snapshot [[compact]] compares.
    * All files, not just `.parquet`: any new or changed file means a
    * writer was active in the window. Modification time is in the key
    * so an in-place same-name same-length replace (not a pattern Spark
    * writers produce — part files get fresh UUID names — but cheap to
    * cover) is caught too, MODULO mtime granularity (ADVICE r14,
    * accepted residual): on filesystems with second-granularity
    * mtimes, a same-name same-length replace within one tick escapes
    * the re-check. No Spark or Hadoop committer produces that
    * pattern; a byte-level content check would cost a second full
    * read of the table per compaction for it. */
  private def fileSnapshot(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Set[(String, Long, Long)] = {
    val it = fs.listFiles(dir, true)
    val b = Set.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b.result()
  }

  /** Rewrite `dir` into ~targetRowsPerFile-row files; `clusterBy`
    * sorts within partitions for stats-based pruning; `partitionBy`
    * MUST name the table's Hive partition columns when the directory
    * is partitioned — a flat rewrite would collapse `col=value/`
    * directories into plain files and break the layout (and any
    * later dynamic-partition merge into it). Returns the new file
    * count.
    *
    * NO CONCURRENT WRITERS (review r13 — the reader half of this
    * contract was documented in the header; the writer half was only
    * implied): the rewrite reads the table once and the swap REPLACES
    * the live generation, so a file appended by another job
    * mid-compact would be silently dropped with it. That is enforced,
    * not assumed: the live listing is snapshotted at entry and
    * re-checked immediately before the swap — any difference aborts
    * loudly with the rewrite discarded and the live table (INCLUDING
    * the concurrent write) intact. Optimistic concurrency without a
    * lakehouse: the unguarded window shrinks from the whole rewrite
    * duration to the instants between the re-check and the PTR
    * rewrite. Schedule compaction in a no-writer slot regardless; the
    * guard turns a violation into a loud retry instead of lost rows.
    *
    * CONTRACT RESIDUAL (ADVICE r14, accepted — part of this method's
    * contract, not an implementation detail): the snapshot keys files
    * by (path, length, mtime), so an in-place SAME-NAME, SAME-LENGTH
    * replace landing within one mtime tick of the original escapes
    * the re-check and its content is dropped with the old generation.
    * No Spark or Hadoop committer produces that pattern (part files
    * get fresh UUID names; committers rename, never rewrite in
    * place), and closing it would cost a second full byte-level read
    * of the table per compaction — a deployment whose out-of-band
    * writers CAN rewrite files in place must not run this compactor
    * concurrently with them, no-writer slot or not. */
  def compact(spark: SparkSession, dir: String, targetRowsPerFile: Long,
      clusterBy: Seq[String] = Nil, partitionBy: Seq[String] = Nil): Int =
    compactImpl(spark, dir, targetRowsPerFile, clusterBy, partitionBy, () => ())

  /** [[compact]] with an injectable pre-swap hook — the test seam the
    * concurrent-append guard is pinned through (CompactionSpec); the
    * public entry point passes a no-op. */
  private[graft] def compactImpl(spark: SparkSession, dir: String,
      targetRowsPerFile: Long, clusterBy: Seq[String],
      partitionBy: Seq[String], beforeSwap: () => Unit): Int = {
    val base = new Path(dir)
    val fs = StateFs.fs(spark, base)
    val live = StateFs.resolveLive(fs, base)
    require(fs.exists(live), s"compact: no table under $dir")
    // writer-entry GC: a crashed compaction's partial unpublished
    // target, or the superseded grace-window generation
    StateFs.gcStaleGens(fs, base, live.getName)
    val snapshot = fileSnapshot(fs, live)
    val df = spark.read.parquet(live.toString)
    require(partitionBy.forall(df.columns.contains),
      s"partitionBy ${partitionBy.mkString(",")} not all present in table")
    val rows = df.count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
    val arranged =
      if (clusterBy.nonEmpty)
        df.repartitionByRange(nFiles, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else if (partitionBy.nonEmpty)
        df.repartition(nFiles, partitionBy.map(col): _*)
      else df.repartition(nFiles)
    // stage in the UNPUBLISHED next generation (header scaladoc)
    val target = StateFs.nextGen(base, live)
    val writer = arranged.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(target.toString)
    beforeSwap()
    // Optimistic-concurrency re-check (scaladoc): a writer landed in
    // the live dir while we rewrote — swapping now would drop its
    // rows with the old generation. Abort loudly, keeping live (the
    // concurrent write included) and discarding only our rewrite.
    val now = fileSnapshot(fs, live)
    if (now != snapshot) {
      val changed = ((now diff snapshot) ++ (snapshot diff now)).map(_._1)
      StateFs.deleteRec(fs, target)
      sys.error(s"compact: $live changed during the rewrite " +
        s"(concurrent writer; changed files: ${changed.mkString(", ")}) — " +
        "rewrite discarded, live table intact including the concurrent " +
        "write; rerun compaction in a no-writer maintenance slot")
    }
    StateFs.pointerSwap(spark, base, target)
    fileCount(spark, dir)
  }
}
