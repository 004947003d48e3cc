package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.TextFunctions._
import graft.util.StateFs

/** Incremental BM25 retrieval index — the `incrementalPairs` /
  * [[graft.streaming.StreamingIvf]] analogue for ranked retrieval:
  * the corpus is tokenized and chunked ONCE, the per-chunk statistics
  * BM25 needs (`tf`, `dl`, `df`, corpus `N`/`T`) persist as stored
  * state, and an arriving document batch folds in WITHOUT
  * re-tokenizing anything already indexed. Serving reads the
  * maintained state and reproduces `q_rag_retrieve` EXACTLY — every
  * statistic is an additive integer aggregate over doc-disjoint
  * batches (tf/dl are per-chunk, df/N/T are sums), so batch-fold ≡
  * full rebuild bit-for-bit (spec-pinned, and the `q_rag_incremental`
  * driver query hashes against the full-rebuild oracle).
  *
  * Chunking/tokenization and the fixed-point scoring arithmetic are
  * SHARED with [[graft.queries.CorpusQueries.ragRetrieve]]
  * ([[chunkTokens]] / [[score]]) so index and direct query cannot
  * drift — the Scd2Sink/compress discipline.
  *
  * Storage layout under `stateDir` (plain parquet, no table format):
  *
  *  - `postings/v<batchId>/` — `(doc_id, chunk_id, token, tf)`,
  *    append-only, PARTITIONED BY a 64-way token-hash bucket `tkb` so
  *    a query-term probe is a partition-pruned read (the 100 TB
  *    device: a 3-term query touches ≤3/64 of the posting mass).
  *  - `dl/v<batchId>/` — `(doc_id, chunk_id, start, len, dl)`,
  *    append-only, PARTITIONED BY a 64-way doc-hash bucket `dhb`:
  *    after the postings filter has named the candidate docs, the dl
  *    join reads only their hash buckets (≤64 values collected from
  *    the already-pruned postings slice) — the `tkb` device applied
  *    to the length table, closing the one unpruned scan the r11
  *    audit flagged.
  *  - `merged/v<batchId>/{df,stats}` + `merged/CURRENT` pointer —
  *    the two frames that must MERGE rather than append: `df` is
  *    vocabulary-sized (token → containing-chunk count) and `stats`
  *    is one row `(n_docs, t_tok, last_batch)`; each batch writes a
  *    new version and atomically swaps the pointer (the
  *    StreamingKMeans state discipline).
  *
  * Crash/replay contract: `last_batch` in the committed stats row is
  * the ONLY replay marker, and it commits LAST — a crash after the
  * postings/dl appends but before the merged swap leaves
  * `last_batch` behind, so the replay recomputes the batch,
  * overwrites the same append directories (idempotent — same docs,
  * same bytes), and completes the merge. Readers only see append
  * directories `<= last_batch`, so the half-committed batch is
  * invisible until its merge lands.
  *
  * Assumption (documented, asserted nowhere cheaper than ingest):
  * batches are DOC-DISJOINT — the upstream keyed-upsert/dedup ingest
  * guarantees each doc_id arrives once. Re-indexing a changed
  * document is a rebuild-class operation, as in every inverted-index
  * store.
  *
  * At 100 TB: the per-batch append dirs are the compaction unit —
  * [[compact]] rewrites the visible dirs of each family into one
  * generation (tkb layout preserved), so N-batch read fan-in is a
  * maintenance knob, not a decay curve; `df` merge cost is
  * vocabulary-scale, not corpus-scale; `dl` probes join on
  * (doc_id, chunk_id) after the postings filter has already shrunk the
  * left side to matching chunks only.
  *
  * Object-store shape: the merged `df`/`stats` store is a
  * version-pointer layout (`merged/CURRENT`), and each family dir uses
  * the one [[graft.util.StateFs]] state layout — a container of `g<k>`
  * generation dirs plus a one-line `PTR` file, the append dirs above
  * living inside the live generation. Compaction stages its rewrite in
  * the UNPUBLISHED next generation and publishes with one atomic
  * small-file rewrite; the superseded generation survives as an
  * in-flight-reader grace window until the next compaction entry's GC.
  * NO directory rename anywhere in this index is load-bearing — the
  * s3a://-safe shape. A family dir left in the retired rename-aside
  * layout is refused loudly (StateFs scaladoc).
  */
object Bm25Index {

  private val Cap = 32L
  private val Stride = 24L
  private val TkBuckets = 64
  private val DhBuckets = 64L

  /** Tokenize + 32/24 sliding-window chunk one document frame into
    * `(doc_id, chunk_id, start, len, token)` rows (empty tokens
    * dropped) — the exact front of `q_rag_retrieve`, factored out so
    * the direct query and this index share one definition. */
  def chunkTokens(docs: DataFrame): DataFrame = {
    // n_tok derives from the BOUND toks column (r19): spelling it
    // tokenCount(text) re-ran the tokenizer regex a second time per
    // row (tokenCount re-splits the raw text).
    val t = docs.select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast(LongType).as("n_tok"))
    t.withColumn("n_chunks",
        when(col("n_tok") <= Cap, lit(1L))
          .otherwise(lit(1L) +
            floor((col("n_tok") - Cap + Stride - 1) / Stride).cast(LongType)))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0L), col("n_chunks") - 1)).as(Seq("_p", "chunk_id")),
        col("n_tok"))
      .withColumn("start", col("chunk_id") * Stride)
      .withColumn("len", least(lit(Cap), col("n_tok") - col("start")))
      .select(col("doc_id"), col("chunk_id"), col("start"), col("len"),
        explode(slice(col("toks"), (col("start") + 1).cast(IntegerType),
          col("len").cast(IntegerType))).as("token"))
      .filter(col("token") =!= "")
  }

  /** Fixed-point integer BM25 over chunk-grounded statistics — the
    * exact scoring tail of `q_rag_retrieve` (see
    * [[graft.queries.CorpusQueries.bm25Topk]] for the arithmetic
    * derivation). `tf`: `(doc_id, chunk_id, token, tf)` already
    * filtered to the query terms; `dfreq`: `(token, df)` for those
    * terms; `dl`: `(doc_id, chunk_id, start, len, dl)`; `stats`: one
    * row `(n_docs, t_tok)`. */
  def score(tf: DataFrame, dfreq: DataFrame, dl: DataFrame,
      stats: DataFrame, k: Int = 10): DataFrame =
    tf.join(broadcast(dfreq), "token")
      .join(dl, Seq("doc_id", "chunk_id"))
      .crossJoin(broadcast(stats.select("n_docs", "t_tok")))
      .withColumn("a", expr(
        "(44 * t_tok * tf * 1000000) DIV (20 * t_tok * tf + 6 * t_tok + 18 * n_docs * dl)"))
      .withColumn("term_score", expr("(a * (2 * n_docs - 2 * df + 1)) DIV (2 * df + 1)"))
      .groupBy("doc_id", "chunk_id", "start", "len")
      .agg(count(lit(1)).cast(IntegerType).as("n_terms"),
        sum(col("term_score")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc, col("chunk_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc, col("chunk_id").asc)))
      .select("rnk", "doc_id", "chunk_id", "start", "len", "n_terms", "score")

  // ---- stored state ----

  // All state I/O goes through the Hadoop FileSystem API
  // (graft.util.StateFs) so a stateDir on file:// and hdfs:// behave
  // identically — java.io.File would silently confine the index to
  // the driver's local disk (review r12).
  private def mergedDir(stateDir: String) = new Path(stateDir, "merged")

  private def familyBase(stateDir: String, sub: String) = new Path(stateDir, sub)

  /** The live generation of one append family — the PTR-named
    * generation dir under the family dir
    * ([[graft.util.StateFs.resolveLive]]; `g0`, not created, on a
    * virgin index). */
  private def familyLive(spark: SparkSession, stateDir: String, sub: String): Path = {
    val base = familyBase(stateDir, sub)
    StateFs.resolveLive(StateFs.fs(spark, base), base)
  }

  /** The committed merged version name, or None before the first
    * fully-committed batch. A version is served only if the pointer
    * names it AND both its frames finished writing. */
  private def currentVersion(spark: SparkSession, stateDir: String): Option[String] = {
    val md = mergedDir(stateDir)
    val fs = StateFs.fs(spark, md)
    val cur = new Path(md, "CURRENT")
    if (!fs.exists(cur)) None
    else {
      val v = StateFs.readString(fs, cur)
      val d = new Path(md, v)
      if (StateFs.committed(fs, new Path(d, "df")) &&
          StateFs.committed(fs, new Path(d, "stats")))
        Some(v)
      else None
    }
  }

  /** `(df, stats)` of the current committed generation. */
  def readMerged(spark: SparkSession, stateDir: String): Option[(DataFrame, DataFrame)] =
    currentVersion(spark, stateDir).map { v =>
      val d = new Path(mergedDir(stateDir), v)
      (spark.read.parquet(new Path(d, "df").toString),
        spark.read.parquet(new Path(d, "stats").toString))
    }

  /** The full served state `(postings, dl, df, stats)` after every
    * committed batch, or None before the first. */
  def readState(spark: SparkSession, stateDir: String)
      : Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = {
    val cur = readMerged(spark, stateDir)
    // Merged-state loss detection (review r13, the read-side twin of
    // the appendBatch guard): None with committed append dirs present
    // would read as "no index yet" — total silent amnesia. The one
    // state that is legitimately None-with-dirs is a single
    // uncompacted generation (the first-batch crash window, which the
    // WAL replay completes); several generations, or a compacted one,
    // imply a merged commit once existed, so its absence is external
    // loss and fails loudly. The single-uncompacted-dir residual is
    // indistinguishable from the crash window and stays quiet — the
    // appendBatch guard still catches it on the next fold unless the
    // WAL also committed that batch.
    if (cur.isEmpty) {
      val gens = Seq("postings", "dl").flatMap { sub =>
        val d = familyLive(spark, stateDir, sub)
        val f = StateFs.fs(spark, d)
        StateFs.committedVDirs(f, d).map(p =>
          (p.getName, f.exists(new Path(p, "_COMPACTED"))))
      }
      require(gens.map(_._1).distinct.size <= 1 && !gens.exists(_._2),
        s"BM25 state inconsistent: no merged stats generation under " +
          s"$stateDir but committed append dirs " +
          s"[${gens.map(_._1).distinct.mkString(", ")}] exist — the " +
          "merged state was removed externally; restore it or rebuild " +
          "the index from the raw documents")
    }
    cur.map { case (dfreq, stats) =>
      val st = stats.head()
      // Serve exactly the MANIFEST the committing writer recorded
      // (resolveFamily — crash-interrupted compactions are repaired
      // in place, genuine external loss fails loudly).
      def served(sub: String, manifestCol: String): Seq[String] =
        resolveFamily(spark, stateDir, sub, manifestCol, st, stats.columns)._1
          .map(n => new Path(familyLive(spark, stateDir, sub), n).toString)
      val pDirs = served("postings", "p_dirs")
      val postings = if (pDirs.isEmpty) emptyPostings(spark) else readDirs(spark, pDirs)
      val dlDirs = served("dl", "dl_dirs")
      val dl = if (dlDirs.isEmpty) emptyDl(spark) else readDirs(spark, dlDirs)
      (postings, dl, dfreq, stats)
    }
  }

  /** Resolve one family's served dir NAMES against the committed
    * manifest in the stats row. A manifest entry that is gone —
    * external GC/retention of SOME append dirs — is PARTIAL data
    * loss: the listing-based read would silently serve half the
    * corpus with full-corpus df/N/T (wrong rankings,
    * indistinguishable from "no matches" for the lost docs), so
    * missing entries fail loudly naming what is missing — EXCEPT when
    * every missing name appears in the folded-dirs `_COMPACTED`
    * marker of the committed frontier generation: that is a
    * crash-interrupted [[compact]] (swap done, manifest re-commit
    * lost), the frontier generation holds the union of the folded
    * dirs, and it is served in their place (ADVICE r12 — the
    * swap-then-commit window previously wedged the index with all
    * data present). Returns (names, stale); stale=true means the
    * manifest pre-dates the compacted layout — [[compact]] re-commits
    * it to complete the interrupted run. A stats row without the
    * manifest column was written before manifests existed and is
    * refused: no served base can hold one. */
  private def resolveFamily(spark: SparkSession, stateDir: String,
      sub: String, manifestCol: String, st: org.apache.spark.sql.Row,
      statsCols: Seq[String]): (Seq[String], Boolean) = {
    require(statsCols.contains(manifestCol),
      s"BM25 state refused: the merged stats row under $stateDir carries " +
        s"no $manifestCol manifest — it was written by a pre-manifest " +
        "build, whose layout is no longer served; rebuild the index into " +
        "a fresh directory from the raw documents")
    val sdir = familyLive(spark, stateDir, sub)
    val last = st.getLong(st.fieldIndex("last_batch"))
    val names = st.getSeq[String](st.fieldIndex(manifestCol))
    val fs = StateFs.fs(spark, sdir)
    val missing = names.filterNot(n =>
      StateFs.committed(fs, new Path(sdir, n)))
    if (missing.isEmpty) (names, false)
    else {
      val vname = f"v$last%020d"
      val gen = new Path(sdir, vname)
      val folded =
        if (StateFs.committed(fs, gen))
          StateFs.readFolded(fs, gen).getOrElse(Seq.empty)
        else Seq.empty
      require(missing.forall(folded.contains),
        s"BM25 state inconsistent: merged stats expect $sub dirs " +
          s"[${names.mkString(", ")}] but [${missing.mkString(", ")}] " +
          s"are missing under $stateDir — append dirs were removed " +
          "externally; restore them or rebuild the index from the " +
          "raw documents")
      ((names.filterNot(folded.contains) :+ vname).distinct, true)
    }
  }

  /** Per-dir reads of one family's served dirs, unioned by name. */
  private def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(d => spark.read.option("basePath", d).parquet(d))
      .reduce(_ unionByName _)

  private def emptyPostings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, String, Long, Long)]
      .toDF("doc_id", "chunk_id", "token", "tf", "tkb")
  }

  private def emptyDl(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Long, Long, Long)]
      .toDF("doc_id", "chunk_id", "start", "len", "dl", "dhb")
  }

  /** Fold one document batch `(doc_id, text)` into the index. Only
    * the batch pays tokenization; postings/dl append, df/stats merge.
    * Returns true iff applied (false = replay of a committed batch id
    * or empty batch). */
  def appendBatch(spark: SparkSession, stateDir: String, docs: DataFrame,
      batchId: Long): Boolean = {
    // writer entry: a virgin family publishes PTR=g0 before any write
    for (sub <- Seq("postings", "dl")) StateFs.openLive(spark, familyBase(stateDir, sub))
    val cur = readMerged(spark, stateDir)
    // Loud-loss gate (review r13): the commit below derives the NEW
    // manifest from the on-disk listing — without this check, an
    // append after external loss of a manifest-named dir would bake
    // the hole into a fresh manifest whose full-corpus stats (df,
    // n_docs, t_tok) still include the lost docs: every later read
    // passes the manifest check and silently serves wrong rankings,
    // the exact failure the manifest exists to make loud. Same rule
    // and crash-interrupted-compaction fallback as the read path, so
    // appends still complete an interrupted compaction's manifest.
    val curRow = cur.map { case (_, s) => (s.head(), s.columns.toSeq) }
    curRow.foreach { case (st, cols) =>
      resolveFamily(spark, stateDir, "postings", "p_dirs", st, cols)
      resolveFamily(spark, stateDir, "dl", "dl_dirs", st, cols)
    }
    // The inverse loss case (review r13): merged stats gone while
    // committed append dirs remain. Folding this batch as if the index
    // were fresh would commit batch-only df/n_docs/t_tok under a
    // manifest listing ALL surviving dirs — every read then serves the
    // whole corpus scored against one batch's statistics, silently.
    // The only committed dirs a fresh merged state may coexist with
    // are THIS batch's own (the first-batch crash window: appends land
    // before the stats commit; this very call is its replay) — and
    // even a same-name dir is NOT excused when it carries _COMPACTED
    // (review r13 second pass): a compacted generation implies a
    // merged commit once existed, and it is named at the frontier
    // batch id, exactly the id the WAL can re-deliver — without the
    // marker check, that replay's overwrite would replace the
    // compacted union of ALL batches with this batch alone.
    if (cur.isEmpty) {
      val stray = Seq("postings", "dl").flatMap { sub =>
        val d = familyLive(spark, stateDir, sub)
        val f = StateFs.fs(spark, d)
        StateFs.committedVDirs(f, d).map(p =>
          (p.getName, f.exists(new Path(p, "_COMPACTED"))))
      }.distinct.filter { case (n, compacted) =>
        compacted || n != f"v$batchId%020d" }
      require(stray.isEmpty,
        s"BM25 state inconsistent: no merged stats generation under " +
          s"$stateDir but committed append dirs " +
          s"[${stray.map(_._1).mkString(", ")}] exist — the merged " +
          "state was removed externally; restore it or clear the " +
          "append dirs and rebuild the index from the raw documents")
    }
    val last = curRow.map { case (st, _) =>
      st.getLong(st.fieldIndex("last_batch")) }
    if (last.exists(_ >= batchId)) return false // replay
    if (docs.isEmpty) return false
    val vname = f"v$batchId%020d"
    // r20 (guide §2.3/§2.4): ONE chunk-grain aggregate feeds both
    // families — the pre-r20 shape computed `ctoks` twice (the
    // tokenize+chunk explode re-ran per consumer: postings and dl
    // were two separate unshared groupBys). `start`/`len` are
    // functional in (doc_id, chunk_id), so grouping on all five keys
    // yields the identical postings rows, and dl = Σ tf per chunk is
    // exactly the old per-chunk token count. The doc_id-keyed spread
    // parallelizes the tokenizer over a single-row-group batch scan
    // AND is the clustering both groupBys reuse (doc_id is a prefix
    // of each grouping key) — no corpus-scale exchange before the
    // bucketed writes.
    val ctoks = chunkTokens(graft.Tables.spreadBy(docs, col("doc_id")))
    val tfAll = ctoks
      .groupBy("doc_id", "chunk_id", "start", "len", "token")
      .agg(count(lit(1)).as("tf"))
      .persist()
    // A non-empty doc batch can still tokenize to ZERO rows (all
    // whitespace/empty texts): writing it would leave a partitioned
    // dir with _SUCCESS but no part files, and every later read would
    // fail schema inference on it — treat as an empty batch instead
    // (ADVICE r11). The batch id is NOT consumed: no state changed.
    if (tfAll.isEmpty) { tfAll.unpersist(); return false }
    val postings = tfAll.select("doc_id", "chunk_id", "token", "tf")
      .withColumn("tkb", pmod(xxhash64(col("token")), lit(TkBuckets.toLong)))
    try {
      val dl = tfAll.groupBy("doc_id", "chunk_id", "start", "len")
        .agg(sum(col("tf")).as("dl"))
        .withColumn("dhb", pmod(xxhash64(col("doc_id")), lit(DhBuckets)))
      locally {
        // Shuffle-align to the bucket key before the partitioned
        // write: without it every upstream task writes a file into
        // every bucket dir it touches — up to tasks×64 tiny files per
        // batch (measured: q_rag_incremental's two in-query batches
        // paid seconds of file-open overhead at bench scale). One
        // hash exchange of the thin frame lands each bucket in one
        // task → ≤64 files, the layout the partition-pruned probe
        // wants at any scale.
        postings.repartition(col("tkb"))
          .write.mode("overwrite").partitionBy("tkb")
          .parquet(new Path(familyLive(spark, stateDir, "postings"), vname).toString)
        dl.repartition(col("dhb"))
          .write.mode("overwrite").partitionBy("dhb")
          .parquet(new Path(familyLive(spark, stateDir, "dl"), vname).toString)
        val bDf = postings.groupBy("token").agg(count(lit(1)).as("df"))
        val bStats = dl.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("t_tok"))
        val (nDf, nStats) = cur match {
          case None => (bDf, bStats)
          case Some((pDf, pStats)) =>
            (pDf.unionByName(bDf).groupBy("token")
              .agg(sum(col("df")).as("df")),
              pStats.select("n_docs", "t_tok").unionByName(bStats)
                .agg(sum(col("n_docs")).as("n_docs"),
                  sum(col("t_tok")).as("t_tok")))
        }
        // the manifest of served append dirs per family rides in the
        // stats row: readers serve EXACTLY these names, so partial
        // external loss is detected, not silently half-served
        val pNames = typedLit(appendDirNames(spark, stateDir, "postings", batchId))
        val dlNames = typedLit(appendDirNames(spark, stateDir, "dl", batchId))
        commitMerged(spark, stateDir, vname,
          nDf.localCheckpoint(true),
          nStats.withColumn("last_batch", lit(batchId))
            .withColumn("p_dirs", pNames)
            .withColumn("dl_dirs", dlNames)
            .localCheckpoint(true))
        true
      }
    } finally { tfAll.unpersist(); () }
  }

  /** Committed `v*` dir NAMES of one family at the given frontier —
    * what the commit records as the serving manifest. */
  private def appendDirNames(spark: SparkSession, stateDir: String,
      sub: String, lastBatch: Long): Seq[String] = {
    val frontier = f"v$lastBatch%020d"
    val dir = familyLive(spark, stateDir, sub)
    StateFs.committedVDirs(StateFs.fs(spark, dir), dir)
      .map(_.getName).filter(_ <= frontier)
  }

  /** Write-new-version + atomic pointer swap + GC (the
    * StreamingKMeans commit). The localCheckpoints upstream severed
    * lineage from the generation being collected. */
  private def commitMerged(spark: SparkSession, stateDir: String,
      vname: String, dfreq: DataFrame, stats: DataFrame): Unit = {
    val md = mergedDir(stateDir)
    val d = new Path(md, vname)
    dfreq.coalesce(1).write.mode("overwrite").parquet(new Path(d, "df").toString)
    stats.coalesce(1).write.mode("overwrite").parquet(new Path(d, "stats").toString)
    StateFs.writePointer(spark, md, vname)
    // GC every generation the pointer left behind, committed or
    // partial (a crashed earlier commit's half-written dir included)
    StateFs.gcVersions(StateFs.fs(spark, md), md, vname)
  }

  /** Background compaction — the coalesce the scaladoc above promised:
    * rewrite the served postings/dl append dirs into ONE generation
    * each (named at the committed frontier, so readers' `<= frontier`
    * rule picks it up and later appends sort after it). Served content
    * is IDENTICAL before and after (spec-pinned); the postings rewrite
    * keeps the `tkb` partition layout, and each family swaps
    * independently. The merged `df`/`stats` generation is untouched:
    * it is already one frame. Run this when no writer is active
    * (single-writer discipline, as with every file-layout compactor);
    * concurrent READERS on another session see either generation,
    * never half of one: each family publishes by one PTR rewrite.
    *
    * Crash contract: the compacted generation carries a `_COMPACTED`
    * marker listing the dir names it folded, and the superseded
    * generation survives the manifest re-commit (it is collected only
    * at the next compact entry). A crash anywhere leaves a servable
    * state: before a PTR rewrite → old layout; between a PTR rewrite
    * and the manifest commit → [[resolveFamily]] detects the folded
    * names and serves the compacted generation in their place, and
    * the next [[compact]] completes the interrupted manifest
    * re-commit.
    *
    * NO CONCURRENT WRITERS — enforced, not assumed (VERDICT r14 #1,
    * the [[graft.sink.Compactor]] standard): a batch committed by a
    * concurrent [[appendBatch]] mid-rewrite (new postings/dl v-dirs +
    * a moved `merged/CURRENT` pointer) would be silently destroyed by
    * the family swaps, and the completion re-commit below would
    * clobber the moved pointer (a lost manifest update). The
    * committed family listings plus the raw pointer value are
    * snapshotted at entry and re-checked immediately before the FIRST
    * swap — both rewrites are now staged in full before either family
    * swaps, so one re-check covers the whole rewrite window; any
    * difference aborts loudly with both rewrites discarded and the
    * live index (the concurrent batch included) intact. Residual: the
    * instants between the re-check and the first PTR rewrite, the
    * documented Compactor residual.
    *
    * Returns true iff it changed state — a rewrite, or the
    * manifest-completion of a crash-interrupted earlier run (false =
    * nothing to merge). */
  def compact(spark: SparkSession, stateDir: String): Boolean =
    compactImpl(spark, stateDir, () => ())

  /** Name-level concurrency snapshot: committed postings/dl v-dir
    * names plus the raw `merged/CURRENT` value — everything a
    * concurrent [[appendBatch]] commit changes. */
  private def familySnapshot(spark: SparkSession, stateDir: String): Set[String] = {
    val fams = Seq("postings", "dl").flatMap { sub =>
      val d = familyLive(spark, stateDir, sub)
      StateFs.committedVDirs(StateFs.fs(spark, d), d).map(p => s"$sub/${p.getName}")
    }
    val md = mergedDir(stateDir)
    val cur = new Path(md, "CURRENT")
    val fs = StateFs.fs(spark, md)
    val ptr = if (fs.exists(cur)) Seq("CURRENT=" + StateFs.readString(fs, cur))
      else Seq.empty
    (fams ++ ptr).toSet
  }

  /** [[compact]] with the injectable pre-swap test seam (the
    * Compactor/StreamingIvf device). */
  private[graft] def compactImpl(spark: SparkSession, stateDir: String,
      beforeSwap: () => Unit): Boolean = {
    // writer-entry GC per family: a crashed compaction's partial
    // unpublished target, or the superseded generation kept as the
    // reader grace window ([[graft.util.StateFs.gcStaleGens]])
    for (sub <- Seq("postings", "dl")) {
      val base = familyBase(stateDir, sub)
      val f = StateFs.fs(spark, base)
      StateFs.gcStaleGens(f, base, StateFs.resolveLive(f, base).getName)
    }
    // the concurrency snapshot is taken at ENTRY, before readMerged /
    // resolveFamily (review r15 — taken after them, a batch committing
    // inside those Spark actions was already in the snapshot, so the
    // pre-swap re-check passed and the swaps destroyed it): a batch
    // landing after this instant always differs from the snapshot and
    // aborts loudly.
    val snapshot = familySnapshot(spark, stateDir)
    val cur = readMerged(spark, stateDir)
    if (cur.isEmpty) return false
    val (dfreq0, stats0) = cur.get
    val st = stats0.head()
    val last = st.getLong(st.fieldIndex("last_batch"))
    val vname = f"v$last%020d"
    // compact what is SERVED (resolveFamily: the manifest, with the
    // crash fallback applied)
    val (pNames, pStale) =
      resolveFamily(spark, stateDir, "postings", "p_dirs", st, stats0.columns)
    val (dlNames, dlStale) =
      resolveFamily(spark, stateDir, "dl", "dl_dirs", st, stats0.columns)
    val pLive = familyLive(spark, stateDir, "postings")
    val dlLive = familyLive(spark, stateDir, "dl")
    val pPaths = pNames.map(n => new Path(pLive, n).toString)
    val dlPaths = dlNames.map(n => new Path(dlLive, n).toString)
    val doP = pPaths.size > 1
    val doDl = dlPaths.size > 1
    // nothing to rewrite AND the manifest already names the served
    // layout → true no-op; a stale manifest alone still needs the
    // completion commit below
    if (!doP && !doDl && !pStale && !dlStale) return false
    // per-family staging target: the UNPUBLISHED next generation,
    // installed with one atomic PTR rewrite (StateFs scaladoc)
    val pTarget = StateFs.nextGen(familyBase(stateDir, "postings"), pLive)
    val dlTarget = StateFs.nextGen(familyBase(stateDir, "dl"), dlLive)
    // stage BOTH rewrites before either family swaps, so the single
    // pre-swap re-check below covers the whole rewrite window (header
    // scaladoc — with write-swap interleaved per family, a concurrent
    // batch landing during the dl rewrite would be caught only after
    // the postings swap had already destroyed its postings dir)
    // both plans are analyzed before either writes, so a family Spark
    // cannot analyze (a dl generation without `dhb`) stages nothing;
    // bucket-aligned writes: ≤64 files, not tasks×64
    val pFold = Option.when(doP)(readDirs(spark, pPaths).repartition(col("tkb")))
    val dlFold = Option.when(doDl)(readDirs(spark, dlPaths).repartition(col("dhb")))
    def stage(fold: DataFrame, bucket: String, live: Path, target: Path,
        names: Seq[String]): Unit = {
      fold.write.mode("overwrite").partitionBy(bucket)
        .parquet(new Path(target, vname).toString)
      StateFs.writeFolded(StateFs.fs(spark, live), new Path(target, vname), names)
    }
    pFold.foreach(stage(_, "tkb", pLive, pTarget, pNames))
    dlFold.foreach(stage(_, "dhb", dlLive, dlTarget, dlNames))
    beforeSwap()
    // pre-swap optimistic-concurrency re-check: a concurrent
    // appendBatch committed mid-rewrite — abort loudly, keep the live
    // index (the new batch and its pointer move included), discard
    // only the staged rewrites
    val now = familySnapshot(spark, stateDir)
    if (now != snapshot) {
      val changed = ((now diff snapshot) ++ (snapshot diff now)).toSeq.sorted
      for (target <- Seq(pTarget, dlTarget))
        StateFs.deleteRec(StateFs.fs(spark, target), target)
      sys.error(s"BM25 compact: $stateDir changed during the rewrite " +
        s"(concurrent writer; changed entries: ${changed.mkString(", ")}) " +
        "— rewrites discarded, live index intact including the concurrent " +
        "batch; rerun compaction in the no-writer maintenance slot")
    }
    // install: one atomic PTR rewrite per family; the superseded
    // generation survives the manifest re-commit below as the reader
    // grace window and falls to the next compact entry's GC
    if (doP) StateFs.pointerSwap(spark, familyBase(stateDir, "postings"), pTarget)
    if (doDl) StateFs.pointerSwap(spark, familyBase(stateDir, "dl"), dlTarget)
    // Re-commit the merged generation so the manifest names the
    // compacted layout — without this every manifest-based read after
    // a compaction would take the crash-fallback path. Statistics are
    // unchanged; the "c" suffix keeps the generation name unique
    // (appends always advance the frontier, so a second compaction at
    // this frontier is the no-op above).
    val newP = if (doP) Seq(vname) else pNames
    val newDl = if (doDl) Seq(vname) else dlNames
    commitMerged(spark, stateDir, vname + "c",
      dfreq0.localCheckpoint(true),
      stats0.drop("p_dirs", "dl_dirs")
        .withColumn("p_dirs", typedLit(newP))
        .withColumn("dl_dirs", typedLit(newDl))
        .localCheckpoint(true))
    true
  }

  /** Serve a term query from the maintained index — identical output
    * to running `q_rag_retrieve`'s direct computation over every
    * indexed document, without touching their text. The postings read
    * is partition-pruned to the query terms' token-hash buckets; the
    * dl read is then pruned to the CANDIDATE DOCS' hash buckets —
    * the matching tf slice is materialized once (it feeds both the
    * bucket collection and the scorer), its ≤64 distinct `dhb` values
    * cost one map-side-combined mini-aggregate over the already-
    * pruned slice, and the dl scan skips every other bucket at the
    * partition level. */
  def retrieve(spark: SparkSession, stateDir: String, terms: Seq[String],
      k: Int = 10): DataFrame = {
    val (postings, dl, dfreq, stats) = readState(spark, stateDir).getOrElse(
      sys.error(s"no committed BM25 index under $stateDir"))
    import spark.implicits._
    val buckets = terms.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(TkBuckets.toLong))).as[Long]
      .collect().distinct.toSeq
    val tf = postings
      .filter(col("tkb").isin(buckets: _*))
      .filter(col("token").isin(terms: _*))
      .select("doc_id", "chunk_id", "token", "tf")
      .localCheckpoint(true)
    val docBuckets = tf
      .select(pmod(xxhash64(col("doc_id")), lit(DhBuckets)).as("dhb"))
      .distinct().as[Long].collect().toSeq
    val dlPruned = dl.filter(col("dhb").isin(docBuckets: _*))
      .select("doc_id", "chunk_id", "start", "len", "dl")
    score(tf, dfreq.filter(col("token").isin(terms: _*)), dlPruned, stats, k)
  }
}
