package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.TextFunctions._
import graft.util.{AppendLog, StateFs}

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
  *  - `postings/` — `(doc_id, chunk_id, token, tf)`, one
  *    [[graft.util.AppendLog]] dir per batch, PARTITIONED BY a 64-way
  *    token-hash bucket `tkb` so a query-term probe is a
  *    partition-pruned read (the 100 TB device: a 3-term query touches
  *    ≤3/64 of the posting mass).
  *  - `dl/` — `(doc_id, chunk_id, start, len, dl)`, a second append
  *    log, PARTITIONED BY a 64-way doc-hash bucket `dhb`: after the
  *    postings filter has named the candidate docs, the dl join reads
  *    only their hash buckets (≤64 values collected from the
  *    already-pruned postings slice) — the `tkb` device applied to the
  *    length table, closing the one unpruned scan the r11 audit
  *    flagged.
  *  - `merged/` — the two frames that must MERGE rather than append:
  *    `df` is vocabulary-sized (token → containing-chunk count) and
  *    `stats` is one row `(n_docs, t_tok, last_batch)`. A
  *    [[graft.util.StateFs]] replace store, as the StreamingKMeans
  *    accumulator: each batch writes both into the next generation
  *    and publishes them with one `PTR` rewrite.
  *
  * Each family dir is an [[graft.util.AppendLog]] base, the one
  * per-batch append, replay, loss-check and compaction protocol of the
  * stored indexes: `PTR`/`g<k>` generations, `applog/` markers,
  * `FRONTIER`, `GENESIS` and, once compacted, `MANIFEST` (its
  * scaladoc). No directory rename is load-bearing — the s3a://-safe
  * shape.
  *
  * Crash/replay contract: `last_batch` in the committed stats row is
  * the replay marker, and the merged commit comes LAST — its sums are
  * not idempotent. A crash after the family appends but before the
  * merged swap leaves `last_batch` behind; the replay finds the family
  * dirs committed, completes their log markers without rewriting them,
  * and commits the merge. Readers serve each family's checked listing
  * restricted to dirs `<= last_batch` plus the compacted generation,
  * so the half-committed batch is invisible until its merge lands. A
  * batch that tokenizes to nothing logs `s<id>` in both families and
  * merges nothing.
  *
  * Loss rules on top of the append log's matrix, checked on read,
  * append and compact ([[checkedFamilies]]): with merged state present,
  * each family must hold its `GENESIS` witness — written by the first
  * append, so its absence is external loss (a wiped family, or a dir,
  * its marker and `GENESIS` removed together) or a store written before
  * the append log, refused with the rebuild remedy — and a served dir.
  * Without merged state, committed dirs mean the merged state was lost,
  * except the one uncompacted dir of the first batch's crash window,
  * which that batch's replay completes.
  *
  * Assumption (documented, asserted nowhere cheaper than ingest):
  * batches are DOC-DISJOINT — the upstream keyed-upsert/dedup ingest
  * guarantees each doc_id arrives once. Re-indexing a changed
  * document is a rebuild-class operation, as in every inverted-index
  * store.
  *
  * At 100 TB: the per-batch append dirs are the compaction unit —
  * [[compact]] rewrites each family into one generation (bucket
  * layout preserved), so N-batch read fan-in is a maintenance knob,
  * not a decay curve; `df` merge cost is vocabulary-scale, not
  * corpus-scale; `dl` probes join on (doc_id, chunk_id) after the
  * postings filter has already shrunk the left side to matching
  * chunks only.
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

  private def postingsLog(stateDir: String) =
    new AppendLog(new Path(stateDir, "postings"), "tkb", "BM25")

  private def dlLog(stateDir: String) =
    new AppendLog(new Path(stateDir, "dl"), "dhb", "BM25")

  /** `(df, stats)` of the current committed generation. */
  def readMerged(spark: SparkSession, stateDir: String): Option[(DataFrame, DataFrame)] =
    StateFs.readFrames(spark, mergedDir(stateDir), Seq("df", "stats"))
      .map { case Seq(dfreq, stats) => (dfreq, stats) }

  private def lastBatch(merged: (DataFrame, DataFrame)): Long =
    merged._2.select("last_batch").head().getLong(0)

  private def compacted(spark: SparkSession, d: Path): Boolean =
    StateFs.fs(spark, d).exists(new Path(d, "_COMPACTED"))

  /** Whether a committed family dir is served at merged frontier
    * `last`: its batch committed, or it is the compacted generation
    * (named at the log's frontier, which may be a later empty batch). */
  private def isServed(spark: SparkSession, last: Option[Long])(d: Path): Boolean =
    d.getName.drop(1).toLong <= last.getOrElse(-1L) || compacted(spark, d)

  /** The one served-set guard (header scaladoc), run by read, append
    * and compact: each family's checked listing, postings then dl,
    * after the BM25 loss rules. With merged state at frontier `last`,
    * each family must hold its GENESIS witness and a served dir. Without
    * it, the only committed dir tolerated is one uncompacted name — for
    * an append, the appending batch's own (`own`). */
  private def checkedFamilies(spark: SparkSession, stateDir: String,
      last: Option[Long], own: Option[Long]): Seq[Seq[Path]] = {
    val fams = Seq("postings" -> postingsLog(stateDir), "dl" -> dlLog(stateDir))
      .map { case (sub, log) => (new Path(stateDir, sub), log.dirs(spark)) }
    if (last.isEmpty) {
      val all = fams.flatMap(_._2)
      val names = all.map(_.getName).distinct
      require(!all.exists(compacted(spark, _)) && names.size <= 1 &&
          own.forall(b => names.forall(_ == f"v$b%020d")),
        s"BM25 state inconsistent: no merged stats generation under " +
          s"$stateDir but committed append dirs [${names.mkString(", ")}] " +
          "exist — the merged state was removed externally; restore it or " +
          "rebuild the index from the source documents")
    }
    for ((base, ds) <- fams; l <- last) {
      val fs = StateFs.fs(spark, base)
      val live = StateFs.resolveLive(fs, base)
      require(fs.exists(AppendLog.genesisFile(live)),
        s"BM25 state inconsistent: merged stats under $stateDir record " +
          s"batches up to $l but the family $base is missing its GENESIS " +
          "witness — the family was removed externally, or it was written " +
          "by a build before the append log; restore it or rebuild the " +
          "index into a fresh directory from the source documents")
      require(ds.exists(isServed(spark, last)),
        s"BM25 state inconsistent: merged stats under $stateDir record " +
          s"batches up to $l but the family $base holds no committed dir " +
          "at or below it — its dirs were removed externally; restore them " +
          "or rebuild the index from the source documents")
    }
    fams.map(_._2)
  }

  /** The full served state `(postings, dl, df, stats)` after every
    * committed batch, or None before the first. */
  def readState(spark: SparkSession, stateDir: String)
      : Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = {
    val cur = readMerged(spark, stateDir)
    val last = cur.map(lastBatch)
    val Seq(p, d) = checkedFamilies(spark, stateDir, last, None)
      .map(_.filter(isServed(spark, last)))
    cur.map { case (dfreq, stats) =>
      (postingsLog(stateDir).union(spark, p), dlLog(stateDir).union(spark, d),
        dfreq, stats)
    }
  }

  /** Fold one document batch `(doc_id, text)` into the index. Only
    * the batch pays tokenization; postings/dl append, df/stats merge.
    * Returns true iff applied (false = replay of a committed batch id
    * or a batch without tokens). */
  def appendBatch(spark: SparkSession, stateDir: String, docs: DataFrame,
      batchId: Long): Boolean = {
    val cur = readMerged(spark, stateDir)
    val last = cur.map(lastBatch)
    checkedFamilies(spark, stateDir, last, Some(batchId))
    if (last.exists(_ >= batchId)) return false // replay
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
    try {
      val postings = tfAll.select("doc_id", "chunk_id", "token", "tf")
        .withColumn("tkb", pmod(xxhash64(col("token")), lit(TkBuckets.toLong)))
      val dl = tfAll.groupBy("doc_id", "chunk_id", "start", "len")
        .agg(sum(col("tf")).as("dl"))
        .withColumn("dhb", pmod(xxhash64(col("doc_id")), lit(DhBuckets)))
      // Shuffle-align to the bucket key before the partitioned write:
      // without it every upstream task writes a file into every bucket
      // dir it touches — up to tasks×64 tiny files per batch (measured:
      // q_rag_incremental's two in-query batches paid seconds of
      // file-open overhead at bench scale). One hash exchange of the
      // thin frame lands each bucket in one task → ≤64 files, the
      // layout the partition-pruned probe wants at any scale.
      def write(frame: DataFrame, bucket: String): (Seq[Path], String) => Unit =
        (_, dir) => frame.repartition(col(bucket)).write.mode("overwrite")
          .partitionBy(bucket).parquet(dir)
      // the persisted tfAll is each log's emptiness probe: a batch that
      // tokenizes to ZERO rows (all whitespace) logs `s<id>` instead of
      // a partitioned dir without part files (ADVICE r11)
      val wrote = Seq(
        postingsLog(stateDir).append(spark, tfAll, batchId)(write(postings, "tkb")),
        dlLog(stateDir).append(spark, tfAll, batchId)(write(dl, "dhb")))
      // neither family wrote: a zero-token batch (nothing to merge) or
      // the replay of a crash after both appends (merge still due)
      if (!wrote.contains(true) && tfAll.isEmpty) return false
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
      StateFs.commitFrames(spark, mergedDir(stateDir), Seq(
        "df" -> nDf.localCheckpoint(true),
        "stats" -> nStats.withColumn("last_batch", lit(batchId)).localCheckpoint(true)))
      true
    } finally { tfAll.unpersist(); () }
  }

  /** Background compaction: fold each family's committed dirs into one
    * generation ([[graft.util.AppendLog]] compaction, `tkb`/`dhb` layout
    * preserved), served content IDENTICAL before and after
    * (spec-pinned). The merged `df`/`stats` store is untouched: it is
    * already one frame. Run it between drains (the single-writer
    * discipline): each family aborts loudly, its live generation intact,
    * if an append lands during its rewrite. A family with a committed
    * dir above the merged frontier holds a half-committed batch, and
    * compaction refuses until its replay completes the merge.
    *
    * dl compacts first, so a dl generation Spark cannot analyze (one
    * without `dhb`) fails before either family is rewritten. A crash
    * between the two family swaps serves the same rows (one family
    * compacted, the other not) and the next compact finishes the
    * postings family. Returns true iff a family was rewritten. */
  def compact(spark: SparkSession, stateDir: String): Boolean =
    compactImpl(spark, stateDir, () => ())

  /** [[compact]] with the injectable pre-swap test seam, run before each
    * family's swap. */
  private[graft] def compactImpl(spark: SparkSession, stateDir: String,
      beforeSwap: () => Unit): Boolean = {
    val last = readMerged(spark, stateDir).map(lastBatch)
    val pending = checkedFamilies(spark, stateDir, last, None).flatten
      .filterNot(isServed(spark, last))
    require(pending.isEmpty,
      s"BM25 compact refused under $stateDir: committed dirs " +
        s"[${pending.mkString(", ")}] lie above the merged frontier — a " +
        "half-committed batch; replay it (re-deliver the batch id) before " +
        "compacting")
    val d = dlLog(stateDir).compactImpl(spark, beforeSwap)
    val p = postingsLog(stateDir).compactImpl(spark, beforeSwap)
    d || p
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
