package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Bm25Index
import graft.queries.CorpusQueries

/** Incremental BM25 index: batch-fold must equal full rebuild
  * statistic-for-statistic (the Scd2Sink rebuild==incremental
  * pattern), serving from stored state must reproduce the direct
  * q_rag_retrieve computation row-for-row, replays must no-op, and a
  * half-committed batch must stay invisible until its replay
  * completes the merge. */
class Bm25IndexSpec extends SparkTestBase {

  private def docs: DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

  private val bucket =
    pmod(pmod(col("doc_id"), lit(100000000L)) * lit(2654435761L), lit(100L))

  private def dfMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The live generation dir of one append family (the PTR-named
    * `g<k>` under `state/sub`); compactions move it, so re-resolve per
    * use. */
  private def live(state: String, sub: String): File = {
    val f = new File(state, sub)
    new File(f, java.nio.file.Files.readString(new File(f, "PTR").toPath).trim)
  }

  /** The ranking computed in one shot from the documents — the twin a
    * served index is compared against (the StreamingBm25Spec oracle). */
  private def direct(corpus: DataFrame, terms: Seq[String]): Seq[String] = {
    val ctoks = Bm25Index.chunkTokens(corpus)
    val dl = ctoks.groupBy("doc_id", "chunk_id", "start", "len")
      .agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tok"))
    val tf = ctoks.filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "chunk_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    Bm25Index.score(tf, dfreq, dl, stats, k = 10)
      .collect().map(_.toString).toSeq
  }

  test("two-batch fold == full rebuild for every stored statistic") {
    val state = Fixtures.tempDir("bm25-fold").resolve("state").toString
    assert(Bm25Index.appendBatch(spark, state, docs.filter(bucket < 90), 0L))
    assert(Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 90), 1L))
    val (postings, dl, dfreq, stats) = Bm25Index.readState(spark, state).get
    // rebuild the same statistics in one pass over the full corpus
    val ctoks = Bm25Index.chunkTokens(docs)
    val rDl = ctoks.groupBy("doc_id", "chunk_id", "start", "len")
      .agg(count(lit(1)).as("dl"))
    val rPost = ctoks.groupBy("doc_id", "chunk_id", "token")
      .agg(count(lit(1)).as("tf"))
    assert(dfMap(dfreq) === dfMap(rPost.groupBy("token")
      .agg(count(lit(1)).as("df"))), "df diverged")
    val st = stats.select("n_docs", "t_tok").head()
    val rSt = rDl.agg(count(lit(1)), sum(col("dl"))).head()
    assert((st.getLong(0), st.getLong(1)) === (rSt.getLong(0), rSt.getLong(1)),
      "corpus stats diverged")
    def key3(df: DataFrame): Set[(Long, Long, String, Long)] =
      df.select("doc_id", "chunk_id", "token", "tf").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(key3(postings) === key3(rPost), "postings diverged")
    assert(dl.count() === rDl.count())
  }

  test("retrieve from stored state == direct q_rag_retrieve, row for row") {
    val state = Fixtures.tempDir("bm25-serve").resolve("state").toString
    Bm25Index.appendBatch(spark, state, docs.filter(bucket < 50), 0L)
    Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 50), 1L)
    val served = Bm25Index.retrieve(spark, state,
        Seq("spark", "vector", "customer"), k = 10)
      .collect().map(_.toString).toSeq
    val direct = CorpusQueries.ragRetrieve(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(served === direct,
      "index-served retrieval must be bit-identical to the direct query")
  }

  test("replay no-ops; a half-committed batch is invisible, then healed") {
    val state = Fixtures.tempDir("bm25-replay").resolve("state").toString
    val b1 = docs.filter(bucket < 50)
    val b2 = docs.filter(bucket >= 50)
    assert(Bm25Index.appendBatch(spark, state, b1, 0L))
    val after1 = Bm25Index.readState(spark, state).get._4
      .select("n_docs", "t_tok", "last_batch").head().toSeq
    // replay of a committed batch id: skipped, stats unchanged
    assert(!Bm25Index.appendBatch(spark, state, b1, 0L))
    assert(Bm25Index.readState(spark, state).get._4
      .select("n_docs", "t_tok", "last_batch").head().toSeq === after1)
    // crash window: batch 1's family appends land but the merged swap
    // never happens — emulate with the real writer: apply batch 1, then
    // put back the merged/ saved after batch 0
    val merged = new File(state, "merged")
    val saved = new File(new File(state).getParentFile, "merged-after-0")
    Fixtures.copyRec(merged, saved)
    assert(Bm25Index.appendBatch(spark, state, b2, 1L))
    val fullStats = Bm25Index.readState(spark, state).get._4
      .select("n_docs", "t_tok").head()
    Fixtures.deleteRec(merged)
    Fixtures.copyRec(saved, merged)
    // the orphaned appends are invisible: served state == batch-0-only
    val (p2, _, _, st2) = Bm25Index.readState(spark, state).get
    assert(st2.select("last_batch").head().getLong(0) === 0L)
    assert(p2.select("doc_id").distinct().count() ===
      b1.select("doc_id").distinct().count(),
      "orphaned postings must not be served")
    // a half-committed batch is not folded by a compaction
    val eC = intercept[IllegalArgumentException](Bm25Index.compact(spark, state))
    assert(eC.getMessage.contains("half-committed") &&
      eC.getMessage.contains(f"v${1L}%020d"), eC.getMessage)
    // the WAL re-delivers batch 1 → the replay completes the merge and
    // leaves the committed family dirs as they are
    def files(sub: String): Seq[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val root = new File(live(state, sub), f"v${1L}%020d")
      org.apache.commons.io.FileUtils.listFiles(root, null, true).asScala.toSeq
        .map(f => (f.getPath, f.length, f.lastModified)).sorted
    }
    val dirsBefore = Seq("postings", "dl").map(files)
    assert(Bm25Index.appendBatch(spark, state, b2, 1L))
    assert(Seq("postings", "dl").map(files) === dirsBefore,
      "the replay rewrote a committed family dir")
    val healedStats = Bm25Index.readState(spark, state).get._4
      .select("n_docs", "t_tok").head()
    assert(healedStats.toSeq === fullStats.toSeq, "healed state diverged")
  }

  private def versionDirs(state: String, sub: String): Seq[String] =
    Option(live(state, sub).listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("v"))
      .map(_.getName).sorted

  test("compact: N append dirs become one, served content identical, appends continue") {
    val state = Fixtures.tempDir("bm25-compact").resolve("state").toString
    val terms = Seq("spark", "vector", "customer")
    for (i <- 0 until 3)
      assert(Bm25Index.appendBatch(spark, state,
        docs.filter(bucket >= i * 25 && bucket < (i + 1) * 25), i.toLong))
    val before = Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq
    val (p0, d0, _, _) = Bm25Index.readState(spark, state).get
    val pBefore = p0.collect().map(_.toString).sorted.toSeq
    val dBefore = d0.collect().map(_.toString).sorted.toSeq
    assert(versionDirs(state, "postings").size === 3)
    assert(Bm25Index.compact(spark, state))
    // one generation per family, named at the committed frontier
    assert(versionDirs(state, "postings") === Seq(f"v${2L}%020d"))
    assert(versionDirs(state, "dl") === Seq(f"v${2L}%020d"))
    // served content is identical row-for-row (postings keep tkb)
    val (p1, d1, _, st1) = Bm25Index.readState(spark, state).get
    assert(p1.collect().map(_.toString).sorted.toSeq === pBefore)
    assert(d1.collect().map(_.toString).sorted.toSeq === dBefore)
    assert(st1.select("last_batch").head().getLong(0) === 2L)
    assert(Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq === before)
    // compacting a compacted index is a no-op
    assert(!Bm25Index.compact(spark, state))
    // appends keep folding on top of the compacted generation, and the
    // final served ranking equals the direct full-corpus computation
    assert(Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 75), 3L))
    assert(versionDirs(state, "postings").size === 2)
    val full = CorpusQueries.ragRetrieve(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq === full)
  }

  /** `compactImpl` killed between its two family swaps: the first
    * family is published, the second's rewrite staged but not. Returns
    * false when neither family had anything to fold. */
  private def crashBetweenSwaps(state: String): Boolean = {
    var swaps = 0
    try {
      Bm25Index.compactImpl(spark, state, () => {
        swaps += 1
        if (swaps == 2) throw new IllegalStateException("crash between the family swaps")
      })
      false
    } catch {
      case e: IllegalStateException if e.getMessage == "crash between the family swaps" => true
    }
  }

  /** Both families' served rows, sorted — the crash window must not
    * change them. */
  private def servedRows(state: String): (Seq[String], Seq[String]) = {
    val (p, d, _, _) = Bm25Index.readState(spark, state).get
    (p.collect().map(_.toString).sorted.toSeq, d.collect().map(_.toString).sorted.toSeq)
  }

  /** The family's compaction MANIFEST in its live generation, if any. */
  private def manifest(state: String, sub: String): Option[String] = {
    val f = new File(live(state, sub), "MANIFEST")
    if (f.exists()) Some(java.nio.file.Files.readString(f.toPath).trim) else None
  }

  test("crash between compact's swap and its manifest re-commit: served, then completed") {
    // the store's compaction manifest is the pair of family MANIFESTs,
    // each published by its family's swap: a crash after the dl swap
    // leaves postings uncompacted and without one. Reads serve the
    // same rows; the next compact publishes the missing MANIFEST.
    import spark.implicits._
    val state = Fixtures.tempDir("bm25-cwedge").resolve("state").toString
    val terms = Seq("spark", "vector", "customer")
    for (i <- 0 until 3)
      assert(Bm25Index.appendBatch(spark, state,
        docs.filter(bucket >= i * 25 && bucket < (i + 1) * 25), i.toLong))
    val want = Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq
    val before = servedRows(state)
    assert(crashBetweenSwaps(state))
    // dl compacted first; postings still holds its three append dirs
    val v2 = f"v${2L}%020d"
    assert(versionDirs(state, "dl") === Seq(v2))
    assert(new File(live(state, "dl"), s"$v2/_COMPACTED").exists())
    assert(manifest(state, "dl") === Some(v2))
    assert(versionDirs(state, "postings").size === 3)
    assert(manifest(state, "postings") === None)
    assert(servedRows(state) === before, "the crash window must serve the same rows")
    assert(Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq === want)
    // the next compact finishes the postings family
    assert(Bm25Index.compact(spark, state))
    assert(versionDirs(state, "postings") === Seq(v2))
    assert(manifest(state, "postings") === Some(v2))
    assert(versionDirs(state, "dl") === Seq(v2))
    assert(!Bm25Index.compact(spark, state), "second run is the no-op")
    assert(servedRows(state) === before)
    assert(Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq === want)
    // external loss of the compacted generation stays LOUD everywhere
    Fixtures.deleteRec(new File(live(state, "postings"), v2))
    val extra = Seq((900001L, "spark vector extra doc")).toDF("doc_id", "text")
    for (op <- Seq(
        () => Bm25Index.readState(spark, state),
        () => Bm25Index.appendBatch(spark, state, extra, 3L),
        () => Bm25Index.compact(spark, state))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(v2) &&
        e.getMessage.contains("removed externally"), e.getMessage)
    }
  }

  test("append on a crash-interrupted compaction completes the manifest instead of failing") {
    // the loss checks at appendBatch entry must NOT fire on the crash
    // window (dl compacted, postings not): the append folds normally,
    // and the next compact completes the postings MANIFEST on top of it
    import spark.implicits._
    val state = Fixtures.tempDir("bm25-cappend").resolve("state").toString
    val terms = Seq("spark", "vector", "customer")
    for (i <- 0 until 3)
      assert(Bm25Index.appendBatch(spark, state,
        docs.filter(bucket >= i * 25 && bucket < (i + 1) * 25), i.toLong))
    assert(crashBetweenSwaps(state))
    assert(manifest(state, "postings") === None)
    val nDocs0 = Bm25Index.readState(spark, state).get._4
      .select("n_docs").head().getLong(0)
    val extra = Seq((900001L, "spark vector extra doc"),
      (900002L, "customer extra doc")).toDF("doc_id", "text")
    assert(Bm25Index.appendBatch(spark, state, extra, 3L))
    assert(Bm25Index.readState(spark, state).get._4
      .select("n_docs").head().getLong(0) === nDocs0 + 2)
    val want = Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq
    assert(want.nonEmpty)
    val before = servedRows(state)
    // the next compact finishes: one generation per family, both named
    // by their MANIFEST at the new frontier
    assert(Bm25Index.compact(spark, state))
    val v3 = f"v${3L}%020d"
    for (sub <- Seq("postings", "dl")) {
      assert(versionDirs(state, sub) === Seq(v3))
      assert(manifest(state, sub) === Some(v3))
    }
    assert(!Bm25Index.compact(spark, state), "second run is the no-op")
    assert(servedRows(state) === before)
    assert(Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq === want)
  }

  test("external loss of the merged stats with live append dirs fails loudly, not as a fresh index") {
    import spark.implicits._
    // merged/ gone while ≥2 committed append generations remain: a
    // read returning None ("no index yet") is total silent amnesia,
    // and the next append would commit BATCH-ONLY df/n_docs/t_tok
    // while serving ALL surviving dirs — the whole corpus scored
    // against one batch's statistics (review r13)
    val state = Fixtures.tempDir("bm25-mergedloss").resolve("state").toString
    for (i <- 0 until 2)
      assert(Bm25Index.appendBatch(spark, state,
        docs.filter(bucket >= i * 50 && bucket < (i + 1) * 50), i.toLong))
    Fixtures.deleteRec(new File(state, "merged"))
    val e = intercept[IllegalArgumentException] {
      Bm25Index.readState(spark, state)
    }
    assert(e.getMessage.contains("merged state was removed externally"))
    val e2 = intercept[IllegalArgumentException] {
      Bm25Index.appendBatch(spark, state,
        Seq((900001L, "spark extra")).toDF("doc_id", "text"), 2L)
    }
    assert(e2.getMessage.contains("merged state was removed externally"))
    val eC = intercept[IllegalArgumentException](Bm25Index.compact(spark, state))
    assert(eC.getMessage.contains("merged state was removed externally"))
    // boundary, pinned: a SINGLE uncompacted generation without merged
    // stats is indistinguishable from the legitimate first-batch crash
    // window (appends land before the stats commit) — reads stay
    // quiet (None) and the replay of THAT batch id is allowed through
    val state2 = Fixtures.tempDir("bm25-mergedloss1").resolve("state").toString
    val b0 = docs.filter(bucket < 50)
    assert(Bm25Index.appendBatch(spark, state2, b0, 0L))
    Fixtures.deleteRec(new File(state2, "merged"))
    assert(Bm25Index.readState(spark, state2).isEmpty)
    assert(Bm25Index.appendBatch(spark, state2, b0, 0L)) // replay completes
    assert(Bm25Index.readState(spark, state2).get._4
      .select("last_batch").head().getLong(0) === 0L)
    // ...but a COMPACTED generation is not excused even under its own
    // batch id (review r13 second pass): it is named at the frontier —
    // the one id the WAL can re-deliver — and carries the union of ALL
    // batches; letting the replay through would overwrite that union
    // with the frontier batch alone and commit batch-only stats
    val state3 = Fixtures.tempDir("bm25-mergedloss2").resolve("state").toString
    for (i <- 0 until 2)
      assert(Bm25Index.appendBatch(spark, state3,
        docs.filter(bucket >= i * 50 && bucket < (i + 1) * 50), i.toLong))
    assert(Bm25Index.compact(spark, state3))
    Fixtures.deleteRec(new File(state3, "merged"))
    val e3 = intercept[IllegalArgumentException] {
      Bm25Index.appendBatch(spark, state3,
        docs.filter(bucket >= 50), 1L) // the frontier id, replayed
    }
    assert(e3.getMessage.contains("merged state was removed externally") &&
      e3.getMessage.contains(f"v${1L}%020d"))
    // the read-side twin already catches this state (compacted ⇒ a
    // merged commit once existed)
    val e4 = intercept[IllegalArgumentException] {
      Bm25Index.readState(spark, state3)
    }
    assert(e4.getMessage.contains("merged state was removed externally"))
  }

  test("zero-token batch: rejected before it can brick the partitioned layout") {
    import spark.implicits._
    val state = Fixtures.tempDir("bm25-zero").resolve("state").toString
    val blank = Seq((1L, "   "), (2L, "")).toDF("doc_id", "text")
    // on an empty index: nothing committed at all
    assert(!Bm25Index.appendBatch(spark, state, blank, 0L))
    assert(Bm25Index.readState(spark, state).isEmpty)
    // on a live index: state byte-identical, the batch id NOT consumed
    assert(Bm25Index.appendBatch(spark, state, docs.filter(bucket < 50), 0L))
    val st0 = Bm25Index.readState(spark, state).get._4
      .select("n_docs", "t_tok", "last_batch").head().toSeq
    assert(!Bm25Index.appendBatch(spark, state, blank, 1L))
    assert(Bm25Index.readState(spark, state).get._4
      .select("n_docs", "t_tok", "last_batch").head().toSeq === st0)
    // both families log the delivered-but-empty id, and write no dir
    for (sub <- Seq("postings", "dl")) {
      assert(new File(live(state, sub), f"applog/s${1L}%020d").exists(), sub)
      assert(versionDirs(state, sub) === Seq(f"v${0L}%020d"), sub)
    }
    // ...so the real batch 1 still lands under its id
    assert(Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 50), 1L))
  }

  test("retrieve prunes the dl read to candidate doc-hash buckets at the partition level") {
    val state = Fixtures.tempDir("bm25-dhb").resolve("state").toString
    Bm25Index.appendBatch(spark, state, docs.filter(bucket < 50), 0L)
    Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 50), 1L)
    val res = Bm25Index.retrieve(spark, state, Seq("spark", "vector", "customer"))
    // the dl arm of the executed plan must carry a dhb partition
    // filter — the scan skips non-candidate buckets at the directory
    // level, it does not read-then-discard
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("dhb")),
      s"dl scan is not partition-pruned:\n$plan")
    // and pruning changed nothing: still identical to the direct query
    assert(res.collect().map(_.toString).toSeq ===
      CorpusQueries.ragRetrieve(spark, sfDir).collect().map(_.toString).toSeq)
  }

  test("externally GC'd append dirs fail loudly, not as silently-empty results") {
    val state = Fixtures.tempDir("bm25-gc").resolve("state").toString
    Bm25Index.appendBatch(spark, state, docs.filter(bucket < 50), 0L)
    def nuke(sub: String): Unit = {
      val t = new File(sub)
      Fixtures.deleteRec(if (t.isAbsolute) t else new File(state, sub))
    }
    // PARTIAL loss first: the append log names both batches' dirs;
    // deleting only batch 0's postings dir must fail naming the
    // missing dir — a listing-only check caught only TOTAL loss and
    // would have served half the corpus against full-corpus df/N/T
    // (review r12)
    Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 50), 1L)
    nuke(live(state, "postings") + f"/v${0L}%020d")
    val ePartial = intercept[IllegalArgumentException] {
      Bm25Index.readState(spark, state)
    }
    assert(ePartial.getMessage.contains(f"v${0L}%020d") &&
      ePartial.getMessage.contains("removed externally"))
    // the APPEND path must fail the same way (review r13): an append
    // here would commit stats that still count the lost docs over a
    // corpus that no longer holds them — wrong rankings forever after
    val eAppend = intercept[IllegalArgumentException] {
      Bm25Index.appendBatch(spark, state, docs.filter(bucket < 10), 2L)
    }
    assert(eAppend.getMessage.contains(f"v${0L}%020d") &&
      eAppend.getMessage.contains("removed externally"))
    val eCompact = intercept[IllegalArgumentException](Bm25Index.compact(spark, state))
    assert(eCompact.getMessage.contains(f"v${0L}%020d") &&
      eCompact.getMessage.contains("removed externally"))
    // TOTAL loss: same contract, naming the family
    nuke("postings"); nuke("dl")
    for (op <- Seq(
        () => Bm25Index.readState(spark, state),
        () => Bm25Index.appendBatch(spark, state, docs.filter(bucket < 10), 2L),
        () => Bm25Index.compact(spark, state))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("missing") &&
        e.getMessage.contains("removed externally") &&
        e.getMessage.contains(new File(state, "postings").toString), e.getMessage)
    }
    val e2 = intercept[IllegalArgumentException] {
      Bm25Index.retrieve(spark, state, Seq("spark")).count()
    }
    assert(e2.getMessage.contains("rebuild"))
  }

  test("pre-dhb dl and parent-layout families without GENESIS are refused, every file left in place") {
    // each legacy state fails its entry points and every file stays
    import spark.implicits._
    val base = Fixtures.tempDir("bm25-legacy")
    val state = base.resolve("state").toString
    Bm25Index.appendBatch(spark, state, docs.filter(bucket < 50), 0L)
    Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 50), 1L)
    val terms = Seq("spark", "vector", "customer")
    def rewrite(d: String)(f: DataFrame => DataFrame): Unit = {
      val old = f(spark.read.parquet(d)).localCheckpoint(true)
      Fixtures.deleteRec(new File(d))
      old.write.mode("overwrite").parquet(d)
    }
    def files(root: File): Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      org.apache.commons.io.FileUtils.listFiles(root, null, true).asScala.toSeq
        .map(f => (root.toPath.relativize(f.toPath).toString, f.length)).sorted
    }
    def refused(st: String, ops: Seq[() => Any]): Seq[Throwable] = {
      val before = files(new File(st))
      val es = ops.map(op => intercept[Exception](op()))
      assert(files(new File(st)) === before, "a refusal must leave every file in place")
      es
    }
    def readAndCompact(st: String) = Seq(
      () => Bm25Index.retrieve(spark, st, terms).collect(),
      () => Bm25Index.compact(spark, st))
    // the pre-dhb dl layout: unpartitioned, no dhb column
    val preDhb = base.resolve("pre-dhb").toString
    Fixtures.copyRec(new File(state), new File(preDhb))
    for (v <- Seq(0L, 1L))
      rewrite(new File(live(preDhb, "dl"), f"v$v%020d").getPath)(
        _.select("doc_id", "chunk_id", "start", "len", "dl"))
    for (e <- refused(preDhb, readAndCompact(preDhb)))
      assert(e.getMessage.contains("dhb"), e.getMessage)
    // the parent layout: families without the append log's applog/,
    // FRONTIER and GENESIS, the stats row carrying its dir manifests
    val parent = base.resolve("parent-layout").toString
    Fixtures.copyRec(new File(state), new File(parent))
    for (sub <- Seq("postings", "dl"); f <- live(parent, sub).listFiles()
        if f.getName.matches("\\.?(applog|FRONTIER|GENESIS)(\\.crc)?"))
      Fixtures.deleteRec(f)
    val names = Seq(0L, 1L).map(v => f"v$v%020d")
    rewrite(new File(live(parent, "merged"), "stats").getPath)(
      _.withColumn("p_dirs", typedLit(names)).withColumn("dl_dirs", typedLit(names)))
    val appendOp = () => Bm25Index.appendBatch(spark, parent,
      Seq((900001L, "spark extra")).toDF("doc_id", "text"), 2L)
    for (e <- refused(parent, readAndCompact(parent) :+ appendOp))
      assert(e.getMessage.contains("GENESIS") && e.getMessage.contains("rebuild"),
        e.getMessage)
  }

  test("a dir, its log marker and GENESIS removed together fail loudly on " +
      "read, append and compact") {
    // the one co-loss the append log's own matrix cannot see: with
    // GENESIS gone its dense-chain check is off, and the surviving
    // markers all name surviving dirs
    val state = Fixtures.tempDir("bm25-genesis").resolve("state").toString
    for (i <- 0 until 3)
      assert(Bm25Index.appendBatch(spark, state,
        docs.filter(bucket >= i * 25 && bucket < (i + 1) * 25), i.toLong))
    val g = live(state, "postings")
    val v0 = f"v${0L}%020d"
    for (f <- Seq(v0, s"applog/$v0", s"applog/.$v0.crc", "GENESIS", ".GENESIS.crc"))
      Fixtures.deleteRec(new File(g, f))
    for (op <- Seq(
        () => Bm25Index.readState(spark, state),
        () => Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 75), 3L),
        () => Bm25Index.compact(spark, state))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("GENESIS") &&
        e.getMessage.contains(new File(state, "postings").toString) &&
        e.getMessage.contains("removed externally"), e.getMessage)
    }
  }

  test("pointer mode: family compaction publishes via one PTR rewrite per " +
      "family; retrieval identical to the direct computation; the " +
      "concurrency guard discards only the staged generation") {
    // The object-store-safe generation layout of the BM25 family
    // stores — NO directory rename anywhere in this index is
    // load-bearing. Every step is checked against the ranking computed
    // directly from the applied documents.
    import spark.implicits._
    val baseDir = Fixtures.tempDir("bm25-ptr")
    val state = baseDir.resolve("state").toString
    val terms = Seq("spark", "vector", "customer")
    for (i <- 0 until 3)
      assert(Bm25Index.appendBatch(spark, state,
        docs.filter(bucket >= i * 25 && bucket < (i + 1) * 25), i.toLong))
    def ptrOf(sub: String): String = java.nio.file.Files.readString(
      new File(new File(state, sub), "PTR").toPath).trim
    def genDirs(sub: String, g: String): Seq[String] =
      Option(new File(new File(state, sub), g).list()).getOrElse(Array.empty)
        .filter(_.startsWith("v")).sorted.toSeq
    def serve(st: String): Seq[String] =
      Bm25Index.retrieve(spark, st, terms).collect().map(_.toString).toSeq
    // appends land inside the g0 generation of both families
    assert(ptrOf("postings") === "g0" && ptrOf("dl") === "g0")
    assert(genDirs("postings", "g0") === (0L to 2L).map(i => f"v$i%020d"))
    val want = direct(docs.filter(bucket < 75), terms)
    assert(serve(state) === want, "the layout must be serving-transparent")
    // a stale partial target from a crashed compaction is invisible
    // (readers follow PTR) and falls to the next compact entry's GC
    assert(new File(new File(new File(state, "postings"), "g1"), "junk").mkdirs())
    assert(serve(state) === want)
    // compaction publishes each family with ONE atomic PTR rewrite;
    // the superseded g0 is KEPT (in-flight-reader grace window) and
    // falls to the next writer-entry GC
    assert(Bm25Index.compact(spark, state))
    assert(ptrOf("postings") === "g1" && ptrOf("dl") === "g1")
    assert(new File(new File(state, "postings"), "g0").exists(),
      "the superseded generation must survive the swap (reader grace window)")
    assert(genDirs("postings", "g1") === Seq(f"v${2L}%020d"))
    assert(genDirs("dl", "g1") === Seq(f"v${2L}%020d"))
    assert(serve(state) === want)
    for (sub <- Seq("postings", "dl"))
      assert(java.nio.file.Files.readString(new File(new File(state, sub),
        "g1/MANIFEST").toPath).trim === f"v${2L}%020d",
        "the family MANIFEST must name the compacted generation")
    // appends continue into the published generation; replays no-op
    assert(Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 75), 3L))
    assert(!Bm25Index.appendBatch(spark, state, docs.filter(bucket >= 75), 3L))
    assert(genDirs("postings", "g1") === (2L to 3L).map(i => f"v$i%020d"))
    val full = direct(docs, terms)
    assert(serve(state) === full)
    // a second compaction publishes g2; a third finds one dir per
    // family and is the no-op
    assert(Bm25Index.compact(spark, state))
    assert(ptrOf("postings") === "g2" && ptrOf("dl") === "g2")
    assert(!Bm25Index.compact(spark, state), "then the no-op")
    assert(serve(state) === full)
    // the concurrency guard: the abort discards ONLY the staged target
    // generation (dl compacts first, so postings never stages); neither
    // family PTR moves; the concurrent batch — its v-dirs AND its
    // merged-pointer move — survives intact
    assert(Bm25Index.appendBatch(spark, state,
      Seq((900001L, "spark vector pointer doc")).toDF("doc_id", "text"), 4L))
    val e = intercept[RuntimeException] {
      Bm25Index.compactImpl(spark, state, () =>
        assert(Bm25Index.appendBatch(spark, state,
          Seq((900002L, "customer concurrent doc")).toDF("doc_id", "text"), 5L)))
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    assert(ptrOf("postings") === "g2" && ptrOf("dl") === "g2")
    assert(!new File(new File(state, "postings"), "g3").exists() &&
      !new File(new File(state, "dl"), "g3").exists(),
      "the aborted target generation must be discarded")
    val st2 = Bm25Index.readState(spark, state).get._4.head()
    assert(st2.getLong(st2.fieldIndex("last_batch")) === 5L,
      "the concurrent batch's merged commit must survive the abort")
    // the next clean compaction folds everything and advances to g3,
    // leaving g2 as the new grace window and GC'ing everything older
    assert(Bm25Index.compact(spark, state))
    assert(ptrOf("postings") === "g3" && ptrOf("dl") === "g3")
    assert(genDirs("postings", "g3") === Seq(f"v${5L}%020d"))
    assert(new File(new File(state, "postings"), "g2").exists(),
      "the superseded generation must survive the swap (reader grace window)")
    assert(!new File(new File(state, "postings"), "g1").exists() &&
      !new File(new File(state, "postings"), "g0").exists(),
      "older generations must have fallen to the writer-entry GC")
    // still serving the union of every applied batch
    assert(Bm25Index.retrieve(spark, state, terms).count() > 0)
  }

  test("compact: a concurrent batch between listing and swap aborts loudly; " +
      "the batch's dirs, applog... pointer move survive; the next clean " +
      "compact folds it") {
    // VERDICT r14 #1 (the Compactor guard ported to the BM25 store):
    // a concurrent appendBatch commits postings/dl v-dirs AND moves
    // the merged store's PTR — a family swap would destroy its
    // dirs while the merged stats still count them. Injected through
    // the pre-swap seam.
    val state = Fixtures.tempDir("bm25-ccg").resolve("state").toString
    val terms = Seq("spark", "vector", "customer")
    for (i <- 0 until 2)
      assert(Bm25Index.appendBatch(spark, state,
        docs.filter(bucket >= i * 25 && bucket < (i + 1) * 25), i.toLong))
    val e = intercept[RuntimeException] {
      Bm25Index.compactImpl(spark, state, () => {
        assert(Bm25Index.appendBatch(spark, state,
          docs.filter(bucket >= 50 && bucket < 75), 2L))
      })
    }
    assert(e.getMessage.contains("concurrent writer") &&
      e.getMessage.contains(f"v${2L}%020d"), e.getMessage)
    // live intact: three generations per family, the concurrent
    // batch's pointer move preserved, no staged rewrite left behind
    assert(versionDirs(state, "postings") === (0L to 2L).map(i => f"v$i%020d"))
    assert(versionDirs(state, "dl") === (0L to 2L).map(i => f"v$i%020d"))
    assert(!new File(state, "postings/g1").exists() &&
      !new File(state, "dl/g1").exists(),
      "the aborted rewrites must be discarded")
    val (_, _, _, st) = Bm25Index.readState(spark, state).get
    assert(st.select("last_batch").head().getLong(0) === 2L,
      "the concurrent batch's merged commit must survive the abort")
    // nothing lost: served ranking covers all three batches
    val before = Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq
    // the next clean compaction folds all three
    assert(Bm25Index.compact(spark, state))
    assert(versionDirs(state, "postings") === Seq(f"v${2L}%020d"))
    assert(Bm25Index.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq === before)
  }

  test("randomized append/compact/crash/loss walk in POINTER mode: same walk, " +
      "same seed — crash states are the pointer-mode ones (stale unpublished " +
      "family targets, kept-predecessor grace windows, entry GC)") {
    bm25FuzzWalk()
  }

  /** The composition fuzz the vector indexes already have
    * (StreamingIvfSpec/StreamingIvfPqSpec), applied to the BM25 state
    * machine — harder here because TWO append families plus the
    * merged df/stats store must stay mutually consistent through
    * every interleaving. The directed cases above pin each crash
    * window once; 30 seeded steps interleave appends, crashed
    * appends (partial family v-dirs), frontier replays, compactions
    * (a third of them over a planted stale target), a compaction
    * crashed between its two family swaps, and move-aside
    * external loss of random committed family generations — asserting
    * after EVERY step that the served ranking is row-identical to a
    * one-shot ranking of the applied union, and that an unrestored
    * loss is loud on read, append, and compact, naming the missing
    * dir. */
  private def bm25FuzzWalk(): Unit = {
    val base = Fixtures.tempDir("bm25-fuzz-ptr")
    val state = base.resolve("state").toString
    val terms = Seq("spark", "vector", "customer")
    // the walk's file-level drills target each family's LIVE
    // generation (re-resolved each use: compactions move it)
    def fam(sub: String): File = live(state, sub)
    // width-2 bucket slices: 50 disjoint 10-doc batches (sf0.001 has
    // exactly 5 docs in every bucket), more than the walk's
    // worst-case append count, so the union stays duplicate-free by
    // construction; batch id == slice id keeps the WAL frontier
    // monotone
    def batchOf(id: Long) =
      docs.filter(bucket >= id * 2 && bucket < (id + 1) * 2)
    // the applied batch ids; the one-shot twin ranking is recomputed
    // only when an append changes them
    var applied = Vector.empty[Long]
    var twin: (Vector[Long], Seq[String]) = (Vector.empty, Seq.empty)
    def checkServed(): Unit = {
      if (twin._1 != applied)
        twin = (applied, direct(docs.filter(floor(bucket / 2).isin(applied: _*)), terms))
      val got = Bm25Index.retrieve(spark, state, terms)
        .collect().map(_.toString).toSeq
      assert(got === twin._2, "served ranking diverges from the one-shot twin")
    }
    def appendBoth(id: Long): Unit = {
      assert(Bm25Index.appendBatch(spark, state, batchOf(id), id))
      applied :+= id
    }
    appendBoth(0L)
    var nextId = 1L
    val rnd = new scala.util.Random(20260816)
    // coverage self-check: a later seed/step change must not silently
    // hollow the walk into one that never fires a drill
    val fired = scala.collection.mutable.Set.empty[Int]
    for (step <- 1 to 30) {
      val c = rnd.nextInt(6)
      fired += c
      c match {
        case 0 => // plain append
          appendBoth(nextId); nextId += 1
        case 1 => // crashed append: a partial v-dir in ONE family (no
                  // merged commit) is invisible, then the WAL replay
                  // of the same id completes it
          val sub = if (rnd.nextBoolean()) "postings" else "dl"
          val d = new File(fam(sub), f"v$nextId%020d")
          d.mkdirs()
          assert(new File(d, "part-junk").createNewFile())
          checkServed() // the partial is invisible
          appendBoth(nextId); nextId += 1
        case 2 => // replay of the frontier id: no-op (the only id the
                  // WAL can re-deliver)
          assert(!Bm25Index.appendBatch(spark, state,
            batchOf(nextId - 1), nextId - 1))
        case 3 => // compaction. A third of the time, first plant a
                  // crashed earlier compaction's partial unpublished
                  // target in one family — invisible to reads,
                  // clobbered by the entry GC
          if (rnd.nextInt(3) == 0) {
            val sub = if (rnd.nextBoolean()) "postings" else "dl"
            val next = new File(new File(state, sub),
              "g" + (fam(sub).getName.drop(1).toLong + 1))
            assert(new File(next, "junk-partial").mkdirs())
            checkServed() // the stale target is invisible
          }
          Bm25Index.compact(spark, state)
        case 4 => // external loss of a RANDOM committed generation in
                  // a RANDOM family: loud everywhere (read, append,
                  // compact) naming it; restore recovers
          val sub = if (rnd.nextBoolean()) "postings" else "dl"
          val gens = Option(fam(sub).listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.startsWith("v"))
          val victim = gens(rnd.nextInt(gens.length))
          val aside = new File(base.toFile, s"aside-$step")
          assert(victim.renameTo(aside))
          for (op <- Seq(
              () => Bm25Index.readState(spark, state),
              () => Bm25Index.appendBatch(spark, state, batchOf(nextId), nextId),
              () => Bm25Index.compact(spark, state))) {
            val e = intercept[IllegalArgumentException] { op() }
            assert(e.getMessage.contains(victim.getName) &&
              e.getMessage.contains("removed externally"),
              s"step $step: loss of $sub/${victim.getName} not loud: ${e.getMessage}")
          }
          assert(aside.renameTo(victim))
        case 5 => // a compaction crashed between its two family
                  // swaps: one family compacted, the other not, reads
                  // unchanged, and the next compact finishes it
          if (crashBetweenSwaps(state)) {
            checkServed()
            assert(Bm25Index.compact(spark, state), "the next compact finishes")
          }
      }
      checkServed()
    }
    assert(fired === Set(0, 1, 2, 3, 4, 5),
      s"the seed must exercise every walk case, got $fired — rotate it")
    // tail composition: one clean compact + append on whatever the
    // walk left, then the grace-window/GC contract on the final state
    if (Bm25Index.compact(spark, state)) checkServed()
    appendBoth(nextId)
    checkServed()
    val liveGen = fam("postings").getName
    assert(Bm25Index.compact(spark, state))
    assert(new File(new File(state, "postings"), liveGen).exists(),
      s"$liveGen must survive the swap as the reader grace window")
    assert(fam("postings").getName != liveGen,
      "the swap must publish a new generation")
    checkServed()
  }
}
