package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.operators.Bm25Index
import graft.queries.CorpusQueries
import graft.streaming.StreamingBm25

/** Streaming BM25 maintenance: after the stream drains, the served
  * ranking must be bit-identical to the direct full-corpus
  * q_rag_retrieve computation (the additive-statistics contract,
  * exercised through the real foreachBatch + AvailableNow + WAL
  * machinery rather than hand-called appendBatch), a restart with no
  * new files must not grow the state, and a restart AFTER new files
  * arrive must fold exactly the new documents. */
class StreamingBm25Spec extends SparkTestBase {

  private val terms = Seq("spark", "vector", "customer")

  private def docs =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

  private val bucket =
    pmod(pmod(col("doc_id"), lit(100000000L)) * lit(2654435761L), lit(100L))

  private def served(state: String): Seq[String] =
    StreamingBm25.retrieve(spark, state, terms)
      .collect().map(_.toString).toSeq

  /** The ranking computed directly from the documents — the one-shot
    * twin every served state is compared against. */
  private def direct(corpus: org.apache.spark.sql.DataFrame): Seq[String] = {
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

  test("streamed index == direct computation after drain; restarts replay clean") {
    val base = Fixtures.tempDir("sbm25")
    val data = base.resolve("docs").toString
    val state = base.resolve("state").toString
    val ckpt = base.resolve("ckpt").toString
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .parquet(data)
      StreamingBm25.fit(spark, src, state, ckpt).awaitTermination()
    }
    // three doc-disjoint file drops, drained one at a time: each drain
    // must serve the direct computation over exactly the docs so far
    val splits = Seq(docs.filter(bucket < 40),
      docs.filter(bucket >= 40 && bucket < 80),
      docs.filter(bucket >= 80))
    var prefix = splits.head.limit(0)
    for (b <- splits) {
      b.coalesce(1).write.mode("append").parquet(data)
      prefix = prefix.unionByName(b)
      runOnce()
      assert(served(state) === direct(prefix),
        "stream-maintained index diverged from the direct prefix computation")
    }
    // the full-corpus gate: identical to q_rag_retrieve
    assert(served(state) === CorpusQueries.ragRetrieve(spark, sfDir)
      .collect().map(_.toString).toSeq)
    // a restart with no new files must not grow or change the state
    val dirsBefore = Option(new File(state, "postings/g0").list())
      .getOrElse(Array.empty).sorted.toSeq
    val servedBefore = served(state)
    runOnce()
    assert(Option(new File(state, "postings/g0").list())
      .getOrElse(Array.empty).sorted.toSeq === dirsBefore,
      "an empty drain must not grow the state")
    assert(served(state) === servedBefore)
    // compact between drains (the documented single-writer slot), then
    // keep streaming: served results stay bit-identical throughout
    assert(Bm25Index.compact(spark, state))
    assert(served(state) === servedBefore)
  }

  test("pointer mode through the REAL stream machinery: drains fold inside " +
      "the live generation, compaction moves both family PTRs, served " +
      "ranking identical to the direct computation") {
    // The generation layout exercised end-to-end through foreachBatch +
    // AvailableNow + the offsets WAL (Bm25IndexSpec has the deep
    // state-machine walk; this pins that the STREAM layer — whose
    // foreachBatch hands appendBatch the outer session — resolves the
    // layout transparently).
    val base = Fixtures.tempDir("sbm25-ptr")
    val data = base.resolve("docs").toString
    val state = base.resolve("state").toString
    def drain(): Unit = {
      val src = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .parquet(data)
      StreamingBm25.fit(spark, src, state, base.resolve("ckpt").toString)
        .awaitTermination()
    }
    docs.filter(bucket < 60).coalesce(1).write.mode("append").parquet(data)
    drain()
    docs.filter(bucket >= 60).coalesce(1).write.mode("append").parquet(data)
    drain()
    def ptrOf(sub: String): String = java.nio.file.Files.readString(
      new File(new File(state, sub), "PTR").toPath).trim
    assert(ptrOf("postings") === "g0" && ptrOf("dl") === "g0")
    val whole = direct(docs)
    assert(served(state) === whole,
      "the layout must be serving-transparent through the stream")
    // compact in the between-drains slot: both family PTRs advance
    assert(Bm25Index.compact(spark, state))
    assert(ptrOf("postings") === "g1" && ptrOf("dl") === "g1")
    assert(served(state) === whole)
    // and the stream keeps folding into the published generation
    import spark.implicits._
    val extra = Seq((900011L, "spark vector pointer stream doc")).toDF("doc_id", "text")
    extra.coalesce(1).write.mode("append").parquet(data)
    drain()
    assert(served(state) === direct(docs.unionByName(extra)))
    assert(Option(new File(new File(state, "postings"), "g1").list())
      .getOrElse(Array.empty).count(_.startsWith("v")) === 2,
      "the post-compaction drain must land inside the live generation")
  }

  test("PINNED TRAP: a recreated checkpoint against a kept state dir silently drops new files") {
    // the header scaladoc's 'reset both or neither' contract, proven
    // through the real machinery: a fresh checkpoint restarts batch
    // ids at 0 and re-lists EVERY source file into its first batches;
    // the replay frontier (last_batch) no-ops those ids — including
    // the new file swept in with the old ones, which is never folded.
    // If this test ever starts folding the new docs, the scaladoc's
    // operational warning is stale — update both together.
    import spark.implicits._
    val base = Fixtures.tempDir("sbm25-ckptreset")
    val data = base.resolve("docs").toString
    val state = base.resolve("state").toString
    def drain(ckpt: String): Unit = {
      val src = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .parquet(data)
      StreamingBm25.fit(spark, src, state, ckpt).awaitTermination()
    }
    docs.filter(bucket < 80).coalesce(1).write.mode("append").parquet(data)
    drain(base.resolve("ckpt1").toString)
    val n0 = Bm25Index.readState(spark, state).get._4
      .select("n_docs").head().getLong(0)
    // checkpoint "lost", new docs arrive, a FRESH checkpoint drains:
    // batch 0 re-lists old+new files, the frontier no-ops it
    Seq((900001L, "spark vector fresh doc"), (900002L, "customer fresh doc"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(data)
    drain(base.resolve("ckpt2").toString)
    assert(Bm25Index.readState(spark, state).get._4
      .select("n_docs").head().getLong(0) === n0,
      "the re-delivered batch ids were folded — the documented trap no " +
        "longer reproduces; update the StreamingBm25/StreamingIvf scaladocs")
  }
}
