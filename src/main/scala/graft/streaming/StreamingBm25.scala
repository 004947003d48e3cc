package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Bm25Index

/** Streaming BM25 index maintenance — [[Bm25Index.appendBatch]] wired
  * into a `foreachBatch` stream, completing the incremental-index
  * symmetry with [[StreamingIvf]]: vectors and text retrieval now both
  * have an append-only stored-state path a document stream keeps
  * current.
  *
  * Shape: `foreachBatch` + `Trigger.AvailableNow` + an offsets WAL
  * checkpoint, exactly the [[StreamingIvf.fit]] wiring — the state is
  * GLOBAL (corpus-wide df/N/T plus growing postings), which the keyed
  * -state API cannot express without funneling the stream through one
  * task. Each micro-batch pays tokenization for ITS documents only;
  * postings/dl append, df/stats merge through the atomic pointer swap.
  *
  * Exactly-once composition, state-side: `appendBatch` already treats
  * `last_batch` as the replay frontier (batch ids at or below it
  * no-op), and Structured Streaming re-delivers a failed micro-batch
  * under the SAME batch id from the checkpoint WAL — so a crash
  * anywhere in the append/merge window is replayed idempotently (a
  * family dir the crash left committed is kept and only its
  * [[graft.util.AppendLog]] marker completed, an uncommitted partial
  * is overwritten, and the merge completes; spec-pinned in
  * Bm25IndexSpec and re-proven through the real stream machinery in
  * StreamingBm25Spec's restart test).
  *
  * The checkpoint and the state dir live and die TOGETHER — the
  * replay frontier makes a mismatch in EITHER direction silently
  * wrong, not loudly broken: a recreated checkpoint against a kept
  * state dir restarts batch ids at 0 and re-lists every source file,
  * so the frontier no-ops those re-delivered ids — including any NEW
  * files swept into them, which are then never folded; a kept
  * checkpoint against a deleted state dir re-delivers nothing (the
  * WAL says every batch committed) and serves an empty index forever.
  * Reset both or neither.
  *
  * The stream's batches must be doc-disjoint — the [[Bm25Index]]
  * contract, guaranteed by the upstream keyed-upsert/dedup ingest
  * (re-indexing a changed document is a rebuild-class operation).
  * [[Bm25Index.compact]] runs BETWEEN `AvailableNow` drains (the
  * single-writer discipline); a 24/7 deployment alternates drain and
  * compact exactly as a lakehouse table alternates ingest and
  * OPTIMIZE.
  */
object StreamingBm25 {

  /** Wire the appender into a stream. `docs` must carry
    * `(doc_id, text)`; each micro-batch folds into the index under
    * `stateDir`; re-delivered batch ids no-op. */
  def fit(spark: SparkSession, docs: Dataset[_], stateDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[_], batchId: Long) =>
        Bm25Index.appendBatch(spark, stateDir,
          batch.toDF().select("doc_id", "text"), batchId)
        ()
      }
      .start()

  /** Serve a term query from the stream-maintained index — identical
    * output to the batch [[Bm25Index.retrieve]] (it IS that code). */
  def retrieve(spark: SparkSession, stateDir: String, terms: Seq[String],
      k: Int = 10): DataFrame =
    Bm25Index.retrieve(spark, stateDir, terms, k)
}
