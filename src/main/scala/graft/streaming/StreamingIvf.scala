package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity
import graft.util.{AppendLog, StateFs}

/** Streaming IVF index maintenance — [[Similarity.ivfAppend]] wired
  * into a `foreachBatch` stream: arriving vector batches append to a
  * FROZEN coarse quantizer; replays no-op; the served index after any
  * prefix is bit-identical to assigning that prefix's corpus against
  * the same centroids in one batch (the `ivfAppend` contract,
  * spec-pinned end-to-end here).
  *
  * Shape: `foreachBatch`, like [[StreamingKMeans]] — the centroid
  * frame is tiny global state every batch row must read (broadcast
  * argmax). Unlike the k-means accumulator, the inverted lists GROW
  * with the stream, so they are append-only state:
  *
  *  - `centroids/` — written ONCE by the first non-empty batch
  *    (deterministic seed: the nCentroids smallest vec_ids, the
  *    [[Similarity.ivfIndex]] rule), then frozen. Appends can never
  *    move it; distribution drift away from a frozen quantizer is the
  *    documented rebuild trigger.
  *  - `lists/` — the assigned rows, one [[graft.util.AppendLog]] dir
  *    per batch (per-batch cost follows the batch, never the index),
  *    with that module's replay, loss checks and compaction. The
  *    compacted generation is written `partitionBy(cluster)`, the
  *    layout [[Similarity.ivfIndex]] documents, so [[probe]]'s cluster
  *    filter skips every other list at the directory level (a row
  *    predicate on fresh append dirs).
  *
  * Lists are only ever written after the centroids commit, so
  * committed lists without centroids are certain external loss: reads
  * and appends refuse it instead of reading "no index yet" or
  * re-seeding geometry the stored lists were not built with.
  */
object StreamingIvf {

  private def lists(stateDir: String) =
    new AppendLog(new Path(stateDir, "lists"), "cluster", "IVF")

  private def centroidsDir(stateDir: String) = new Path(stateDir, "centroids")

  /** Refuse committed list dirs next to missing centroids (header). */
  private def requireNoLists(dirs: Seq[Path]): Unit =
    require(dirs.isEmpty,
      s"IVF state inconsistent: committed list dirs " +
        s"[${dirs.map(_.getName).mkString(", ")}] exist under " +
        s"${dirs.head.getParent} but the frozen centroids are missing " +
        "— the centroids were removed externally; restore them or " +
        "rebuild the index from the raw vectors")

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
    // the checked listing: total loss (centroids and every list gone,
    // a MANIFEST surviving) is loud too
    if (cents0.isEmpty) requireNoLists(lists(stateDir).dirs(spark))
    cents0.map { cents =>
      val assigned = lists(stateDir).read(spark).getOrElse(
        // centroids committed but no lists yet (crash window between
        // the two first-batch writes): an empty, correctly-typed list
        // frame — the replay will fill it.
        cents.limit(0).select(col("cent_id").as("cluster"),
          col("cent_id").as("c_id"), col("cent_vec").as("c_vec")))
      (cents, assigned)
    }
  }

  /** Fold one batch into the index — pure batch logic, callable (and
    * tested) outside any stream. First non-empty batch also seeds and
    * freezes the quantizer. Returns true iff the batch was applied
    * (false = replay skip or empty batch). */
  def appendBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
      nCentroids: Int, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Boolean =
    lists(stateDir).append(spark, batch, batchId) { (existing, dir) =>
      val cents = readCentroids(spark, stateDir).getOrElse {
        // seeding is only legitimate on a virgin index (header)
        requireNoLists(existing)
        // Deterministic seed from THIS batch (smallest ids), then freeze.
        // A crash after this write replays the same batch → the same
        // centroids are simply read back, not re-derived — idempotent.
        val (c, _) = Similarity.ivfIndex(batch, nCentroids, idCol, vecCol)
        c.coalesce(1).write.mode("overwrite").parquet(centroidsDir(stateDir).toString)
        spark.read.parquet(centroidsDir(stateDir).toString)
      }
      Similarity.ivfAssign(cents, batch, idCol, vecCol)
        .write.mode("overwrite").parquet(dir)
    }

  /** Fold every committed list dir into one `partitionBy(cluster)`
    * generation, between drains ([[graft.util.AppendLog]]). Returns
    * true iff a rewrite happened. */
  def compact(spark: SparkSession, stateDir: String): Boolean =
    lists(stateDir).compact(spark)

  /** [[compact]] with the injectable pre-swap test seam. */
  private[graft] def compactImpl(spark: SparkSession, stateDir: String,
      beforeSwap: () => Unit): Boolean =
    lists(stateDir).compactImpl(spark, beforeSwap)

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
