package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DecimalType, LongType}

/** Streaming (mini-batch) k-means over an embedding stream — the
  * sequential/online counterpart of the batch [[graft.operators.KMeans]]
  * Lloyd rounds, in the same EXACT integer arithmetic.
  *
  * Shape: `foreachBatch`, NOT `mapGroupsWithState`. The centroid set
  * is small GLOBAL state every input row must read; funneled through
  * a state key it would serialize the stream through one task (the
  * same scale-killer [[StreamingTopK]] shards around), and the state
  * API cannot broadcast one group's state to another. The idiomatic
  * Spark shape for "tiny global model, huge stream" is therefore:
  * per micro-batch, READ the persisted k-row centroid table,
  * broadcast it into a distributed E-step over the batch, and
  * WRITE BACK the k-row accumulator state — all heavy work stays a
  * distributed batch job; only k rows round-trip the store.
  *
  * State per centroid: `(c_id, sums[dim], n)` — running per-dimension
  * integer SUMS and count of every vector ever assigned. The served
  * centroid is `sums DIV n` (elementwise floor mean, exactly the
  * batch operator's update rule), so after any prefix of the stream
  * the centroid equals the floor-mean of ALL points assigned so far —
  * deterministic, engine-exact, and restart-safe: each batch writes
  * its whole state into the next [[graft.util.StateFs]] generation and
  * publishes it with one atomic `PTR` rewrite, so a crash at any instant
  * leaves the previous fully-committed generation served, and a
  * mid-write crash can never be mistaken for "no state" (the failure
  * mode of a plain overwrite, which deletes the old directory before
  * the new `_SUCCESS` lands). A lost pointer or live generation is
  * refused loudly, never re-seeded from the next batch. The
  * `last_batch` column makes replays detectable: a re-delivered batch
  * id is skipped, the foreachBatch-idempotence recipe of the ingest
  * stream.
  *
  * Assignment ties and empty clusters follow the batch operator:
  * argmin by `(d2, c_id)`, an empty batch leaves state untouched.
  */
object StreamingKMeans {

  /** The replace-store base of the accumulator: one frame, `state`. */
  private def base(stateDir: String) = new org.apache.hadoop.fs.Path(stateDir)

  /** Load the accumulator state, or None before the first committed
    * batch ([[graft.util.StateFs.readFrames]]: a partially-written
    * generation is invisible, external loss is refused). */
  def readState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    graft.util.StateFs.readFrames(spark, base(stateDir), Seq("state")).map(_.head)

  /** Commit the k-row frame `next` as the state after `batchId`
    * ([[graft.util.StateFs.commitFrames]]); the id rides in the frame's
    * `last_batch` column, not in the layout. */
  def commitState(next: DataFrame, stateDir: String, batchId: Long): Unit =
    graft.util.StateFs.commitFrames(next.sparkSession, base(stateDir),
      Seq("state" -> next))

  /** Serve the current model: `(c_id, centroid)` with the elementwise
    * integer floor-mean centroid (`sums DIV n`, matching
    * [[graft.operators.KMeans]]). `s - pmod(s, n)` is exactly
    * divisible by `n`, and the division runs in DECIMAL(38) — exact
    * for any Long accumulator, unlike a double quotient which drifts
    * once |sums| crosses 2^53 on a long-lived stream. A cluster with
    * `n = 0` (possible only when duplicate seed vectors tie-break
    * every point away from it) is dead — it has accumulated no data
    * and is not served. */
  def centroids(state: DataFrame): DataFrame =
    state.filter(col("n") > 0).select(col("c_id"),
      transform(col("sums"), s =>
        ((s - pmod(s, col("n"))).cast(DecimalType(38, 0)) /
          col("n").cast(DecimalType(19, 0))))
        .cast(ArrayType(LongType)).as("centroid"))

  /** One mini-batch update: assign `batch` (`vec_id`, `qv: array<long>`)
    * to the nearest CURRENT centroid and fold per-cluster sums/counts
    * into the state. Pure batch logic — callable (and tested) outside
    * any stream; the streaming entry below wires it into foreachBatch.
    * Seeds: the first batch's k lowest `vec_id` vectors (their own
    * first assignment target), the batch operator's seeding rule. */
  def updateState(state: Option[DataFrame], batch: DataFrame, k: Int): DataFrame = {
    val seeded = state.map(centroids) getOrElse {
      batch.orderBy("vec_id").limit(k)
        .select(col("vec_id").as("c_id"), col("qv").as("centroid"))
    }
    val cents = seeded.select(col("c_id"), col("centroid"),
      aggregate(col("centroid"), lit(0L), (a, x) => a + x * x).as("c_n2"))
    val assigned = batch
      .withColumn("n2", aggregate(col("qv"), lit(0L), (a, x) => a + x * x))
      .crossJoin(broadcast(cents))
      .withColumn("d2", col("n2") - lit(2L) *
        aggregate(zip_with(col("qv"), col("centroid"), (a, b) => a * b),
          lit(0L), (a, x) => a + x) + col("c_n2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("c_id"), col("qv"))).as("m"))
      .select(col("m.c_id").as("c_id"), col("m.qv").as("qv"))
    val batchAgg = assigned
      .select(col("c_id"), posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("c_id", "i").agg(sum(col("x")).as("sx"))
      .groupBy("c_id")
      .agg(array_sort(collect_list(struct(col("i"), col("sx")))).as("ps"))
      .select(col("c_id"), transform(col("ps"), p => p.getField("sx")).as("bsums"))
      .join(assigned.groupBy("c_id").agg(count(lit(1)).as("bn")), "c_id")
    val prev = state.getOrElse(
      seeded.select(col("c_id"),
        transform(col("centroid"), _ => lit(0L)).cast(ArrayType(LongType)).as("sums"),
        lit(0L).as("n")))
    prev.join(batchAgg, Seq("c_id"), "left")
      .select(col("c_id"),
        when(col("bsums").isNull, col("sums"))
          .otherwise(zip_with(col("sums"), col("bsums"), (a, b) => a + b))
          .as("sums"),
        (col("n") + coalesce(col("bn"), lit(0L))).as("n"))
  }

  /** Wire the updater into a stream: each micro-batch folds into the
    * versioned parquet accumulator under `stateDir` via
    * [[commitState]] (write-next-generation + atomic pointer swap; k
    * rows). Replayed batch ids are skipped via the persisted
    * `last_batch` marker column — the idempotent-foreachBatch recipe. */
  def fit(spark: SparkSession, vecs: Dataset[_], stateDir: String,
      checkpointDir: String, k: Int): StreamingQuery = {
    vecs.writeStream
      .option("checkpointLocation", checkpointDir) // monotonic batch ids across restarts
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[_], batchId: Long) =>
        val df = batch.toDF()
        val st = readState(spark, stateDir)
        val done = st.exists(s => !s.filter(col("last_batch") >= batchId).isEmpty)
        if (!done && !df.isEmpty) {
          val next = updateState(st.map(_.drop("last_batch")), df, k)
            .withColumn("last_batch", lit(batchId))
            .localCheckpoint(true) // sever lineage from the state being replaced
          commitState(next, stateDir, batchId)
        }
        ()
      }
      .start()
  }
}
