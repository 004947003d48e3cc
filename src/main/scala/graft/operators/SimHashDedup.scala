package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{SimHash, TextFunctions}

/** SimHash near-duplicate detection (SURVEY.md §2.11): one 64-bit
  * signature per document (via the native [[SimHash]] expression),
  * then candidate pairing by 16-bit band equality — by the pigeonhole
  * principle any pair within Hamming distance 3 shares at least one
  * of the 4 bands — and exact Hamming verification with
  * `bit_count(a XOR b)`.
  *
  * Scale shape: signatures are one codegen'd projection (no shuffle);
  * banding explodes ×4; the band equi-join is the only shuffle and
  * joins on a 16-bit key + band index. |candidates| ≪ |D|².
  *
  * The band/verify half comes in two forms over one plan builder:
  * [[pairPlan]] is the lazy banding + verification plan, for a caller
  * that materializes several pair sources in one action of its own
  * (the ensemble query); [[pairsFromSignatures]] is the eager form
  * every other caller uses — it persists the banded frame, runs one
  * local checkpoint and releases the cache before returning.
  */
object SimHashDedup {

  /** doc_id + 64-bit simhash signature of word tokens. */
  def signatures(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    SimHash.register(spark)
    docs.select(col(idCol).as("doc_id"),
      call_function("simhash", TextFunctions.wsTokens(col(textCol))).as("sig"))
  }

  /** Pairs within `maxHamming` (pigeonhole-lossless up to distance 3
    * for 4 bands; above that a recall-bounded approximation, as with
    * any LSH).
    *
    * Candidates come from one groupBy(band bits) + in-group
    * combination explode, carrying both signatures so verification
    * needs no join back. `maxBucket` drops pathological buckets: on a
    * low-diversity corpus (e.g. mass-duplicated docs) every band
    * collides and the pair count goes quadratic — a 100k-doc 20×
    * duplication stress produced 57M pairs without the cap. Mass
    * duplicates belong to exact dedup (hash-groupBy) running FIRST;
    * capped simhash then handles the near-dup tail. */
  def nearDupPairs(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3, maxBucket: Int = 200): DataFrame =
    // NO input spread here (r19, measured): the FNV signature kernel
    // is cheap per doc and the pipeline is shuffle-bound right after
    // banding — adding a parallelism-floor repartition of the docs
    // cost ~+0.8 s on the cold clusters/droplist/simhash bench
    // entries and bought nothing (unlike the md5-heavy MinHash path,
    // where the same spread pays for itself).
    pairsFromSignatures(signatures(spark, docs, idCol, textCol),
      maxHamming, maxBucket)

  /** The band/verify half over ANY precomputed `(doc_id, sig)` frame
    * of 64-bit signatures — shared by the text path above and the
    * image-dHash path ([[graft.multimodal.Multimodal.imageNearDupPairs]]):
    * banding, capping and Hamming verification are signature-agnostic.
    * Eager: the (small) pair set is checkpointed and the banded cache
    * released before this returns — a lazy return leaked one cache
    * entry per call for the session lifetime. */
  def pairsFromSignatures(sigs: DataFrame,
      maxHamming: Int, maxBucket: Int = 200): DataFrame = {
    // persisted: the count pre-filter and the kept-key join both
    // consume `banded`, and the signature stage is a plain projection
    // (no shuffle, so no ReusedExchange) — unpersisted, the whole
    // signature pass would run twice.
    val banded = bands(sigs).persist()
    try verify(banded, maxHamming, maxBucket).localCheckpoint(true)
    finally { banded.unpersist(); () }
  }

  /** The same banding + verification as a LAZY plan that caches
    * nothing; the caller runs the action. The signature projection
    * then runs once per consumer of the banded frame, which is cheap
    * over a persisted two-column corpus frame. */
  def pairPlan(sigs: DataFrame, maxHamming: Int, maxBucket: Int = 200): DataFrame =
    verify(bands(sigs), maxHamming, maxBucket)

  /** Four 16-bit bands per signature. */
  private def bands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("bits"))
      }: _*)).as("bk"))

  private def verify(banded: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    // Cap via a COUNT pre-filter, not a post-collect size filter: the
    // count aggregate combines map-side and the filtered key set is
    // small (AQE broadcasts it), so a pathological bucket is dropped
    // BEFORE collect_list materializes an unbounded array in one
    // aggregation buffer (the post-filter form still OOM'd the
    // executor holding a hot bucket at stress scale).
    val keptKeys = banded.groupBy("bk").agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= maxBucket)
      .select("bk")
    val grouped = banded.join(keptKeys, "bk")
      .groupBy("bk")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ds"))
    grouped.select(explode(
        flatten(transform(col("ds"), (x, i) =>
          transform(slice(col("ds"), i + lit(2), size(col("ds")) - i - 1), y =>
            struct(x.getField("doc_id").as("doc_a"), y.getField("doc_id").as("doc_b"),
              x.getField("sig").as("sig_a"), y.getField("sig").as("sig_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.sig_a").as("sig_a"), col("p.sig_b").as("sig_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
