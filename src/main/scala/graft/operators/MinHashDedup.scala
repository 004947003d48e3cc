package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions

/** MinHash + LSH near-duplicate detection (SURVEY.md §2.11):
  * shingle → minhash signature → band buckets → candidate join →
  * exact-Jaccard verification.
  *
  * Deterministic by construction: the k permutations are
  * `(a_i·h + b_i) mod p` over a seeded generator, with token hashes
  * reduced mod p = 2^31−1 so every product stays far inside Int64 —
  * no overflow, no platform dependence. All stages are DataFrame ops:
  * the only shuffles are the band-key group and the candidate join,
  * and the verification joins shingle sets back only for candidate
  * pairs (never all pairs) — at 100 TB the candidate set, not |D|²,
  * bounds the cost.
  *
  * The Spark-side token hash is `xxhash64` (codegen'd, built-in). An
  * md5-based variant ([[tokenHashMd5]]) exists so the same pipeline
  * is expressible in the DuckDB oracle (xxhash64 has no DuckDB twin).
  */
object MinHashDedup {

  val prime: Long = 2147483647L // 2^31 - 1 (Mersenne)

  /** Seeded permutation coefficients, identical across engines. */
  def perms(k: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((1L + math.abs(rnd.nextLong()) % (prime - 1),
      math.abs(rnd.nextLong()) % prime))
  }

  /** Fast path token hash: xxhash64 reduced into [0, p). */
  def tokenHashXx(tok: Column): Column =
    pmod(xxhash64(tok), lit(prime))

  /** Oracle-parity token hash: first 15 hex chars of md5 → int → mod p
    * (DuckDB: `CAST('0x'||substr(md5(t),1,15) AS BIGINT) % p`). */
  def tokenHashMd5(tok: Column): Column =
    pmod(conv(substring(md5(tok), 1, 15), 16, 10).cast(LongType), lit(prime))

  /** k-element minhash signature over a document's shingle array —
    * per-row HOF form. NOTE: Catalyst inlines the shared `hashes`
    * subexpression into every per-permutation `array_min`, so the
    * token hash runs k× per shingle; fine for cheap hashes
    * (xxhash64), pathological for md5 — use [[signaturesAgg]] there. */
  def signature(shingleArr: Column, ps: Seq[(Long, Long)],
      tokenHash: Column => Column): Column = {
    val hashes = transform(shingleArr, tokenHash)
    array(ps.map { case (a, b) =>
      array_min(transform(hashes, h => pmod(h * a + b, lit(prime))))
    }: _*)
  }

  /** Signature via explode + one aggregation pass: each token is
    * hashed exactly once, then k permutation minimums are computed as
    * k cheap integer `MIN` aggregates in a single groupBy — the same
    * shape as the generated oracle SQL. Input: (doc_id, sh array). */
  def signaturesAgg(docSets: DataFrame, ps: Seq[(Long, Long)],
      tokenHash: Column => Column): DataFrame = {
    val h = docSets
      .select(col("doc_id"), explode(col("sh")).as("tok"))
      .select(col("doc_id"), tokenHash(col("tok")).as("h"))
    val mins = ps.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(prime))).as(s"_m$i")
    }
    h.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array(ps.indices.map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** Band keys: signature split into `nBands` rows of `r` ints each;
    * docs sharing any whole band are candidates. */
  def explodeBands(df: DataFrame, sigCol: String, nBands: Int, r: Int): DataFrame =
    df.select(col("*"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          slice(col(sigCol), b * r + 1, r).as("sig_slice"))
      }: _*)).as("band_key"))

  /** Full near-dup pipeline over (idCol, textCol): returns candidate
    * pairs with exact Jaccard over distinct shingles, filtered at
    * `threshold`.
    *
    * Plan shape (see `.explain`): signatures are one projection per
    * doc (no explode — the HOF minimum runs over the doc's shingle
    * array in place); band keys explode ×nBands; candidates come
    * from one groupBy(band_key) + in-group combination explode (no
    * band self-join, no subtree recompute); verification joins the
    * small per-doc shingle-set relation back onto candidates only —
    * AQE turns those into broadcast joins when the doc side fits. */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 24, nBands: Int = 8, shingleN: Int = 3,
      threshold: Double = 0.5,
      tokenHash: Column => Column = tokenHashXx,
      maxBucket: Int = 200): DataFrame = {
    // persisted: this relation feeds the signature path AND both
    // verification joins — without it the shingle subtree (the most
    // expensive stage) executes three times. The cache manager dedups
    // by canonical plan, so repeated query runs reuse one entry;
    // eviction is LRU. `spread` (r19): the shingle build is map-side
    // since the WordShingles rewrite, so the cached frame would
    // otherwise inherit the scan's split count — one task on the
    // single-row-group bench files — and serialize the md5 signature
    // pass that follows.
    // round-robin kept after the r20 audit: the idCol-keyed variant
    // measured flat here (1.70 s → 1.60 s min, equal medians — the
    // pipeline is band/shingle-keyed, not doc-keyed).
    val sh = TextFunctions.shingleSets(graft.Tables.spread(docs),
        idCol, textCol, shingleN)
      .filter(size(col("sh")) > 0)
      .persist()
    // Materialize the (small) verified pair set eagerly: the shingle
    // cache is released right after (a lazy return would leak a
    // session-lifetime cache entry per call), and the checkpointed
    // result severs lineage, so downstream consumers never re-trigger
    // the shingle pipeline.
    try pairsFromShingles(sh, k, nBands, threshold, tokenHash, maxBucket)
      .localCheckpoint(true)
    finally { sh.unpersist(); () }
  }

  /** Pair plan over a PRE-BUILT `(doc_id, sh: array<string>)`
    * distinct-shingle frame — the shared-scan entry point: a caller
    * composing several shingle consumers (the ensemble query) builds
    * and persists ONE shingle frame and threads it here instead of
    * paying a second corpus scan + shingling. The returned plan is
    * LAZY: the caller owns both `sh` (persist it — it feeds the
    * signature path and both verification joins) and the action that
    * materializes the pairs, and may release `sh` only after that
    * action has run. */
  def pairsFromShingles(sh: DataFrame, k: Int, nBands: Int,
      threshold: Double, tokenHash: Column => Column,
      maxBucket: Int): DataFrame = {
    require(k % nBands == 0, "k must divide into bands")
    val r = k / nBands
    val ps = perms(k)
    val sig = signaturesAgg(sh, ps, tokenHash)
    val banded = explodeBands(sig, "sig", nBands, r)
      .select(col("doc_id"), col("band_key"))
    // COUNT pre-filter before collect_list — identical rationale to
    // SimHashDedup: a mass-duplicated corpus floods every band; the
    // cap bounds both pair fan-out AND the aggregation buffer (the
    // buffer materializes BEFORE any post-collect size filter could
    // drop it). Mass duplicates are exact-dedup's job, run FIRST.
    val keptKeys = banded.groupBy("band_key").agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= maxBucket)
      .select("band_key")
    val grouped = banded.join(keptKeys, "band_key")
      .groupBy("band_key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    val cand = grouped.select(explode(
        flatten(transform(col("ds"), (x, i) =>
          transform(slice(col("ds"), i + lit(2), size(col("ds")) - i - 1), y =>
            struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    // exact verification on candidates only
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** INCREMENTAL near-dup scan: a NEW batch's signatures against a
    * PRE-BUILT signature index `(doc_id, sig)` — the production-shape
    * dedup where the corpus is never re-shingled: the index is stored
    * state (a signature table maintained alongside the corpus), only
    * the arriving batch pays shingling + signature cost, and
    * verification is SIGNATURE-level — the matching-component
    * fraction `n_match / k` IS the MinHash estimator of Jaccard
    * similarity, so no shingle-set store is needed at match time
    * (the trade vs [[pairsFromShingles]]' exact verify: an unbiased
    * estimate with sd ≈ sqrt(J(1−J)/k), not an exact Jaccard).
    *
    * Shapes at 100 TB: the index explodes ×nBands ONCE when stored
    * (here, in-query, because driver queries are standalone); the
    * per-band bucket cap bounds any hot band; the join shuffles on
    * `(band, slice)` with the batch side tiny next to the index —
    * AQE broadcasts the batch. Candidates distinct on ids only; both
    * signature arrays join back onto candidates (index-bounded, not
    * corpus-bounded). Never all-pairs. */
  def incrementalPairs(newSigs: DataFrame, indexSigs: DataFrame,
      k: Int, nBands: Int, minMatch: Int, maxBucket: Int): DataFrame = {
    require(k % nBands == 0, "k must divide into bands")
    val r = k / nBands
    val nb = explodeBands(newSigs, "sig", nBands, r)
      .select(col("doc_id").as("new_doc"), col("band_key"))
    val ib = explodeBands(indexSigs, "sig", nBands, r)
      .select(col("doc_id").as("idx_doc"), col("band_key"))
    val keptKeys = ib.groupBy("band_key").agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket)
      .select("band_key")
    val cand = nb.join(ib.join(keptKeys, "band_key"), "band_key")
      .select("new_doc", "idx_doc").distinct()
    cand
      .join(newSigs.select(col("doc_id").as("new_doc"), col("sig").as("sig_n")), "new_doc")
      .join(indexSigs.select(col("doc_id").as("idx_doc"), col("sig").as("sig_i")), "idx_doc")
      .withColumn("n_match",
        aggregate(zip_with(col("sig_n"), col("sig_i"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, m) => acc + m))
      .filter(col("n_match") >= minMatch)
      .withColumn("est_jaccard",
        col("n_match").cast(DoubleType) / lit(k.toDouble))
      .select("new_doc", "idx_doc", "n_match", "est_jaccard")
  }
}
