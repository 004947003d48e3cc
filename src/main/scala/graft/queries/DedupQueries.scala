package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.Tables
import graft.operators.{MinHashDedup, SimHashDedup}

/** Sketch-based near-dup operators as driver-visible queries.
  *
  * All fully oracle-checked. `q_dedup_minhash`: the Spark pipeline
  * and the generated DuckDB SQL share the same permutation constants
  * and the same md5-derived token hash, so signatures, band
  * collisions, candidates and Jaccard scores are identical
  * integers/doubles in both engines. `q_dedup_simhash` (and the
  * clustering built on it) uses the native [[graft.functions.SimHash]]
  * codegen expression; since r6 the DuckDB twin reproduces FNV-1a
  * bit-exactly in HUGEINT mod-2^64 arithmetic.
  */
object DedupQueries {

  private val K = 24
  private val Bands = 8
  private val R = K / Bands
  private val Threshold = 0.2
  private val MaxBucket = 200
  private val ps = MinHashDedup.perms(K)

  def minhashQ(s: SparkSession, dir: String): DataFrame =
    MinHashDedup.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        k = K, nBands = Bands, shingleN = 3, threshold = Threshold,
        tokenHash = MinHashDedup.tokenHashMd5, maxBucket = MaxBucket)
      .orderBy("doc_a", "doc_b")

  /** DuckDB oracle generated from the same constants. */
  def minhashSql: String = {
    val p = MinHashDedup.prime
    val minExprs = ps.map { case (a, b) => s"MIN((h*$a+$b)%$p)" }.mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val lo = b * R + 1
      val hi = b * R + R
      s"SELECT doc_id, $b AS band, sig[$lo:$hi] AS sl FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
       |  FROM toks WHERE len(t) >= 3),
       |hs AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % $p AS h
       |  FROM sh),
       |sig AS (SELECT doc_id, [$minExprs] AS sig FROM hs GROUP BY doc_id),
       |banded AS ($bandSelects),
       |kept AS (
       |  SELECT * FROM banded
       |  QUALIFY COUNT(*) OVER (PARTITION BY band, sl) <= $MaxBucket),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.sl = b.sl AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list(DISTINCT sh) AS sl FROM sh GROUP BY doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(sa.sl, sb.sl)) AS INTEGER) AS n_common,
       |  CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE)
       |    / CAST(len(sa.sl) + len(sb.sl) - len(list_intersect(sa.sl, sb.sl)) AS DOUBLE) AS jaccard
       |FROM cand
       |JOIN sets sa ON sa.doc_id = doc_a
       |JOIN sets sb ON sb.doc_id = doc_b
       |WHERE CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE)
       |    / CAST(len(sa.sl) + len(sb.sl) - len(list_intersect(sa.sl, sb.sl)) AS DOUBLE) >= $Threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** SimHash near-dup pairs. Hamming ≤ 12 on random same-vocabulary
    * docs keeps the result non-trivial; planted-near-dup exactness is
    * additionally covered in SimHashSpec. Oracle-checked since r6:
    * the DuckDB twin re-implements the ENTIRE pipeline — FNV-1a over
    * each token's UTF-8 bytes (bytes recovered from `hex(encode())`
    * pairs, 64-bit wraparound via HUGEINT `% 2^64`), per-bit ±1
    * voting, 4×16-bit banding with the >1 ∧ ≤200 bucket cap, and
    * `bit_count(xor)` verification — and matches Spark's native
    * codegen'd [[graft.functions.SimHash]] bit-for-bit (verified:
    * identical 1552/1623 pair sets at sf0.001/sf0.01). */
  def simhashQ(s: SparkSession, dir: String): DataFrame =
    simhashPairs(s, dir).orderBy("doc_a", "doc_b")

  /** HUGEINT-domain constants: 2^64 (FNV wraparound), 2^63 and the
    * signed conversion used to mirror Spark's two's-complement longs
    * before the final xor/bit_count. */
  private val toSigned = (u: String) =>
    s"""CAST(CASE WHEN $u >= CAST('9223372036854775808' AS HUGEINT)
       |  THEN $u - CAST('18446744073709551616' AS HUGEINT)
       |  ELSE $u END AS BIGINT)""".stripMargin

  /** Shared CTE chain `toks → … → pairs` (no WITH keyword): the
    * bit-exact DuckDB SimHash pipeline, reused by [[simhashSql]] and
    * the clustering twin [[clustersSql]]. */
  private val simhashPairsCte: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |th AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |        list_transform(range(1, octet_length(encode(tok))+1),
       |          i -> CAST(
       |            16*(strpos('0123456789abcdef', substr(lower(hex(encode(tok))), CAST(2*i-1 AS INT), 1))-1)
       |             + (strpos('0123456789abcdef', substr(lower(hex(encode(tok))), CAST(2*i AS INT), 1))-1)
       |            AS HUGEINT))),
       |      (h, b) -> (xor(h, b) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
       |    ) AS h
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id, k,
       |    SUM(CASE WHEN (h // CAST(pow(2, k) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th, range(64) t(k)
       |  GROUP BY doc_id, k),
       |sig AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN v > 0 THEN CAST(pow(2, k) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS usig
       |  FROM votes GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, usig, CAST(b AS INT) AS band,
       |    CAST((usig // CAST(pow(2, 16*b) AS HUGEINT)) % 65536 AS BIGINT) AS bits
       |  FROM sig, range(4) t(b)),
       |kept AS (
       |  SELECT band, bits FROM banded GROUP BY band, bits
       |  HAVING COUNT(*) > 1 AND COUNT(*) <= 200),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.usig AS ua, b.usig AS ub
       |  FROM kept k
       |  JOIN banded a ON a.band = k.band AND a.bits = k.bits
       |  JOIN banded b ON b.band = k.band AND b.bits = k.bits AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |    CAST(bit_count(xor(${toSigned("ua")}, ${toSigned("ub")})) AS INT) AS hamming
       |  FROM pairs
       |  WHERE bit_count(xor(${toSigned("ua")}, ${toSigned("ub")})) <= 12)""".stripMargin

  val simhashSql: String =
    s"""WITH $simhashPairsCte
       |SELECT doc_a, doc_b, hamming FROM verified
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-document cluster labels over the (simhash, hamming≤12) pair
    * graph: connected components labeling each clustered document
    * with the smallest doc_id reachable from it (the canonical
    * representative a keep-one-per-cluster pass retains).
    *
    * Components run on the EDGE graph only (nodes appearing in some
    * pair — bounded by near-dup mass, never corpus-sized; the capped
    * banding already bounds the edge set), via
    * [[graft.operators.ConnectedComponents.minLabels]] — pointer-
    * jumped min-label propagation, O(log diameter) rounds, throwing
    * rather than returning silently-wrong labels if unconverged. */
  /** Session-scoped memo for the CC label frame: `q_dedup_clusters`
    * and `q_dedup_droplist` are two projections of the SAME labels,
    * and each driver query must be standalone — without the memo a
    * session running both pays the full simhash→pairs→CC pipeline
    * twice (the two most expensive bench entries in r7). Keyed by
    * data dir so different SFs never cross-contaminate. The memoized
    * frame is materialized (checkpointed) by `minLabels`, hence safe
    * to hold and re-consume across actions. Reachability and locking
    * discipline (ADVICE r8) live in the extracted shared device,
    * [[SessionMemo]] (r15 — the index-state queries now ride the
    * same machinery). */
  private val labelMemo = new SessionMemo.Memo[DataFrame]

  /** Same discipline for the simhash PAIR frame — the shared front of
    * `q_dedup_simhash`, the cluster-label pipeline and
    * `q_dup_pagerank`: a session composing the dedup family pays the
    * corpus-scale signature→band→verify job ONCE per (session, dir)
    * instead of once per consumer (at 100 TB: three fewer full
    * corpus scans + band shuffles). The memoized frame is the
    * eagerly-localCheckpointed pair set `nearDupPairs` returns —
    * near-dup-mass-bounded, safe to re-consume across actions. The
    * single-scan `ensembleQ` deliberately does NOT ride this memo:
    * its simhash arm is a lazy plan over the one persisted corpus
    * frame shared with the shingle build, materialized by the
    * ensemble's own single action; routing it here would regress the
    * cold ensemble to a second corpus scan and a second action. */
  private val pairMemo = new SessionMemo.Memo[DataFrame]

  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    labelMemo(s, dir)(computeClusterLabels(s, dir))

  private[graft] def simhashPairs(s: SparkSession, dir: String): DataFrame =
    pairMemo(s, dir)(
      SimHashDedup.nearDupPairs(s, Tables.documents(s, dir),
        "doc_id", "text", maxHamming = 12))

  /** Test/bench hook: drop the memoized label AND pair frames for `s`
    * so the next dedup-family call pays the full pipeline. Benchmarks
    * use this to time the COLD cost honestly — without it, passes
    * after the first (and sibling queries entirely) would ride the
    * memo and report a projection over cached state as the query's
    * cost. (The bench itself now resets EVERY registered memo via
    * [[SessionMemo.resetAll]]; this narrower hook remains for the
    * dedup-family specs.) */
  private[graft] def resetLabelMemo(s: SparkSession): Unit = {
    labelMemo.drop(s)
    pairMemo.drop(s)
  }

  private def computeClusterLabels(s: SparkSession, dir: String): DataFrame = {
    // The pair frame arrives via the session memo (already
    // materialized by nearDupPairs); the symmetrized union stays LAZY
    // (r20): minLabels clusters + materializes its own dst-keyed edge
    // frame up front and consumes the input exactly once, so a second
    // caller-side materialization would just double-write the edges
    // (the pre-r20 operator re-read its input every round, which is
    // why this used to mat() the union — measured 2.6× slower unmat'd
    // then). The materializer (local vs reliable checkpoint) follows
    // GRAFT_ITER_CHECKPOINT_DIR — see [[graft.operators.Materializer]].
    val mat = graft.operators.Materializer.fromEnv()
    val pairs = simhashPairs(s, dir)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    graft.operators.ConnectedComponents.minLabels(edges, mat = mat)._1
  }

  /** Near-dup clustering summary — one row per cluster.
    *
    * DuckDB twin: recursive CTE closure over the same edges, then
    * MIN(label) per node — semantics identical by definition of
    * connected components. */
  def clustersQ(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"))
      .orderBy("cluster")

  /** The DROP-LIST — what the dedup pipeline's consumer actually
    * applies: every clustered document that is NOT its cluster's
    * canonical representative (`doc_id != cluster`; the
    * representative is the min doc_id by construction, so exactly
    * one document per cluster survives an anti-join against this
    * list). The keep-list is its complement: unclustered documents
    * plus the representatives themselves. */
  def droplistQ(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)
      .filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"), col("label").as("cluster"))
      .orderBy("doc_id")

  val clustersSql: String =
    s"""WITH RECURSIVE $simhashPairsCte,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM verified
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM verified),
       |reach(node, lab) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst),
       |final AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node)
       |SELECT label AS cluster, COUNT(*) AS n_docs, MAX(node) AS max_doc
       |FROM final GROUP BY label ORDER BY cluster""".stripMargin

  val droplistSql: String =
    s"""WITH RECURSIVE $simhashPairsCte,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM verified
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM verified),
       |reach(node, lab) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst),
       |final AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node)
       |SELECT node AS doc_id, label AS cluster FROM final
       |WHERE node <> label ORDER BY doc_id""".stripMargin

  /** CANONICAL-doc selection — keep-BEST per near-dup cluster, the
    * refinement real pipelines apply instead of the min-id keep of
    * [[droplistQ]]: within each cluster retain the document with the
    * highest [[graft.functions.TextFunctions.qualityScore]] (ties →
    * smallest doc_id, so selection is fully deterministic). Reuses
    * the session-memoized CC label frame — in a session that already
    * ran clusters/droplist this is one join + one aggregation.
    * Shapes: labels⋈quality equi-join on doc_id (label side is
    * near-dup-mass-bounded, never corpus-sized), then ONE groupBy
    * with `max_by` over a (quality, −doc_id) struct — map-side
    * combining, no per-cluster window sort. The quality double is
    * the oracle-pinned expression from `q_text_quality`, so the
    * argmax compares bit-identical doubles in both engines. */
  def canonicalQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.qualityScore
    val labels = clusterLabels(s, dir)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    labels.join(docs, labels("node") === docs("doc_id"))
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        max_by(col("node"), struct(col("quality"), (-col("node")).as("nid")))
          .as("keep_doc"),
        max(col("quality")).as("best_quality"))
      .orderBy("cluster")
  }

  val canonicalSql: String =
    s"""WITH RECURSIVE $simhashPairsCte,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM verified
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM verified),
       |reach(node, lab) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst),
       |final AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node),
       |q AS (SELECT doc_id,
       |  ${TextQueries.qualitySqlExpr}
       |    AS quality FROM documents),
       |r AS (
       |  SELECT f.label, f.node, q.quality,
       |    ROW_NUMBER() OVER (PARTITION BY f.label
       |      ORDER BY q.quality DESC, f.node ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY f.label) AS n_docs,
       |    MAX(q.quality) OVER (PARTITION BY f.label) AS best_quality
       |  FROM final f JOIN q ON q.doc_id = f.node)
       |SELECT label AS cluster, n_docs, node AS keep_doc, best_quality
       |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** PROVENANCE-priority dedup — keep-by-SOURCE per near-dup cluster,
    * the third keep rule of the family ([[droplistQ]] keeps min-id,
    * [[canonicalQ]] keeps best-quality): when the same content is
    * crawled from several sources, real pipelines keep the copy from
    * the most trusted provenance (e.g. curated over common-crawl).
    * Priority = the source's numeric rank (lower wins; the synthetic
    * corpus's `srcN` names make rank extraction deterministic), ties
    * → min doc_id. Rides the session-memoized CC label frame; then
    * ONE `min_by` groupBy over a (rank, doc_id) struct — map-side
    * combining, no per-cluster window sort, the canonicalQ shape. */
  def priorityQ(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        substring(col("source"), 4, 10).cast(IntegerType).as("src_rank"))
    labels.join(docs, labels("node") === docs("doc_id"))
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        min_by(struct(col("node").as("keep_doc"), col("src_rank").as("keep_rank")),
          struct(col("src_rank"), col("node"))).as("k"))
      .select(col("cluster"), col("n_docs"),
        col("k.keep_doc").as("keep_doc"), col("k.keep_rank").as("keep_rank"))
      .orderBy("cluster")
  }

  val prioritySql: String =
    s"""WITH RECURSIVE $simhashPairsCte,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM verified
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM verified),
       |reach(node, lab) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst),
       |final AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node),
       |p AS (SELECT doc_id, CAST(substr(source, 4) AS INTEGER) AS src_rank
       |  FROM documents),
       |r AS (
       |  SELECT f.label, f.node, p.src_rank,
       |    ROW_NUMBER() OVER (PARTITION BY f.label
       |      ORDER BY p.src_rank ASC, f.node ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY f.label) AS n_docs
       |  FROM final f JOIN p ON p.doc_id = f.node)
       |SELECT label AS cluster, CAST(n_docs AS BIGINT) AS n_docs,
       |  node AS keep_doc, src_rank AS keep_rank
       |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** ENSEMBLE (consensus) dedup — the production guard against any
    * single sketch's blind spots: a pair is flagged only when at
    * least 2 of the 3 independent methods agree (MinHash-LSH
    * Jaccard ≥ 0.2, SimHash Hamming ≤ 12, exact n-gram
    * Jaccard ≥ 0.2). Each method is the SAME oracle-checked pipeline
    * its standalone query runs — this query proves the pair sources
    * compose. All three candidate paths stay bucketed/capped; the
    * consensus reduce is one groupBy on the pair key with a
    * map-side-combining distinct count.
    *
    * SINGLE-SCAN composition (VERDICT r8 #1): the corpus is read once
    * into a persisted two-column frame feeding the simhash arm and
    * ONE shared 3-shingle build; the minhash and ngram arms — which
    * r8 each re-derived the identical `shingleSets(…, 3)` from their
    * own corpus scan — both consume the persisted shingle frame. At
    * 100 TB that is 1 corpus scan + 1 shingling instead of 3 + 2.
    *
    * ONE action: the three arms are lazy plans over the two persisted
    * frames, and the tagged union with its consensus reduce is
    * materialized by a single `localCheckpoint(true)`; only then are
    * both caches released. No driver threads are needed for the arms
    * to overlap — adaptive execution submits every stage whose inputs
    * are ready, so the arms' independent shuffle stages run side by
    * side within the one job set. If the action fails, Spark fails its
    * own jobs, so no arm is still running when the caches go. */
  def ensembleQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    def tag(df: DataFrame, m: String) =
      df.select(col("doc_a"), col("doc_b"), lit(m).as("method"))
    // round-robin spread, deliberately NOT doc_id-keyed (r20 audit):
    // the ensemble's arms are dominated by shingle-keyed groupBys,
    // and the keyed form measured WORSE here (3.67 s → 4.02 s).
    val docs = Tables.spread(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .persist()
    val sh = TextFunctions.shingleSets(docs, "doc_id", "text", 3)
      .filter(size(col("sh")) > 0)
      .persist()
    try {
      val mh = MinHashDedup.pairsFromShingles(sh, k = K, nBands = Bands,
        threshold = Threshold, tokenHash = MinHashDedup.tokenHashMd5,
        maxBucket = MaxBucket)
      val sh2 = SimHashDedup.pairPlan(
        SimHashDedup.signatures(s, docs, "doc_id", "text"), maxHamming = 12)
      val ng = TextQueries.ngramJaccardPairs(sh)
      tag(mh, "minhash")
        .unionByName(tag(sh2, "simhash"))
        .unionByName(tag(ng, "ngram"))
        .groupBy("doc_a", "doc_b")
        .agg(countDistinct(col("method")).cast(IntegerType).as("n_methods"))
        .filter(col("n_methods") >= 2)
        .localCheckpoint(true)
        .orderBy("doc_a", "doc_b")
    } finally { sh.unpersist(); docs.unpersist(); () }
  }

  /** Twin: each method's full standalone twin nests as a CTE body
    * (inner WITH inside the parenthesized subquery — the same DuckDB
    * pattern the embed-clusters twin uses), then a distinct-method
    * consensus count over the union. */
  def ensembleSql: String =
    s"""WITH mh AS ($minhashSql),
       |sh2 AS ($simhashSql),
       |ng AS (${TextQueries.dedupNgramJaccardSql})
       |SELECT doc_a, doc_b, CAST(COUNT(DISTINCT method) AS INTEGER) AS n_methods
       |FROM (
       |  SELECT doc_a, doc_b, 'minhash' AS method FROM mh
       |  UNION ALL SELECT doc_a, doc_b, 'simhash' AS method FROM sh2
       |  UNION ALL SELECT doc_a, doc_b, 'ngram' AS method FROM ng)
       |GROUP BY doc_a, doc_b
       |HAVING COUNT(DISTINCT method) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Duplication-CENTRALITY ranking — PageRank over the symmetrized
    * near-dup graph ([[graft.operators.PageRank]], 5 rounds, exact
    * fixed-point integer arithmetic): which documents sit at the
    * CENTER of duplication neighborhoods vs. on their fringe. Cluster
    * labels ([[clustersQ]]) say only WHICH component a doc is in;
    * the rank orders docs WITHIN a component by how many well-
    * connected near-dups point at them — the prioritization signal
    * for "audit the worst duplication hubs first" curation passes
    * (a template document duplicated into hundreds of near-copies
    * outranks a chance pairwise collision).
    *
    * Plan: the session-memoized simhash pair frame (shared with
    * `q_dedup_simhash` and the clusters family — one corpus-scale
    * pair job per (session, dir)), then 5 rounds of equi-join +
    * map-side-combining sum over the edge frame, per-round state
    * through the selectable [[graft.operators.Materializer]]. Every
    * rank is a deterministic Long — the DuckDB twin unrolls the
    * identical 5 rounds and matches bit-for-bit. */
  def pagerankQ(s: SparkSession, dir: String): DataFrame = {
    val pairs = simhashPairs(s, dir)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    graft.operators.PageRank.ranks(edges, rounds = 5)
      .select(col("node").as("doc_id"), col("pr"))
      .orderBy(col("pr").desc, col("doc_id").asc)
  }

  val pagerankSql: String =
    s"""WITH $simhashPairsCte,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM verified
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM verified),
       |${graft.operators.PageRank.roundsSql(5)}
       |SELECT node AS doc_id, pr FROM r5
       |ORDER BY pr DESC, doc_id ASC""".stripMargin

  /** Triangle counts + local clustering coefficient over the
    * near-dup graph — the graph-shape diagnostic that separates
    * genuine duplicate CLIQUES (every member pairs with every other →
    * coefficient ≈ 1) from hash-collision CHAINS (A~B, B~C but A≁C →
    * coefficient ≈ 0): a low-coefficient high-degree node is a
    * banding artifact hub, not a duplicate. Same memoized pair frame
    * as clusters/pagerank.
    *
    * Algorithm: degree-ordered edge orientation (Chiba–Nishizeki /
    * the standard MapReduce formulation): orient every edge from the
    * (deg, id)-smaller endpoint, count each triangle exactly once as
    * a wedge `u→v, u→w` (ord(v) < ord(w)) closed by `v→w`. Why this
    * scales where the naive wedge join explodes: out-degree under
    * this orientation is O(√m), so the wedge fan-out is Σ outdeg² ≤
    * m^1.5 instead of Σ deg² — the dup-graph's worst hub (a 20-copy
    * clique's member, or a hot band bucket) contributes wedges only
    * toward HIGHER-ordered vertices. Three equi-joins, no window, no
    * global sort; the (deg,id) order needs no global rank because
    * the comparison is evaluated pairwise. Coefficient = one IEEE
    * division of exact ints (2·tri vs deg·(deg−1)), NULL for
    * deg < 2. */
  def trianglesQ(s: SparkSession, dir: String): DataFrame =
    triangleStats(simhashPairs(s, dir).select("doc_a", "doc_b"))

  /** Graph core of [[trianglesQ]] over any `(doc_a, doc_b)` edge
    * frame (doc_a < doc_b, distinct) — split out so specs can plant
    * exact graphs (clique vs chain) without reverse-engineering the
    * simhash pipeline. */
  private[graft] def triangleStats(pairs: DataFrame): DataFrame = {
    val deg = pairs.select(col("doc_a").as("v"))
      .union(pairs.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = pairs
      .join(deg.select(col("v").as("doc_a"), col("deg").as("da")), Seq("doc_a"))
      .join(deg.select(col("v").as("doc_b"), col("deg").as("db")), Seq("doc_b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    val e = withDeg.select(
      when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
      when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dd"))
    val ordLt = col("w1.dd") < col("w2.dd") ||
      (col("w1.dd") === col("w2.dd") && col("w1.dst") < col("w2.dst"))
    val tri = e.as("w1").join(e.as("w2"),
        col("w1.src") === col("w2.src") && ordLt)
      .join(e.as("w3"),
        col("w1.dst") === col("w3.src") && col("w2.dst") === col("w3.dst"))
      .select(col("w1.src").as("x"), col("w1.dst").as("y"), col("w2.dst").as("z"))
    val perDoc = tri.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.join(perDoc, Seq("v"), "left")
      .select(col("v").as("doc_id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          (lit(2L) * coalesce(col("tri"), lit(0L))).cast(DoubleType) /
            (col("deg") * (col("deg") - 1)).cast(DoubleType)).as("clus"))
      .orderBy("doc_id")
  }

  val trianglesSql: String =
    s"""WITH $simhashPairsCte,
       |deg AS (
       |  SELECT v, COUNT(*) AS deg FROM (
       |    SELECT doc_a AS v FROM verified
       |    UNION ALL SELECT doc_b AS v FROM verified)
       |  GROUP BY v),
       |e AS (
       |  SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.doc_a < p.doc_b)
       |      THEN p.doc_a ELSE p.doc_b END AS src,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.doc_a < p.doc_b)
       |      THEN p.doc_b ELSE p.doc_a END AS dst,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.doc_a < p.doc_b)
       |      THEN db.deg ELSE da.deg END AS dd
       |  FROM verified p
       |  JOIN deg da ON da.v = p.doc_a
       |  JOIN deg db ON db.v = p.doc_b),
       |tri AS (
       |  SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
       |  FROM e w1
       |  JOIN e w2 ON w1.src = w2.src
       |    AND (w1.dd < w2.dd OR (w1.dd = w2.dd AND w1.dst < w2.dst))
       |  JOIN e w3 ON w3.src = w1.dst AND w3.dst = w2.dst),
       |per AS (
       |  SELECT v, COUNT(*) AS tri FROM (
       |    SELECT x AS v FROM tri
       |    UNION ALL SELECT y AS v FROM tri
       |    UNION ALL SELECT z AS v FROM tri)
       |  GROUP BY v)
       |SELECT d.v AS doc_id, CAST(d.deg AS BIGINT) AS deg,
       |  CAST(COALESCE(p.tri, 0) AS BIGINT) AS tri,
       |  CASE WHEN d.deg >= 2 THEN
       |    CAST(2 * COALESCE(p.tri, 0) AS DOUBLE)
       |      / CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS clus
       |FROM deg d LEFT JOIN per p ON p.v = d.v
       |ORDER BY doc_id""".stripMargin

  private val MinMatch = 8 // est_jaccard ≥ 8/24 = 1/3

  /** INCREMENTAL dedup — a new batch against the existing corpus's
    * signature index (the production shape: at 100 TB the corpus is
    * never re-shingled; a stored `(doc_id, sig)` table is maintained
    * and only the arriving batch pays shingling). The deterministic
    * Knuth split plays the roles: buckets < 90 are the indexed
    * corpus, buckets ≥ 90 the arriving batch. Verification is the
    * signature-level MinHash estimator (`n_match / k` ≈ Jaccard) —
    * see [[graft.operators.MinHashDedup.incrementalPairs]] for the
    * exactness trade. In-query the index is derived from the same
    * table because driver queries are standalone; the scaladoc'd
    * swap-in point is the `indexSigs` argument. */
  def incrementalQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val bucket = pmod(pmod(col("doc_id"), lit(100000000L)) * lit(2654435761L), lit(100L))
    // r20: doc_id-KEYED spread — the signature aggregation and the
    // verify joins downstream are doc-keyed, so the spreading
    // exchange doubles as their clustering (guide §2.4); measured
    // 1.57 s → 1.08 s at sf0.1 vs the r19 round-robin spread.
    val sh = TextFunctions.shingleSets(
        Tables.spreadBy(Tables.documents(s, dir), col("doc_id")),
        "doc_id", "text", 3)
      .filter(size(col("sh")) > 0)
      .persist()
    val sigs = MinHashDedup.signaturesAgg(sh, ps, MinHashDedup.tokenHashMd5)
      .withColumn("_b", bucket)
      .persist()
    try {
      val idx = sigs.filter(col("_b") < 90).select("doc_id", "sig")
      val nw = sigs.filter(col("_b") >= 90).select("doc_id", "sig")
      MinHashDedup.incrementalPairs(nw, idx,
          k = K, nBands = Bands, minMatch = MinMatch, maxBucket = MaxBucket)
        .localCheckpoint(true)
        .orderBy("new_doc", "idx_doc")
    } finally { sigs.unpersist(); sh.unpersist(); () }
  }

  /** Twin generated from the same constants as [[minhashSql]]; the
    * index/batch split and the per-band index cap are explicit CTEs,
    * and the component-match count is a `list_filter` over the two
    * signature arrays. */
  def incrementalSql: String = {
    val p = MinHashDedup.prime
    val minExprs = ps.map { case (a, b) => s"MIN((h*$a+$b)%$p)" }.mkString(", ")
    def bandSelects(src: String) = (0 until Bands).map { b =>
      val lo = b * R + 1
      val hi = b * R + R
      s"SELECT doc_id, $b AS band, sig[$lo:$hi] AS sl FROM $src"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, ((doc_id % 100000000) * 2654435761) % 100 AS bucket,
       |    string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, bucket, unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
       |  FROM toks WHERE len(t) >= 3),
       |hs AS (
       |  SELECT doc_id, bucket, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % $p AS h
       |  FROM sh),
       |sig AS (SELECT doc_id, bucket, [$minExprs] AS sig FROM hs GROUP BY doc_id, bucket),
       |idx_sig AS (SELECT doc_id, sig FROM sig WHERE bucket < 90),
       |new_sig AS (SELECT doc_id, sig FROM sig WHERE bucket >= 90),
       |ib AS (${bandSelects("idx_sig")}),
       |kept AS (
       |  SELECT * FROM ib
       |  QUALIFY COUNT(*) OVER (PARTITION BY band, sl) <= $MaxBucket),
       |nb AS (${bandSelects("new_sig")}),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS idx_doc
       |  FROM nb n JOIN kept i ON n.band = i.band AND n.sl = i.sl),
       |scored AS (
       |  SELECT new_doc, idx_doc,
       |    CAST(len(list_filter(range(1, ${K + 1}),
       |      i -> sn.sig[i] = si.sig[i])) AS INTEGER) AS n_match
       |  FROM cand
       |  JOIN new_sig sn ON sn.doc_id = new_doc
       |  JOIN idx_sig si ON si.doc_id = idx_doc)
       |SELECT new_doc, idx_doc, n_match,
       |  CAST(n_match AS DOUBLE) / $K.0 AS est_jaccard
       |FROM scored WHERE n_match >= $MinMatch
       |ORDER BY new_doc, idx_doc""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_minhash", minhashQ, Some(minhashSql)),
    QueryDef("q_dedup_simhash", simhashQ, Some(simhashSql)),
    QueryDef("q_dedup_clusters", clustersQ, Some(clustersSql)),
    QueryDef("q_dedup_droplist", droplistQ, Some(droplistSql)),
    QueryDef("q_dedup_canonical", canonicalQ, Some(canonicalSql)),
    QueryDef("q_dedup_priority", priorityQ, Some(prioritySql)),
    QueryDef("q_dedup_ensemble", ensembleQ, Some(ensembleSql)),
    QueryDef("q_dedup_incremental", incrementalQ, Some(incrementalSql)),
    QueryDef("q_dup_pagerank", pagerankQ, Some(pagerankSql)),
    QueryDef("q_dup_triangles", trianglesQ, Some(trianglesSql)))
}
