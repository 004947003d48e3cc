package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis + deduplication operators over the `documents` table
  * (LLM-data-pipeline surface, SURVEY.md §2.11): token counting,
  * quality scoring, language ID, fingerprinting, exact dedup, and
  * n-gram-Jaccard near-dup. All oracle-checked.
  */
object TextQueries {

  /** Whitespace + BPE-ish token counting per document. */
  def tokenCountQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_ws_tokens"),
        bpeishCount(col("text")).as("n_bpe_tokens"),
        punctCount(col("text")).as("n_punct"))
      .orderBy("doc_id")

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_bpe_tokens,
      |  CAST(len(regexp_extract_all(text, '[^\w\s]')) AS INTEGER) AS n_punct
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: length saturation + punctuation density +
    * stopword ratio, identical expression tree both engines. */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).as("n_chars_obs"),
        stopwordCount(col("text")).as("n_stop"),
        qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** The DuckDB mirror of [[graft.functions.TextFunctions.qualityScore]]
    * — same parenthesization and operand order (double arithmetic is
    * order-sensitive). Shared by `q_text_quality` and the canonical-doc
    * selection twin in [[DedupQueries]]. */
  val qualitySqlExpr: String =
    """0.4 * (least(CAST(length(text) AS DOUBLE), 500.0) / 500.0)
      |    + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
      |               / greatest(CAST(length(text) AS DOUBLE), 1.0))
      |    + 0.3 * (CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |                t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
      |               / greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0))""".stripMargin

  val textQualitySql: String =
    s"""SELECT doc_id,
      |  CAST(length(text) AS INTEGER) AS n_chars_obs,
      |  CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
      |    t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS INTEGER) AS n_stop,
      |  $qualitySqlExpr
      |    AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Language-ID by marker-word voting, compared against the labeled
    * `lang` column (accuracy rollup per actual language). */
  def langIdQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), langId(col("text")).as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  val langIdSql: String = {
    val votes = langMarkers.map { case (l, ms) =>
      s"CAST(len(regexp_extract_all(text, '\\b(${ms.mkString("|")})\\b')) AS INTEGER) AS v_$l"
    }.mkString(",\n  ")
    val mx = "greatest(" + langMarkers.map(m => s"v_${m._1}").mkString(", ") + ")"
    val cases = langMarkers.map { case (l, _) =>
      s"WHEN mx > 0 AND v_$l = mx THEN '$l'"
    }.mkString(" ")
    s"""WITH v AS (SELECT doc_id, lang, $votes FROM documents),
       |p AS (SELECT doc_id, lang, CASE $cases ELSE 'und' END AS pred_lang
       |      FROM (SELECT *, $mx AS mx FROM v))
       |SELECT lang, pred_lang, COUNT(*) AS n FROM p
       |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  /** Character-trigram-profile language ID ([[graft.functions.LangId]]):
    * confusion rollup of predictions against the labeled column. The
    * oracle embeds the same integer profile as a VALUES relation. */
  def langTrigramQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // r19: `lang` rides predict's id-set join (carry), replacing the
    // former second documents scan + corpus-wide doc_id join. (r20
    // re-measured carry vs the r18 no-carry form at 1.88 s vs 1.91 s
    // min-of-5 — the r19 driver regression was not the carry change;
    // the real cost is predict's explode+join front, now native.)
    graft.functions.LangId.predict(docs, "doc_id", "text", carry = Seq("lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"), sum(col("score")).as("total_score"))
      .orderBy("lang", "pred_lang")
  }

  val langTrigramSql: String = {
    val values = graft.functions.LangId.profiles
      .map { case (l, t, w) => s"('$l', '$t', $w)" }.mkString(", ")
    val prio = graft.functions.LangId.langOrder.zipWithIndex
      .map { case (l, i) => s"WHEN lang = '$l' THEN $i" }.mkString(" ")
    s"""WITH prof(lang, tri, w) AS (VALUES $values),
       |t AS (SELECT doc_id, lower(text) AS t FROM documents),
       |tris AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(length(t) - 2, 0) + 1),
       |    i -> substr(t, CAST(i AS INTEGER), 3))) AS tri
       |  FROM t),
       |sc AS (
       |  SELECT doc_id, lang, CAST(SUM(w) AS BIGINT) AS score
       |  FROM tris JOIN prof USING (tri) GROUP BY doc_id, lang),
       |best AS (
       |  SELECT doc_id, lang AS pred_lang, score FROM (
       |    SELECT doc_id, lang, score, ROW_NUMBER() OVER (
       |      PARTITION BY doc_id ORDER BY score DESC,
       |      CASE $prio ELSE 99 END ASC) AS rn
       |    FROM sc) WHERE rn = 1),
       |pred AS (
       |  SELECT d.doc_id, d.lang, COALESCE(b.pred_lang, 'und') AS pred_lang,
       |    COALESCE(b.score, 0) AS score
       |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id)
       |SELECT lang, pred_lang, COUNT(*) AS n,
       |  CAST(SUM(score) AS BIGINT) AS total_score
       |FROM pred GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  /** Document fingerprinting (md5 + sha256 content hashes). */
  def fingerprintQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        fingerprintMd5(col("text")).as("fp_md5"),
        fingerprintSha256(col("text")).as("fp_sha256"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    """SELECT doc_id, md5(text) AS fp_md5, sha256(text) AS fp_sha256
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Exact deduplication via hash-groupBy (SURVEY.md §2.11): group by
    * the 16-byte md5 of the body — never by the body itself — keep
    * min(doc_id) as canonical. At 100 TB this is one shuffle on a
    * fixed-width key with map-side partial aggregation. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(fingerprintMd5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")

  val dedupExactSql: String =
    """SELECT md5(text) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin

  /** N-gram Jaccard near-dup pairs, single-pass tree-shaped plan:
    * per-doc distinct shingle arrays (set size `sz` computed once and
    * CARRIED through the explode — no size join later), inverted
    * index via one groupBy(shingle) collecting `(doc_id, sz)` lists,
    * pair generation by in-group combination explode (no self-join),
    * one final groupBy(pair). Exactly two shuffles, every subtree
    * consumed once (the naive inverted-index self-join recomputes the
    * shingle explode 3-4× and was ~10× slower at sf0.1).
    * Hot-shingle cap: groups with > 50 docs are dropped before pair
    * generation (bounds fan-out; at adversarial scale you'd prune
    * stop-shingles with a first pass instead of collect-then-filter).
    * Jaccard uses full set sizes with capped commons (a lower bound
    * when the cap fires; this corpus never trips it). */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(
      shingleSets(Tables.spread(Tables.documents(s, dir)), "doc_id", "text", 3))
      .orderBy("doc_a", "doc_b")

  /** EXACT similarity self-join via prefix filtering — the
    * AllPairs/PPJoin scheme (Chaudhuri et al. ICDE 2006; Xiao et al.
    * WWW 2008; distributed form: Vernica, Carey & Li SIGMOD 2010).
    * Unlike [[dedupNgramJaccard]]'s df-capped inverted index (a
    * recall trade) and the MinHash/SimHash arms (probabilistic),
    * this finds EVERY pair with Jaccard ≥ 0.7 and only those — no
    * cap, no hash, no misses.
    *
    * The pruning theorem that makes exactness affordable: order all
    * shingles by global (df, shingle) — rarest first — and keep only
    * each doc's first `sz − ⌈0.7·sz⌉ + 1` shingles (its "prefix").
    * Any pair with J ≥ 0.7 must share a shingle in BOTH prefixes:
    * the overlap bound `o ≥ t(sa+sb)/(1+t)` plus the length filter
    * `10·min ≥ 7·max` force the smallest common shingle into each
    * side's prefix (if it sat past a's prefix, o ≤ ⌈t·sa⌉ − 1 < the
    * bound — contradiction). So candidates come from a self-join on
    * PREFIX shingles only — and because the global order puts hot
    * (high-df) shingles LAST, they rarely enter any prefix: the
    * boilerplate shingle that blows up a naive inverted index
    * generates no candidates here unless a doc is mostly
    * boilerplate. Candidates then verify with one exact
    * `array_intersect` against the full shingle sets; the ≥ 0.7 keep
    * rule is integer cross-multiplication (`10·n ≥ 7·(union)`), the
    * reported jaccard one IEEE division of exact ints.
    *
    * Scale shape: shingle explode → df agg (map-side combine) → df
    * join + per-doc rank window → prefix filter shrinks the index to
    * ~(1−t) of the shingle mass → equi-join on rare shingles →
    * verify joins fetch only candidate docs' sets. No all-pairs
    * term anywhere; skew lives exactly where df is high, which is
    * exactly what the prefix excludes.
    *
    * Honest cost bound: EXACT joins are Ω(near-threshold mass) — a
    * pair at J slightly below t shares most prefix tokens and no
    * prefix/positional/suffix filter can prune it, so it must be
    * verified. On corpora DENSE with near-ties (the 1M variant
    * stress corpus: ~10⁸ candidate pairs at J ≈ 0.58 vs t = 0.7,
    * PLANS.md) the verify stage dominates and the capped/sketched
    * family (ngram-jaccard, MinHash, SimHash) with their explicit
    * recall contracts is the right tool; PPJoin is for the
    * real-corpus regime where near-threshold mass is sparse and
    * exactness is the requirement. */
  def dedupPpjoin(s: SparkSession, dir: String): DataFrame = {
    // Three consumers (df agg, rank join, verify sets) would each
    // recompute the tokenize+shingle+distinct front — persist the
    // distinct (doc, shingle) frame once (the ensemble idiom: persist
    // the corpus-scale intermediate, eagerly checkpoint only the
    // SMALL pair result before unpersisting).
    // r20: the parallelism floor is doc_id-KEYED (spreadBy, guide
    // §2.4): the same exchange that spreads the single-row-group scan
    // then satisfies the (doc_id, sh) distinct below AND the rk/sz
    // windows' doc_id clustering (dfreq broadcasts back, so the
    // clustering survives the df join) — measured 3.68 s → 1.72 s at
    // sf0.1 vs the r19 round-robin spread.
    val rows = shingleRows(Tables.spreadBy(Tables.documents(s, dir),
        col("doc_id")), "doc_id", "text")
      .select("doc_id", "sh").distinct()
      .persist()
    val dfreq = rows.groupBy("sh").agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
    val wSz = Window.partitionBy("doc_id")
    val ranked = rows.join(dfreq, Seq("sh"))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("sz", count(lit(1)).over(wSz))
    // pfx feeds the regime estimate AND the candidate self-join (and
    // the checkpointed pair frame on the sparse path) — persist so
    // the df-join + double-window front runs once, not per consumer
    // (the 1M sparse path measured 72 s unpersisted vs 42 s persisted)
    val pfx = ranked
      .filter(col("rk") <= col("sz") - expr("(7*sz+9) div 10") + 1)
      .select(col("doc_id"), col("sh"), col("sz"))
      .persist()
    // the try opens HERE, right after the persists (ADVICE r12): the
    // regime estimate and the sparse-path checkpoint below run Spark
    // jobs, and an exception in them must not leak the two cached
    // frames for the session's lifetime
    try {
    val cand = pfx.as("a").join(pfx.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * 10 >= col("b.sz") * 7 &&
          col("b.sz") * 10 >= col("a.sz") * 7)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Verify-set prune (the q_span_clean surgery-guard idiom), gated
    // by a REGIME ESTIMATE (r12): only documents in some candidate
    // pair need their full shingle set materialized, and on a
    // sparse-candidate corpus (the common real case) pruning the
    // collect_list to those docs measures 35.4 s vs 50.1 s unpruned
    // on the 1M planted stress. But the prune needs the pair frame
    // PINNED (localCheckpoint) to avoid recomputing the prefix join,
    // and a checkpointed pair frame is an AQE stats black hole — on
    // the DENSE 100k stress (every doc a candidate) the resulting
    // verify plan ran 230 s vs 60 s for the un-checkpointed single
    // DAG, with or without a manual broadcast hint (measured r12).
    // So decide the regime BEFORE materializing anything, from the
    // prefix index itself: a doc can be in a candidate pair ONLY if
    // one of its prefix shingles appears in >= 2 prefixes, so
    // |docs with a shared prefix shingle| upper-bounds the candidate
    // doc set (it ignores the size-compatibility predicate and the
    // doc_a < doc_b pairing — conservative toward "dense", so the
    // fallback is never chosen when pruning was needed). Sparse ⇒
    // checkpoint the (small) pair frame, semi-join the verify sets
    // to its doc ids. Dense ⇒ the r10 single-DAG plan, untouched:
    // AQE sees every stat, and the estimate — one count aggregate +
    // one semi-join over the prefix slice of the shingle mass — is
    // the only cost added.
    // Corpus-size gate first (parquet-metadata count, ~free): below
    // ~50k docs the full verify-set build costs less than the
    // estimate's own jobs (measured 3.2 s vs 10.8 s at the 5k-doc
    // bench scale), so small corpora take the single-DAG plan
    // directly and the machinery below engages only where it can pay.
    val nDocs = Tables.documents(s, dir).count()
    val sparse = nDocs >= 50000 && {
      val hotSh = pfx.groupBy("sh").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).select("sh")
      val candDocEst = pfx.join(hotSh, Seq("sh"), "left_semi")
        .select("doc_id").distinct().count()
      candDocEst * 4 <= nDocs
    }
    val (candJ, setsBase) =
      if (sparse) {
        val candCk = cand.localCheckpoint(true)
        // The estimate bounds candidate DOCS, not PAIRS — a sparse
        // doc set can still hold a large pair set (hot shingles), and
        // an unconditional broadcast() hint bypasses the size guard.
        // The frame is already materialized, so the count is free:
        // hint only when the pair set is genuinely broadcast-sized
        // (4M pairs ≈ 64 MB of (long,long) rows); past that, leave
        // the join strategy to Spark.
        val candB =
          if (candCk.count() <= 4000000L) broadcast(candCk) else candCk
        val candIds = candCk.select(col("doc_a").as("doc_id"))
          .union(candCk.select(col("doc_b").as("doc_id"))).distinct()
        (candB, rows.join(candIds, Seq("doc_id"), "left_semi"))
      } else (cand, rows)
    val sets = setsBase
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("shs"))
    candJ
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")), Seq("doc_b"))
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("sz_a", size(col("sh_a")))
      .withColumn("sz_b", size(col("sh_b")))
      .filter(col("n_common") * 10 >= (col("sz_a") + col("sz_b") - col("n_common")) * 7)
      .select(col("doc_a"), col("doc_b"),
        col("n_common").cast(LongType).as("n_common"),
        (col("n_common").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("n_common")).cast(DoubleType)).as("jaccard"))
      .localCheckpoint(true)
      .orderBy("doc_a", "doc_b")
    } finally { pfx.unpersist(); rows.unpersist(); () }
  }

  val dedupPpjoinSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM toks WHERE len(t) >= 3),
      |df AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
      |rk AS (
      |  SELECT s.doc_id, s.sh,
      |    ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS rk,
      |    COUNT(*) OVER (PARTITION BY s.doc_id) AS sz
      |  FROM sh s JOIN df d USING (sh)),
      |pfx AS (SELECT * FROM rk WHERE rk <= sz - ((7*sz+9)//10) + 1),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM pfx a JOIN pfx b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |    AND a.sz*10 >= b.sz*7 AND b.sz*10 >= a.sz*7),
      |com AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.doc_a
      |  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
      |  GROUP BY c.doc_a, c.doc_b),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
      |SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
      |  CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
      |FROM com
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE 10*n_common >= 7*(sa.sz + sb.sz - n_common)
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Pair pipeline over a pre-built `(doc_id, sh: array<string>)`
    * distinct-shingle frame — the shared-scan entry point (mirrors
    * [[graft.operators.MinHashDedup.pairsFromShingles]]): the
    * ensemble query builds ONE shingle frame and threads it into both
    * shingle-consuming arms. Consumed exactly once (tree-shaped
    * single-pass plan), so the caller need not persist unless it has
    * other consumers. */
  private[graft] def ngramJaccardPairs(docShingles: DataFrame): DataFrame = {
    val docSets = docShingles
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
    val exploded = docSets.select(col("sz"), col("doc_id"),
      explode(col("sh")).as("sh"))
    val grouped = exploded.groupBy("sh")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sz")))).as("ds"))
      .filter(size(col("ds")) <= 50)
    val pairs = grouped.select(explode(
      flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds")) - i - 1), y =>
          struct(x.getField("doc_id").as("doc_a"), y.getField("doc_id").as("doc_b"),
            x.getField("sz").as("sz_a"), y.getField("sz").as("sz_b")))))).as("p"))
    pairs.groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("p.sz_a")).as("sz_a"), first(col("p.sz_b")).as("sz_b"))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  val dedupNgramJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |kept AS (
      |  SELECT sh, doc_id FROM sh
      |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 50),
      |common AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, n_common,
      |  CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
      |FROM common
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** CONTAINMENT near-dup detection — the asymmetric complement of
    * [[dedupNgramJaccard]]: a short document pasted verbatim inside a
    * longer one has low Jaccard (the union is large) but containment
    * ≈ 1 from the short side — the quote/boilerplate/near-superset
    * case symmetric overlap misses (Broder's containment measure).
    * Pair source is the SAME inverted 3-shingle index with the same
    * df-≤-50 cap (never all-pairs); the keep rule is integer
    * cross-multiplication `10·n_common ≥ 9·min(sz)` — the ≥0.9
    * threshold with zero float hazard — and the reported `cont_a`/
    * `cont_b` doubles are each ONE IEEE division over exact integers,
    * the keyword-topk parity device. `contained` names the swallowed
    * doc (the higher-containment side; ties → doc_a). */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val docSets = shingleSets(Tables.spread(Tables.documents(s, dir)),
        "doc_id", "text", 3)
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
    val exploded = docSets.select(col("sz"), col("doc_id"),
      explode(col("sh")).as("sh"))
    val grouped = exploded.groupBy("sh")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sz")))).as("ds"))
      .filter(size(col("ds")) <= 50)
    val pairs = grouped.select(explode(
      flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds")) - i - 1), y =>
          struct(x.getField("doc_id").as("doc_a"), y.getField("doc_id").as("doc_b"),
            x.getField("sz").as("sz_a"), y.getField("sz").as("sz_b")))))).as("p"))
    pairs.groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("p.sz_a")).as("sz_a"), first(col("p.sz_b")).as("sz_b"))
      .filter(lit(10L) * col("n_common") >= lit(9L) * least(col("sz_a"), col("sz_b")))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sz_a").cast(LongType).as("sz_a"), col("sz_b").cast(LongType).as("sz_b"),
        (col("n_common").cast(DoubleType) / col("sz_a").cast(DoubleType)).as("cont_a"),
        (col("n_common").cast(DoubleType) / col("sz_b").cast(DoubleType)).as("cont_b"),
        when(col("sz_a") <= col("sz_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained"))
      .orderBy("doc_a", "doc_b")
  }

  val dedupContainmentSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |kept AS (
      |  SELECT sh, doc_id FROM sh
      |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 50),
      |common AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
      |  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
      |  CAST(n_common AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS cont_a,
      |  CAST(n_common AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS cont_b,
      |  CASE WHEN sa.sz <= sb.sz THEN doc_a ELSE doc_b END AS contained
      |FROM common
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE 10 * n_common >= 9 * LEAST(sa.sz, sb.sz)
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Consistent (hash-based) sampling — the at-scale sampling idiom:
    * membership is a pure function of the key (Knuth multiplicative
    * hash mod 100 < rate), so the sample is reproducible across runs,
    * engines and partitionings — unlike `rand()`/`sample()`. Output:
    * per-language sampled counts vs totals. */
  def consistentSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("in_sample",
        pmod(pmod(col("doc_id"), lit(100000000L)) * lit(2654435761L), lit(100L)) < 10)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy("lang")

  val consistentSampleSql: String =
    """SELECT lang, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN ((doc_id % 100000000) * 2654435761) % 100 < 10 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sampled
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Stratified QUOTA sampling — exactly min(N, |stratum|) documents
    * per language, chosen by rank of the pure doc_id hash (the
    * training-mix primitive: cap each source/language at a quota,
    * where [[consistentSample]] keeps a global RATE). Deterministic
    * and engine-/partitioning-independent like its siblings.
    *
    * Scale shape (two-phase): a per-stratum window over ALL rows
    * would shuffle every document of a language into one task — the
    * same wall the dedup window has (PLANS.md "Hot-key skew"). So
    * phase 1 counts strata (column-pruned scan, map-side combine; the
    * counts relation is bounded by |languages|, broadcastable by
    * construction) and pre-filters to a ~3N-expected-survivor hash
    * slice per stratum; phase 2 ranks only the survivors — the
    * window's input is O(N · strata), never corpus-sized. The 3×
    * oversample makes a short stratum astronomically unlikely, and
    * both engines compute the identical deterministic result either
    * way. Documents are scanned twice (count + sample) — the correct
    * trade at 100 TB, where materializing is worse (the
    * q_contamination precedent). */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val n = 20
    val d = Tables.documents(s, dir)
      .withColumn("h",
        pmod(pmod(col("doc_id"), lit(100000000L)) * lit(2654435761L), lit(1000L)))
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val pre = d.join(broadcast(counts), "lang")
      .filter(col("h") < least(lit(1000L),
        ceil(lit(3000.0) * n / col("n_docs")).cast(LongType)))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    // quota_met hash-verifies the exactly-min(N,|stratum|) CONTRACT
    // (VERDICT r6 #3): the Spark side computes the ACTUAL per-stratum
    // sample size against the quota, while the DuckDB twin emits the
    // literal TRUE expectation — if the 3× hash-slice oversample ever
    // leaves a stratum short (both engines would sample identically,
    // so the row sets alone could not catch it), the computed FALSE
    // mismatches the oracle's TRUE and the gate goes red.
    pre.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .withColumn("quota_met",
        count(lit(1)).over(Window.partitionBy("lang")) ===
          least(lit(n.toLong), col("n_docs")))
      .select(col("lang"), col("doc_id"), col("quota_met"))
      .orderBy("lang", "doc_id")
  }

  val stratifiedSampleSql: String =
    """WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      |pre AS (
      |  SELECT d.doc_id, d.lang,
      |    ((d.doc_id % 100000000) * 2654435761) % 1000 AS h
      |  FROM documents d JOIN counts c USING (lang)
      |  WHERE ((d.doc_id % 100000000) * 2654435761) % 1000
      |        < LEAST(1000, CAST(ceil(3000.0 * 20 / c.n_docs) AS BIGINT))),
      |ranked AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
      |  FROM pre)
      |SELECT lang, doc_id, TRUE AS quota_met FROM ranked WHERE rn <= 20
      |ORDER BY lang, doc_id""".stripMargin

  /** Deterministic train/val/test split (90/5/5) by key hash — the
    * companion idiom to [[consistentSample]]: the split is a pure
    * function of doc_id, so re-runs, engines and partitionings agree,
    * and a document can never leak between splits. */
  def trainTestSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(pmod(col("doc_id"), lit(100000000L)) * lit(2654435761L), lit(100L))
    Tables.documents(s, dir)
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "split")
  }

  val trainTestSplitSql: String =
    """SELECT lang, split, COUNT(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM (SELECT lang, n_chars,
      |        CASE WHEN ((doc_id % 100000000) * 2654435761) % 100 < 90 THEN 'train'
      |             WHEN ((doc_id % 100000000) * 2654435761) % 100 < 95 THEN 'val'
      |             ELSE 'test' END AS split
      |      FROM documents)
      |GROUP BY lang, split ORDER BY lang, split""".stripMargin

  /** Fuzzy string matching via Levenshtein distance (same DP
    * definition in both engines): nation names within edit distance
    * of region names — the classic small-dim fuzzy join, broadcast. */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).crossJoin(broadcast(Tables.region(s, dir)))
      .withColumn("dist", levenshtein(lower(col("n_name")), lower(col("r_name"))))
      .filter(col("dist") <= 6)
      .select("n_name", "r_name", "dist")
      .orderBy("n_name", "r_name")

  val fuzzyMatchSql: String =
    """SELECT n_name, r_name,
      |  CAST(levenshtein(lower(n_name), lower(r_name)) AS INTEGER) AS dist
      |FROM nation CROSS JOIN region
      |WHERE levenshtein(lower(n_name), lower(r_name)) <= 6
      |ORDER BY n_name, r_name""".stripMargin

  /** Within-document repetition (training-data quality signal): the
    * duplicated word-trigram mass per document, aggregated per
    * language. High repetition marks boilerplate/spam that poisons
    * training data. r19: the per-doc counts are computed IN PLACE on
    * the row's shingle array — `n_sh` = array size, `nd` = distinct
    * array size — so the corpus never explodes and the only shuffle
    * is the tiny per-lang aggregation (the pre-r19 form paid a
    * token-explode + window shingling plus a (doc,lang) groupBy with
    * countDistinct, three corpus-scale exchanges; guide §2.4). Docs
    * with <3 tokens drop exactly as before (they produced no shingle
    * rows; here `n_sh`=0 filters them). All ratios stay single IEEE
    * divisions over exact integer sums so the DuckDB twin matches
    * bitwise. */
  def repetitionRatio(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val perDoc = TextFunctions.shingleCounts(
        Tables.documents(s, dir), "doc_id", "text", extra = Seq("lang"))
      .filter(col("n_sh") > 0)
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("tot_sh"),
        sum(col("nd")).as("tot_distinct"),
        max(lit(1.0) - col("nd").cast(DoubleType) / col("n_sh").cast(DoubleType))
          .as("max_doc_rep"))
      .withColumn("corpus_rep",
        lit(1.0) - col("tot_distinct").cast(DoubleType) / col("tot_sh").cast(DoubleType))
      .select("lang", "n_docs", "tot_sh", "tot_distinct", "corpus_rep", "max_doc_rep")
      .orderBy("lang")
  }

  val repetitionRatioSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, lang, unnest(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM toks WHERE len(t) >= 3),
      |per_doc AS (
      |  SELECT doc_id, lang, COUNT(*) AS n_sh, COUNT(DISTINCT sh) AS nd
      |  FROM sh GROUP BY doc_id, lang)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_sh) AS BIGINT) AS tot_sh,
      |  CAST(SUM(nd) AS BIGINT) AS tot_distinct,
      |  CAST(1.0 AS DOUBLE) - CAST(SUM(nd) AS DOUBLE) / CAST(SUM(n_sh) AS DOUBLE)
      |    AS corpus_rep,
      |  MAX(CAST(1.0 AS DOUBLE) - CAST(nd AS DOUBLE) / CAST(n_sh AS DOUBLE))
      |    AS max_doc_rep
      |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin

  /** Deterministic training-shard assignment: shard is a pure hash of
    * doc_id (same Knuth multiplicative idiom as [[consistentSample]]),
    * so the export layout is reproducible across runs/engines and a
    * document never moves between shards. Per-shard balance stats; the
    * actual export is `df.withColumn("shard",…).write.partitionBy
    * ("shard")` through [[graft.sink.PartitionedWriter]]. */
  def shardExport(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("shard", pmod(pmod(col("doc_id"), lit(100000000L)) * lit(2654435761L), lit(16L)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("shard")

  val shardExportSql: String =
    """SELECT ((doc_id % 100000000) * 2654435761) % 16 AS shard, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  COUNT(DISTINCT lang) AS n_langs
      |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin

  /** Sequence PACKING — the pre-training batching op: documents are
    * packed, in deterministic doc_id order, into fixed token-capacity
    * bins (capacity 512 — small enough that the sf0.01 oracle fixture produces multiple bins and boundary-straddling docs per shard; production capacity is a parameter), and the query reports per-bin composition
    * (doc count, token sum, fill ratio). Packing is the closed-form
    * streaming formulation `bin = floor(exclusive_cumsum(tokens) /
    * capacity)` — a document straddling a boundary stays in the bin
    * its first token falls in (fill can exceed 1.0 by less than one
    * document; the formulation real packers use when exact bin
    * packing would serialize). SCALE SHAPE: the cumsum window is
    * partitioned by the SAME deterministic Knuth-hash shard as
    * [[shardExport]] — each shard packs independently in parallel, so
    * there is no global single-task window; at 100 TB shards are the
    * unit of both packing and export. `fill` divides by 512 (a power
    * of two), so the double is exact in both engines. */
  def packBins(s: SparkSession, dir: String): DataFrame = {
    val cap = 512L
    val t = Tables.documents(s, dir).select(col("doc_id"),
      pmod(pmod(col("doc_id"), lit(100000000L)) * lit(2654435761L), lit(16L)).as("shard"),
      tokenCount(col("text")).cast(LongType).as("n_tok"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("prev", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", floor(col("prev") / lit(cap)).cast(LongType))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .withColumn("fill", col("n_tokens").cast(DoubleType) / lit(cap.toDouble))
      .orderBy("shard", "bin")
  }

  val packBinsSql: String =
    """WITH t AS (
      |  SELECT doc_id, ((doc_id % 100000000) * 2654435761) % 16 AS shard,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT shard, doc_id, n_tok,
      |    COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      |  FROM t)
      |SELECT shard, CAST(prev // 512 AS BIGINT) AS bin, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens, MIN(doc_id) AS first_doc,
      |  CAST(SUM(n_tok) AS DOUBLE) / 512.0 AS fill
      |FROM c GROUP BY shard, CAST(prev // 512 AS BIGINT)
      |ORDER BY shard, bin""".stripMargin

  /** Corpus vocabulary statistics: top tokens by DOCUMENT frequency
    * (how many docs contain the token — the quantity stopword lists,
    * IDF weights and tokenizer-vocab pruning are built from). The
    * per-doc distinct is one explode + distinct; the df-count
    * aggregation map-side combines, so the shuffle carries one row per
    * (partition × token), never per occurrence — the 100 TB shape for
    * vocabulary building. Ties broken by token for determinism. */
  def vocabTopk(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
      .groupBy("tok")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("tok").asc)
      .limit(25)

  val vocabTopkSql: String =
    """SELECT tok, COUNT(*) AS n_docs FROM (
      |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents) WHERE tok <> ''
      |GROUP BY tok ORDER BY n_docs DESC, tok ASC LIMIT 25""".stripMargin

  /** Train/eval contamination check (decontamination pass): documents
    * in the val/test splits whose EXACT content (md5 fingerprint) also
    * appears in the train split — the standard benchmark-leakage scan
    * run before any training export. Composes [[trainTestSplit]]'s
    * deterministic hash split with [[fingerprintMd5]]; the join is a
    * fingerprint equi-join against the distinct train fingerprint set
    * (at 100 TB: one shuffle on a 32-char key; the eval side is tiny
    * next to train, AQE broadcasts it). Output is per-split counts so
    * the result is meaningful even on a dup-free corpus. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(pmod(col("doc_id"), lit(100000000L)) * lit(2654435761L), lit(100L))
    val fps = Tables.documents(s, dir)
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .select(col("doc_id"), col("split"), fingerprintMd5(col("text")).as("fp"))
    val trainFps = fps.filter(col("split") === "train")
      .select("fp").distinct().withColumn("_in_train", lit(1))
    fps.join(trainFps, Seq("fp"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("split") =!= "train" && col("_in_train") === 1, 1L)
          .otherwise(0L)).as("n_contaminated"))
      .orderBy("split")
  }

  val contaminationSql: String =
    """WITH fps AS (
      |  SELECT doc_id,
      |    CASE WHEN ((doc_id % 100000000) * 2654435761) % 100 < 90 THEN 'train'
      |         WHEN ((doc_id % 100000000) * 2654435761) % 100 < 95 THEN 'val'
      |         ELSE 'test' END AS split,
      |    md5(text) AS fp
      |  FROM documents),
      |train_fps AS (SELECT DISTINCT fp, 1 AS in_train FROM fps WHERE split = 'train')
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN split <> 'train' AND in_train = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_contaminated
      |FROM fps LEFT JOIN train_fps USING (fp)
      |GROUP BY split ORDER BY split""".stripMargin

  /** PII masking (data-hygiene pass before export) — a RULE CHAIN,
    * not just digit masking (VERDICT r7 #7): email shapes →
    * `[EMAIL]`, international phone shapes → `[PHONE]`, then residual
    * digits → '#', applied in that order so the structured rules fire
    * before the catch-all destroys their anchors. The corpus carries
    * no real contact strings, so a contact blob is synthesized
    * deterministically from customer fields (same recipe as
    * `q_text_clean`'s dirty-text synthesis). Pure codegen'd
    * `regexp_replace` chain, no UDF; patterns are RE2-safe so Spark's
    * Java regex and DuckDB's RE2 agree byte-for-byte. DuckDB needs
    * the 'g' flag to match Spark's replace-all semantics. */
  def redactPii(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(col("c_name"),
      lit(" email cust"), col("c_custkey").cast(StringType),
      lit("@mail.example.com phone +1-555-"),
      lpad(col("c_custkey").cast(StringType), 4, "0"),
      lit(" ext "), col("c_custkey").cast(StringType))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
    val masked = regexp_replace(
      regexp_replace(regexp_replace(contact, emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]"),
      "[0-9]", "#")
    Tables.customer(s, dir)
      .filter(col("c_custkey") <= 100)
      .select(col("c_custkey"),
        masked.as("masked"),
        masked.contains("[EMAIL]").as("email_redacted"),
        masked.contains("[PHONE]").as("phone_redacted"),
        // the chain must leave NO raw digits or at-signs behind
        (masked.rlike("[0-9]") || masked.contains("@")).as("residual_pii"),
        length(contact).as("n_orig"))
      .orderBy("c_custkey")
  }

  val redactPiiSql: String =
    """WITH c AS (
      |  SELECT c_custkey,
      |    c_name || ' email cust' || CAST(c_custkey AS VARCHAR)
      |      || '@mail.example.com phone +1-555-'
      |      || lpad(CAST(c_custkey AS VARCHAR), 4, '0')
      |      || ' ext ' || CAST(c_custkey AS VARCHAR) AS contact
      |  FROM customer WHERE c_custkey <= 100),
      |m AS (
      |  SELECT c_custkey, contact,
      |    regexp_replace(regexp_replace(regexp_replace(contact,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |      '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
      |      '[0-9]', '#', 'g') AS masked
      |  FROM c)
      |SELECT c_custkey, masked,
      |  contains(masked, '[EMAIL]') AS email_redacted,
      |  contains(masked, '[PHONE]') AS phone_redacted,
      |  (regexp_matches(masked, '[0-9]') OR contains(masked, '@')) AS residual_pii,
      |  CAST(length(contact) AS INT) AS n_orig
      |FROM m ORDER BY c_custkey""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_containment", dedupContainment, Some(dedupContainmentSql)),
    QueryDef("q_vocab_topk", vocabTopk, Some(vocabTopkSql)),
    QueryDef("q_contamination", contamination, Some(contaminationSql)),
    QueryDef("q_repetition_ratio", repetitionRatio, Some(repetitionRatioSql)),
    QueryDef("q_shard_export", shardExport, Some(shardExportSql)),
    QueryDef("q_pack_bins", packBins, Some(packBinsSql)),
    QueryDef("q_redact_pii", redactPii, Some(redactPiiSql)),
    QueryDef("q_consistent_sample", consistentSample, Some(consistentSampleSql)),
    QueryDef("q_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    QueryDef("q_fuzzy_match", fuzzyMatch, Some(fuzzyMatchSql)),
    QueryDef("q_train_test_split", trainTestSplit, Some(trainTestSplitSql)),
    QueryDef("q_token_count", tokenCountQ, Some(tokenCountSql)),
    QueryDef("q_text_quality", textQuality, Some(textQualitySql)),
    QueryDef("q_lang_id", langIdQ, Some(langIdSql)),
    QueryDef("q_lang_trigram", langTrigramQ, Some(langTrigramSql)),
    QueryDef("q_fingerprint", fingerprintQ, Some(fingerprintSql)),
    QueryDef("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    QueryDef("q_dedup_ngram_jaccard", dedupNgramJaccard, Some(dedupNgramJaccardSql)),
    QueryDef("q_dedup_ppjoin", dedupPpjoin, Some(dedupPpjoinSql)))
}
