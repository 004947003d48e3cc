package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.multimodal.Multimodal

/** Second wave of analytics operators: grouping sets, sessionization
  * (gaps-and-islands), pivot, median, approximate distinct, and the
  * multimodal feature-extraction pipeline surfaced as a query. */
object AnalyticsQueries {

  private val dec2 = DecimalType(18, 2)

  /** GROUPING SETS: (status, priority), (status), () — one shuffle,
    * expand-based. */
  def groupingSetsQ(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(dec2)).cast(DoubleType).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Sessionization (gaps-and-islands): a new session starts after a
    * >30-minute silence per user; two windows over one
    * user-partitioned sort — no self-join. */
  def sessionizeQ(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    IngestQueries.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("gap").isNull || col("gap") > 30L * 60 * 1000000, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(wRun))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_date")).as("start_date"),
        max(col("event_date")).as("end_date"),
        sum(col("value").cast(dec2)).cast(DoubleType).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  val sessionizeSql: String =
    s"""WITH ev AS (${IngestQueries.evSql}),
       |g AS (
       |  SELECT user_id, event_date, value,
       |    epoch_us(ts) - LAG(epoch_us(ts), 1)
       |      OVER (PARTITION BY user_id ORDER BY event_id) AS gap,
       |    event_id
       |  FROM ev),
       |t AS (
       |  SELECT user_id, event_date, value,
       |    CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM g)
       |SELECT user_id, session_id, COUNT(*) AS n_events,
       |  MIN(event_date) AS start_date, MAX(event_date) AS end_date,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
       |FROM t GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: event counts per user × type (nulls of empty cells
    * coalesced to 0 so both engines agree). */
  def pivotQ(s: SparkSession, dir: String): DataFrame = {
    val p = IngestQueries.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    p.select(col("user_id") +:
        eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  val pivotSql: String = {
    val cases = eventTypes.map(t =>
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS \"$t\"")
      .mkString(",\n  ")
    s"""SELECT user_id,
       |  $cases
       |FROM (${IngestQueries.evSql})
       |GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Exact median per group (integer-valued doubles: the (a+b)/2
    * interpolation is exact in both engines). */
  def medianQ(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(median(col("l_quantity")).as("med_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy("l_returnflag")

  val medianSql: String =
    """SELECT l_returnflag, median(l_quantity) AS med_qty,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Data-quality profiling (the describe/summary operator every
    * ingest pipeline runs): per-column null counts, distinct counts,
    * and numeric min/max over orders — laid out long-form (one row
    * per metric) so the shape survives schema evolution. */
  def profileStats(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val metrics = Seq(
      ("o_orderkey_nulls", count(when(col("o_orderkey").isNull, 1)).cast(DoubleType)),
      ("o_custkey_distinct", countDistinct(col("o_custkey")).cast(DoubleType)),
      ("o_orderstatus_distinct", countDistinct(col("o_orderstatus")).cast(DoubleType)),
      ("o_totalprice_min", min(col("o_totalprice"))),
      ("o_totalprice_max", max(col("o_totalprice"))),
      ("row_count", count(lit(1)).cast(DoubleType)))
    val agg = o.agg(metrics.head._2.as(metrics.head._1),
      metrics.tail.map { case (n, c) => c.as(n) }: _*)
    // unpivot to long form: (metric, value)
    agg.selectExpr(
      s"stack(${metrics.size}, " +
        metrics.map { case (n, _) => s"'$n', $n" }.mkString(", ") +
        ") AS (metric, value)")
      .orderBy("metric")
  }

  val profileStatsSql: String =
    """SELECT metric, value FROM (
      |  SELECT
      |    CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS DOUBLE) AS o_orderkey_nulls,
      |    CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS o_custkey_distinct,
      |    CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) AS o_orderstatus_distinct,
      |    MIN(o_totalprice) AS o_totalprice_min,
      |    MAX(o_totalprice) AS o_totalprice_max,
      |    CAST(COUNT(*) AS DOUBLE) AS row_count
      |  FROM orders)
      |UNPIVOT (value FOR metric IN (o_orderkey_nulls, o_custkey_distinct,
      |  o_orderstatus_distinct, o_totalprice_min, o_totalprice_max, row_count))
      |ORDER BY metric""".stripMargin

  /** HLL++ approximate distinct (§2.11). The raw sketch value is
    * engine-specific, so the query emits the EXACT distinct count
    * plus a boolean `within_5pct` (|approx − exact| / exact ≤ 0.05);
    * the DuckDB twin emits the exact count and literal TRUE, so the
    * hash gate verifies the sketch's error bound — not just row
    * count. The sketch runs at rsd = 0.02: the DEFAULT rsd 0.05
    * breached the 5% bound at sf0.1 (all five event types landed
    * 5-7% off at cardinality 1500 — a bound chosen equal to the rsd
    * has ~32% failure probability per group by construction); at
    * 0.02 the measured error is ≤ 0.4% at every SF, giving the
    * bound a 2.5σ margin. */
  def approxDistinctQ(s: SparkSession, dir: String): DataFrame =
    IngestQueries.events(s, dir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast(DoubleType) /
          col("exact_users").cast(DoubleType) <= 0.05).as("within_5pct"),
        col("n"))
      .orderBy("event_type")

  val approxDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS within_5pct, COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Per-source doc-length quantiles: EXACT p50/p90 as integer ORDER
    * STATISTICS (the k-th smallest value at k = ⌈p·n⌉, k computed in
    * exact integer arithmetic — `(n+1) DIV 2`, `(9n+9) DIV 10` — so
    * both engines pick the identical rank; interpolating quantiles
    * were rejected because `a + frac·(b−a)` vs `(1−frac)·a + frac·b`
    * differ in the last ulp across engines), plus GK-sketch
    * `percentile_approx` verified IN-QUERY against the exact values
    * (|approx − exact| ≤ 5%·exact, multiplication form — no division
    * hazard) the same way `q_approx_distinct` gates HLL: the twin
    * emits literal TRUE, so the hash gate proves the sketch bound.
    * The sketch value itself is NOT emitted — GK merge order is
    * partition-dependent; the flag is the portable contract.
    *
    * Shapes: one shuffle on `source` serves both window functions
    * (rank + per-source count) and the final aggregate; the window
    * sorts one source per key (at 100 TB, sources are the natural
    * quantile grain; a corpus-wide quantile would instead ride
    * `percentile_approx` alone, which is a map-side-combining sketch
    * merge with NO sort — that path is what this query certifies). */
  def quantileBands(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("n_chars"), col("doc_id"))
    val w = Window.partitionBy("source").orderBy(col("n_chars").asc, col("doc_id").asc)
    val cw = Window.partitionBy("source")
    val ranked = docs
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(cw))
      .withColumn("k50", expr("(cnt + 1) DIV 2"))
      .withColumn("k90", expr("(9 * cnt + 9) DIV 10"))
    val exact = ranked.groupBy("source")
      .agg(max(col("cnt")).as("n_docs"),
        max(when(col("rn") === col("k50"), col("n_chars"))).as("p50_chars"),
        max(when(col("rn") === col("k90"), col("n_chars"))).as("p90_chars"))
    val approx = docs.groupBy("source")
      .agg(percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("a50"),
        percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("a90"))
    exact.join(approx, Seq("source"))
      .select(col("source"), col("n_docs"), col("p50_chars"), col("p90_chars"),
        (abs(col("a50") - col("p50_chars")).cast(DoubleType) <=
          lit(0.05) * col("p50_chars").cast(DoubleType)).as("p50_within_5pct"),
        (abs(col("a90") - col("p90_chars")).cast(DoubleType) <=
          lit(0.05) * col("p90_chars").cast(DoubleType)).as("p90_within_5pct"))
      .orderBy("source")
  }

  val quantileBandsSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents)
      |SELECT source, MAX(cnt) AS n_docs,
      |  MAX(CASE WHEN rn = (cnt + 1) // 2 THEN n_chars END) AS p50_chars,
      |  MAX(CASE WHEN rn = (9 * cnt + 9) // 10 THEN n_chars END) AS p90_chars,
      |  TRUE AS p50_within_5pct, TRUE AS p90_within_5pct
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Watermarked exact dedup, BATCH TWIN of the streaming T4+dedup
    * semantics ([[graft.streaming.IngestStream.dedupStream]];
    * reference horizon: `/root/reference/src/s3_processor.py:179-180`
    * — rows older than 30 days behind the newest observation are
    * outside the processing horizon): keep the FIRST-SEEN event per
    * key among events within 30 days of the corpus' max event time,
    * epoch-micros exact. This gives the last streaming-only semantic
    * a DuckDB hash gate (the `q_interval_join` recipe): first-seen =
    * `dropDuplicatesWithinWatermark`'s keep rule, the horizon filter
    * = the watermark's late-row drop rule. `n_suppressed` counts the
    * duplicates the stream would have absorbed into state.
    *
    * Scale: the horizon cut is a 1-row scalar aggregate broadcast
    * into the filter (never collected); first-seen is one window
    * over the (user_id, event_type) key — same shape as sessionize;
    * under a hot key the `max_by`/`min_by` aggregation form (the
    * shape [[graft.sink.UpsertSink]]'s merge aggregates with) is the
    * drop-in skew-immune variant. */
  def watermarkDedup(s: SparkSession, dir: String): DataFrame = {
    val horizonUs = 30L * 86400L * 1000000L
    val ev = IngestQueries.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val cut = ev.agg((max(col("us")) - horizonUs).as("cut"))
    val w = Window.partitionBy("user_id", "event_type")
    val inHorizon = ev.crossJoin(broadcast(cut)).filter(col("us") >= col("cut"))
    inHorizon
      .withColumn("rn", row_number().over(w.orderBy(col("us"), col("event_id"))))
      .withColumn("n_in_horizon", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("us").as("first_us"), col("event_id").as("first_event_id"),
        (col("n_in_horizon") - 1).as("n_suppressed"))
      .orderBy("user_id", "event_type")
  }

  val watermarkDedupSql: String =
    s"""WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |  FROM (${IngestQueries.evSql})),
      |r AS (
      |  SELECT user_id, event_type, us, event_id,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY us, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_in_horizon
      |  FROM ev
      |  WHERE us >= (SELECT MAX(us) - 2592000000000 FROM ev))
      |SELECT user_id, event_type, us AS first_us, event_id AS first_event_id,
      |  CAST(n_in_horizon - 1 AS BIGINT) AS n_suppressed
      |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Multimodal decode pipeline as a query: synthesize binary media
    * from documents, run the batched mapPartitions feature kernel,
    * aggregate per kind. Features are deterministic integers, so even
    * the mapPartitions path is oracle-checkable. */
  def multimodalQ(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesize(Tables.documents(s, dir))
    Multimodal.decodeFeatures(s, media).toDF()
      .groupBy("kind")
      .agg(count(lit(1)).as("n"),
        sum(col("byte_len").cast(LongType)).as("total_bytes"),
        sum(col("checksum")).as("total_checksum"),
        sum(col("n_frames_sampled").cast(LongType)).as("total_frames"))
      .orderBy("kind")
  }

  /** The checksum twin sums UTF-8 BYTES like the kernel (strlen is
    * already byte length in DuckDB): chars split newline-safely via
    * RE2's inline dotall `(?s).`, each codepoint expanded to its
    * UTF-8 byte sum arithmetically; empty text COALESCEs to 0 (SUM
    * over zero rows is NULL); video frames are duration-gated like
    * `sampleFrameIndices` (duration_ms = n_chars*10 → 0-char video
    * samples 0 frames). */
  val multimodalSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |    strlen(text) AS byte_len,
      |    (SELECT COALESCE(SUM(CASE
      |         WHEN cp < 128 THEN cp
      |         WHEN cp < 2048 THEN 320 + (cp // 64) + (cp % 64)
      |         WHEN cp < 65536 THEN 480 + (cp // 4096) + ((cp // 64) % 64) + (cp % 64)
      |         ELSE 624 + (cp // 262144) + ((cp // 4096) % 64) + ((cp // 64) % 64) + (cp % 64)
      |       END), 0)
      |     FROM (SELECT unicode(unnest(regexp_extract_all(text, '(?s).'))) AS cp)) AS checksum,
      |    CASE WHEN ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] = 'video'
      |           AND n_chars > 0
      |         THEN 4 ELSE 0 END AS n_frames
      |  FROM documents)
      |SELECT kind, COUNT(*) AS n,
      |  CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
      |  CAST(SUM(checksum) AS BIGINT) AS total_checksum,
      |  CAST(SUM(n_frames) AS BIGINT) AS total_frames
      |FROM m GROUP BY kind ORDER BY kind""".stripMargin

  /** Text cleaning for training pipelines: HTML tag stripping, email
    * redaction, whitespace collapse — over deterministically
    * synthesized dirty text (the corpus itself is clean). Same regex
    * semantics both engines (RE2-safe patterns, global replace). */
  def textClean(s: SparkSession, dir: String): DataFrame = {
    val dirty = concat(lit("<p>"), col("text"),
      lit("</p> <b>Contact:</b> user"), col("doc_id").cast(StringType),
      lit("@example.com  thanks!"))
    Tables.documents(s, dir)
      .withColumn("dirty", dirty)
      .withColumn("no_tags", regexp_replace(col("dirty"), "<[^>]*>", " "))
      .withColumn("clean", trim(regexp_replace(
        regexp_replace(col("no_tags"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
        "\\s+", " ")))
      .select(col("doc_id"),
        length(col("clean")).as("clean_len"),
        col("clean").contains("[EMAIL]").as("redacted"),
        substring(col("clean"), 1, 30).as("head"))
      .orderBy("doc_id")
  }

  val textCleanSql: String =
    """SELECT doc_id,
      |  CAST(length(clean) AS INTEGER) AS clean_len,
      |  contains(clean, '[EMAIL]') AS redacted,
      |  substr(clean, 1, 30) AS head
      |FROM (
      |  SELECT doc_id, trim(regexp_replace(regexp_replace(
      |    regexp_replace('<p>' || text || '</p> <b>Contact:</b> user'
      |        || CAST(doc_id AS VARCHAR) || '@example.com  thanks!',
      |      '<[^>]*>', ' ', 'g'),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\s+', ' ', 'g')) AS clean
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Conversion funnel over the event stream: per user, first signup
    * then first at-or-after purchase; one summary row. All integer
    * epoch-micro arithmetic + two exact final divisions. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = IngestQueries.events(s, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("signup_us"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    su.join(pu, Seq("user_id"), "left")
      .groupBy("user_id", "signup_us")
      .agg(min(when(col("p_us") >= col("signup_us"), col("p_us"))).as("conv_us"))
      .agg(
        count(lit(1)).as("n_signup_users"),
        count(col("conv_us")).as("n_converted"),
        (count(col("conv_us")).cast(DoubleType) / count(lit(1))).as("conversion_rate"),
        (sum(col("conv_us") - col("signup_us")).cast(DoubleType) /
          count(col("conv_us"))).as("avg_us_to_convert"))
  }

  val funnelSql: String =
    s"""WITH ev AS (${IngestQueries.evSql}),
       |su AS (SELECT user_id, MIN(epoch_us(ts)) AS signup_us FROM ev
       |       WHERE event_type = 'signup' GROUP BY user_id),
       |pu AS (SELECT user_id, epoch_us(ts) AS p_us FROM ev
       |       WHERE event_type = 'purchase'),
       |conv AS (
       |  SELECT su.user_id, su.signup_us,
       |    MIN(CASE WHEN pu.p_us >= su.signup_us THEN pu.p_us END) AS conv_us
       |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id
       |  GROUP BY su.user_id, su.signup_us)
       |SELECT COUNT(*) AS n_signup_users,
       |  COUNT(conv_us) AS n_converted,
       |  CAST(COUNT(conv_us) AS DOUBLE) / COUNT(*) AS conversion_rate,
       |  CAST(SUM(conv_us - signup_us) AS DOUBLE) / COUNT(conv_us) AS avg_us_to_convert
       |FROM conv""".stripMargin

  /** Raw-SQL interface ([[graft.Sql]]): the engine accepts plain ANSI
    * SQL over the registered views — this query's Spark side IS
    * `spark.sql(...)` of the dialect-shared text the oracle runs. */
  val sqlInterfaceText: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  def sqlInterface(s: SparkSession, dir: String): DataFrame =
    graft.Sql.run(s, dir, sqlInterfaceText)

  /** Weekly cohort retention over the event stream: users bucketed by
    * first-seen week, activity counted per (cohort week, active
    * week). Integer-exact week arithmetic. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    // One window pass for first-seen (events read once — a
    // groupBy+join-back reads the 2M-row subtree twice and measured
    // slower), then DISTINCT via two-stage aggregation: the per-user
    // pre-aggregation map-side combines to ≤ |users| rows instead of
    // countDistinct's 2× expand of every event row.
    val w = Window.partitionBy("user_id")
    val perUser = IngestQueries.events(s, dir)
      .withColumn("d_days",
        datediff(col("event_date"), lit("2024-01-01").cast(DateType)))
      .withColumn("active_week", floor(col("d_days") / 7.0).cast(IntegerType))
      .withColumn("cohort_week",
        floor(min(col("d_days")).over(w) / 7.0).cast(IntegerType))
      .groupBy("cohort_week", "active_week", "user_id")
      .agg(count(lit(1)).as("n_ev"))
    perUser.groupBy("cohort_week", "active_week")
      .agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("n_events"))
      .orderBy("cohort_week", "active_week")
  }

  val cohortRetentionSql: String =
    s"""WITH ev AS (
       |  SELECT user_id,
       |    datediff('day', DATE '2024-01-01', event_date) AS d_days
       |  FROM (${IngestQueries.evSql})),
       |t AS (
       |  SELECT user_id,
       |    CAST(floor(d_days / 7.0) AS INTEGER) AS active_week,
       |    CAST(floor(MIN(d_days) OVER (PARTITION BY user_id) / 7.0) AS INTEGER)
       |      AS cohort_week
       |  FROM ev)
       |SELECT cohort_week, active_week,
       |  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
       |FROM t GROUP BY cohort_week, active_week
       |ORDER BY cohort_week, active_week""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_sql_interface", sqlInterface, Some(sqlInterfaceText)),
    QueryDef("q_cohort_retention", cohortRetention, Some(cohortRetentionSql)),
    QueryDef("q_text_clean", textClean, Some(textCleanSql)),
    QueryDef("q_funnel", funnel, Some(funnelSql)),
    QueryDef("q_grouping_sets", groupingSetsQ, Some(groupingSetsSql)),
    QueryDef("q_sessionize", sessionizeQ, Some(sessionizeSql)),
    QueryDef("q_pivot", pivotQ, Some(pivotSql)),
    QueryDef("q_median", medianQ, Some(medianSql)),
    QueryDef("q_approx_distinct", approxDistinctQ, Some(approxDistinctSql)),
    QueryDef("q_quantile_bands", quantileBands, Some(quantileBandsSql)),
    QueryDef("q_profile_stats", profileStats, Some(profileStatsSql)),
    QueryDef("q_watermark_dedup", watermarkDedup, Some(watermarkDedupSql)),
    QueryDef("q_multimodal_features", multimodalQ, Some(multimodalSql)))
}
