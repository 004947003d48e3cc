package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.VectorOps.quantize

/** Third relational wave: outer joins, array higher-order functions,
  * correlated-scalar semantics, RANGE window frames, rank statistics. */
object AdvancedQueries {

  private val dec2 = DecimalType(18, 2)

  /** FULL OUTER join on an intentionally partial overlap: customers
    * vs the distinct set of 2001+ order custkeys. */
  def outerJoin(s: SparkSession, dir: String): DataFrame = {
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate").cast(DateType) >= lit("2001-01-01").cast(DateType))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_recent"))
    Tables.customer(s, dir)
      .join(recent, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("ck"),
        col("c_mktsegment"),
        coalesce(col("n_recent"), lit(0L)).as("n_recent"))
      .orderBy(col("ck").asc_nulls_first)
  }

  val outerJoinSql: String =
    """WITH recent AS (
      |  SELECT o_custkey, COUNT(*) AS n_recent FROM orders
      |  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01'
      |  GROUP BY o_custkey)
      |SELECT COALESCE(c_custkey, o_custkey) AS ck, c_mktsegment,
      |  COALESCE(n_recent, 0) AS n_recent
      |FROM customer FULL OUTER JOIN recent ON c_custkey = o_custkey
      |ORDER BY ck ASC NULLS FIRST""".stripMargin

  /** Array higher-order functions over the embedding column:
    * transform / filter / aggregate / slice — the `functions._` HOF
    * surface (SURVEY.md §2.8 "array functions: built-in"). All
    * integer-exact via quantization. */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        quantize(col("embedding")).as("q"))
      .select(
        col("vec_id"),
        size(col("q")).as("dim"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        size(filter(col("q"), x => x > 0)).as("n_pos"),
        array_max(col("q")).as("q_max"),
        aggregate(slice(col("q"), 1, 8), lit(0L), (acc, x) => acc + x).as("head_sum"))
      .orderBy("vec_id")

  val arrayFuncsSql: String =
    """WITH e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings)
      |SELECT vec_id,
      |  CAST(len(q) AS INTEGER) AS dim,
      |  CAST(list_sum(q) AS BIGINT) AS q_sum,
      |  CAST(len(list_filter(q, x -> x > 0)) AS INTEGER) AS n_pos,
      |  list_max(q) AS q_max,
      |  CAST(list_sum(q[1:8]) AS BIGINT) AS head_sum
      |FROM e ORDER BY vec_id""".stripMargin

  /** Correlated-scalar semantics: orders above their customer's own
    * average order value (window formulation — one shuffle, vs the
    * naive rejoin of an aggregate). */
  def aboveAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    Tables.orders(s, dir)
      .withColumn("cust_avg",
        (sum(col("o_totalprice").cast(dec2)).over(w).cast(DoubleType) /
          count(lit(1)).over(w)).as("cust_avg"))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("cust_avg"))
      .orderBy("o_orderkey")
  }

  val aboveAvgSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |      / COUNT(*) OVER w AS cust_avg
      |  FROM orders WINDOW w AS (PARTITION BY o_custkey))
      |WHERE o_totalprice > cust_avg ORDER BY o_orderkey""".stripMargin

  /** RANGE window frame: for each order, total of the same customer's
    * orders within the previous 90 days (value-range frame, not row
    * count). Epoch-day ordering keys are integer-exact. */
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("od_days"))
      .rangeBetween(-90, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("od_days", datediff(col("o_orderdate").cast(DateType),
        lit("1970-01-01").cast(DateType)))
      .withColumn("spend_90d",
        sum(col("o_totalprice").cast(dec2)).over(w).cast(DoubleType))
      .select("o_orderkey", "o_custkey", "od_days", "spend_90d")
      .orderBy("o_orderkey")
  }

  val rangeFrameSql: String =
    """SELECT o_orderkey, o_custkey, od_days,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY od_days
      |    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d
      |FROM (SELECT *, datediff('day', DATE '1970-01-01',
      |        CAST(o_orderdate AS DATE)) AS od_days FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** Ranking statistics: rank/dense_rank/percent_rank/cume_dist/ntile
    * over a deterministic total order. */
  def rankStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .filter(col("rnk") <= 50)
      .select("o_orderpriority", "rnk", "drnk", "pct_rank", "cume",
        "quartile", "o_orderkey")
      .orderBy("o_orderpriority", "rnk")
  }

  val rankStatsSql: String =
    """SELECT o_orderpriority, rnk, drnk, pct_rank, cume, quartile, o_orderkey
      |FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    RANK() OVER w AS rnk,
      |    DENSE_RANK() OVER w AS drnk,
      |    PERCENT_RANK() OVER w AS pct_rank,
      |    CUME_DIST() OVER w AS cume,
      |    NTILE(4) OVER w AS quartile
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice DESC, o_orderkey ASC))
      |WHERE rnk <= 50 ORDER BY o_orderpriority, rnk""".stripMargin

  /** Explicit CROSS JOIN (tiny×tiny — the legitimate use). */
  def crossJoinQ(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).crossJoin(Tables.region(s, dir))
      .select(col("n_name"), col("r_name"),
        (col("n_regionkey") === col("r_regionkey")).as("is_home"))
      .orderBy("n_name", "r_name")

  val crossJoinSql: String =
    """SELECT n_name, r_name, n_regionkey = r_regionkey AS is_home
      |FROM nation CROSS JOIN region ORDER BY n_name, r_name""".stripMargin

  /** Conditional aggregates: count_if / bool_or / bool_and / sum-case. */
  def conditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count_if(col("l_discount") > 0.05).as("n_discounted"),
        bool_or(col("l_quantity") > 45).as("any_bulk"),
        bool_and(col("l_quantity") > 0).as("all_positive"),
        sum(when(col("l_tax") > 0.04, col("l_quantity").cast(dec2))
          .otherwise(lit(0).cast(dec2))).cast(DoubleType).as("taxed_qty"))
      .orderBy("l_returnflag")

  val conditionalAggSql: String =
    """SELECT l_returnflag,
      |  CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
      |  bool_or(l_quantity > 45) AS any_bulk,
      |  bool_and(l_quantity > 0) AS all_positive,
      |  CAST(SUM(CASE WHEN l_tax > 0.04 THEN CAST(l_quantity AS DECIMAL(18,2))
      |           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS taxed_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Calendar truncation: month/quarter/week rollups of the order
    * stream (F-surface breadth: date_trunc semantics shared across
    * engines; output as DATE). */
  def dateTrunc(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("od", col("o_orderdate").cast(DateType))
      .groupBy(
        date_trunc("quarter", col("od")).cast(DateType).as("quarter"),
        date_trunc("month", col("od")).cast(DateType).as("month"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(dec2)).cast(DoubleType).as("total"))
      .orderBy("quarter", "month")

  val dateTruncSql: String =
    """SELECT CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS quarter,
      |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY date_trunc('quarter', CAST(o_orderdate AS DATE)),
      |         date_trunc('month', CAST(o_orderdate AS DATE))
      |ORDER BY quarter, month""".stripMargin

  /** Z-ORDER data layout (the multi-dimensional clustering behind
    * parquet/lakehouse data skipping): interleave the bits of two
    * quantized dimensions — customer and order day — into one
    * space-filling-curve key, derive the file bucket from the key's
    * TOP bits, and report each bucket's min/max RECTANGLE in both
    * dimensions. A scan filtered on EITHER dimension can then skip
    * ~√buckets of the files on that bucket metadata, where a
    * single-column sort helps one dimension and scatters the other —
    * the claim this query's output proves structurally: 16 buckets =
    * a 4×4 grid, every bucket spanning ≤ 1/4 of each dimension's
    * domain (`span_cust` ≤ 512 of [0, 2048), `span_days` ≤ 1024).
    *
    * Scale shape: the key is a fixed tree of shift/mask/add over two
    * columns — pure map-side, codegen'd, no exchange until the final
    * 16-key aggregate (map-side combining). At 100 TB the SAME key
    * feeds `repartitionByRange(zkey)` + `sortWithinPartitions(zkey)`
    * before the write, giving every output file a tight rectangle in
    * its parquet min/max footer — this query is the layout audit that
    * verifies the rectangles hold. Domain bounds are layout-time
    * constants by design (a layout job knows its key domains);
    * out-of-domain values clamp into the edge cells via `least`,
    * never lost. */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val gridBits = 8
    // [0, 2048) custkeys -> 8-bit cells of 8; [0, 4096) days -> cells
    // of 16. Key construction lives in graft.functions.ZOrder, SHARED
    // with PartitionedWriter.writeZOrdered — this query audits the
    // exact key the sink clusters files by.
    val day = datediff(col("o_orderdate").cast(DateType),
      lit("1995-01-01").cast(DateType)).cast(LongType)
    val zkey = graft.functions.ZOrder.zkey(
      col("o_custkey").cast(LongType), 3, day, 4, gridBits)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), day.as("day"), zkey.as("zkey"))
      .groupBy(shiftright(col("zkey"), 12).as("file_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("zkey")).as("z_min"), max(col("zkey")).as("z_max"),
        min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"),
        (max(col("o_custkey")) - min(col("o_custkey")) + 1).as("span_cust"),
        (max(col("day")) - min(col("day")) + 1).as("span_days"))
      .orderBy("file_bucket")
  }

  private val zkeyTermsSql: String = (0 until 8).map(i =>
    s"((((xq >> $i) & 1) << ${2 * i}) + (((yq >> $i) & 1) << ${2 * i + 1}))")
    .mkString(" + ")

  val zorderLayoutSql: String =
    s"""WITH z AS (
       |  SELECT o_custkey,
       |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
       |    LEAST(GREATEST(o_custkey, 0) >> 3, 255) AS xq,
       |    LEAST(GREATEST(CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT), 0) >> 4, 255) AS yq
       |  FROM orders),
       |k AS (SELECT o_custkey, day, $zkeyTermsSql AS zkey FROM z)
       |SELECT zkey >> 12 AS file_bucket, COUNT(*) AS n_rows,
       |  MIN(zkey) AS z_min, MAX(zkey) AS z_max,
       |  MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
       |  MIN(day) AS min_day, MAX(day) AS max_day,
       |  MAX(o_custkey) - MIN(o_custkey) + 1 AS span_cust,
       |  MAX(day) - MIN(day) + 1 AS span_days
       |FROM k GROUP BY 1 ORDER BY file_bucket""".stripMargin

  /** SCD2 (Kimball type-2) dimension history, built event-sourced:
    * compress each customer's order-status change log into validity
    * intervals — keep only rows where the attribute CHANGES
    * (lag-compare), then `valid_to` = the next kept row's
    * `valid_from` (lead; NULL = current) and a per-key version
    * counter. This is the query-side twin of
    * [[graft.sink.Scd2Sink]]'s incremental merge: the sink maintains
    * exactly this frame under arriving batches; equality of the two
    * (rebuild == incremental) is the sink spec's core property.
    *
    * Scale shape: everything is per-key windows over
    * `(o_custkey ORDER BY o_orderdate, o_orderkey)` — one shuffle on
    * the key, no global sort; the deterministic `o_orderkey`
    * tiebreak makes same-day changes reproducible. At 100 TB the
    * key-partitioned window is the standard event-sourcing shape
    * (same as sessionize). */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    // Daily change grain, last order of the day wins (max_by on the
    // unique o_orderkey — skew-immune, deterministic): the SAME event
    // dedup Scd2Sink applies, so rebuild and incremental state cannot
    // diverge on a multi-change day.
    val ch = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"),
        col("o_orderdate").cast(DateType).as("valid_from"))
      .agg(max_by(col("o_orderstatus"), col("o_orderkey")).as("status"))
    val w = Window.partitionBy("custkey").orderBy("valid_from")
    ch.withColumn("_prev", lag(col("status"), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col("status"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("custkey"), col("version"), col("status"),
        col("valid_from"), col("valid_to"))
      .orderBy("custkey", "version")
  }

  val scd2HistorySql: String =
    """WITH ch AS (
      |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS valid_from,
      |    max_by(o_orderstatus, o_orderkey) AS status
      |  FROM orders GROUP BY 1, 2),
      |chg AS (
      |  SELECT * FROM (
      |    SELECT custkey, status, valid_from,
      |      LAG(status) OVER (PARTITION BY custkey ORDER BY valid_from) AS prev
      |    FROM ch)
      |  WHERE prev IS NULL OR prev <> status)
      |SELECT custkey,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY valid_from) AS INTEGER) AS version,
      |  status, valid_from,
      |  LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from) AS valid_to
      |FROM chg
      |ORDER BY custkey, version""".stripMargin

  /** Point-in-time (as-of) lookup over the SCD2 history — the read
    * side of the type-2 pattern: each key's attribute AS OF
    * 1997-06-15, i.e. the unique version row whose validity interval
    * covers the probe date (`valid_from ≤ d < valid_to`, open row =
    * unbounded). Composes [[scd2History]] so the interval invariant
    * is exercised end-to-end: exactly one row per key qualifies when
    * the key existed on the date; keys born later drop out. At scale
    * this filter rides the same key-partitioned frame — no join, no
    * window beyond the history build. */
  def scd2Asof(s: SparkSession, dir: String): DataFrame = {
    val d = lit("1997-06-15").cast(DateType)
    scd2History(s, dir)
      .filter(col("valid_from") <= d &&
        (col("valid_to").isNull || col("valid_to") > d))
      .select(col("custkey"), col("version"), col("status"),
        col("valid_from"))
      .orderBy("custkey")
  }

  val scd2AsofSql: String =
    """WITH ch AS (
      |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS valid_from,
      |    max_by(o_orderstatus, o_orderkey) AS status
      |  FROM orders GROUP BY 1, 2),
      |chg AS (
      |  SELECT * FROM (
      |    SELECT custkey, status, valid_from,
      |      LAG(status) OVER (PARTITION BY custkey ORDER BY valid_from) AS prev
      |    FROM ch)
      |  WHERE prev IS NULL OR prev <> status),
      |hist AS (
      |  SELECT custkey,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY valid_from) AS INTEGER) AS version,
      |    status, valid_from,
      |    LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY valid_from) AS valid_to
      |  FROM chg)
      |SELECT custkey, version, status, valid_from
      |FROM hist
      |WHERE valid_from <= DATE '1997-06-15'
      |  AND (valid_to IS NULL OR valid_to > DATE '1997-06-15')
      |ORDER BY custkey""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_scd2_history", scd2History, Some(scd2HistorySql)),
    QueryDef("q_scd2_asof", scd2Asof, Some(scd2AsofSql)),
    QueryDef("q_conditional_agg", conditionalAgg, Some(conditionalAggSql)),
    QueryDef("q_zorder_layout", zorderLayout, Some(zorderLayoutSql)),
    QueryDef("q_date_trunc", dateTrunc, Some(dateTruncSql)),
    QueryDef("q_cross_join", crossJoinQ, Some(crossJoinSql)),
    QueryDef("q_outer_join", outerJoin, Some(outerJoinSql)),
    QueryDef("q_array_funcs", arrayFuncs, Some(arrayFuncsSql)),
    QueryDef("q_above_avg", aboveAvg, Some(aboveAvgSql)),
    QueryDef("q_range_frame", rangeFrame, Some(rangeFrameSql)),
    QueryDef("q_rank_stats", rankStats, Some(rankStatsSql)))
}
