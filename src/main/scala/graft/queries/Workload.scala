package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** One query definition: the Spark plan plus (when SQL-expressible) the ANSI
  * SQL a DuckDB oracle runs over the same parquet tables. Column names and
  * types must line up exactly between the two — the driver sorts columns by
  * name and hashes values.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The 20-query analytics workload of the reference
  * (/root/reference/queries.sql:6-313), re-targeted onto the driver's
  * TPC-H-ish testdata star schema (TESTDATA.md). Operator semantics are
  * preserved one-for-one (star joins, top-k per group, LAG growth, ROLLUP,
  * basket self-join, H1/H2 pivot, scalar-subquery filters, range join, view);
  * the tables and column names are the testdata's.
  *
  * Determinism discipline (oracle hash-match):
  *  - money is summed as DECIMAL(18,2) (exact, order-independent), then every
  *    OUTPUT money column is final-cast to DOUBLE in both engines — exact
  *    while |cents| < 2^53, and it renders identically on both sides
  *    (DECIMAL outputs hash-mismatch on trailing-zero cents);
  *  - ratios (avg, growth%) are computed in DOUBLE from decimal-exact inputs
  *    — IEEE ops on bit-identical inputs are bit-identical;
  *  - every ORDER BY carries full tie-breaker keys;
  *  - window ORDER BY for row_number carries tie-breakers too.
  */
object Workload {
  private val Money = DecimalType(18, 2)

  private def money(c: Column): Column = c.cast(Money)
  /** Exact, order-independent money sum kept DECIMAL — for intermediates
    * that feed further exact arithmetic (window sums, re-aggregation).
    */
  private def decSumExact(c: Column): Column = sum(money(c)).cast(Money)
  /** Output money sum: exact decimal internally, final-cast DOUBLE so both
    * engines render identically (exact while |cents| < 2^53). DECIMAL output
    * columns hash-mismatch the driver's canonicalizer on trailing-zero cents
    * — the q07/q24 pattern is the one that survives.
    */
  private[queries] def decSum(c: Column): Column = sum(money(c)).cast(DoubleType)
  /** Weekend test; Spark dayofweek: 1=Sunday .. 7=Saturday. Shared with
    * the dashboard twins (Dashboard.scala) so panel semantics cannot
    * drift from the base queries they mirror.
    */
  private[queries] def isWeekend(c: Column): Column = dayofweek(c).isin(1, 7)

  import Tables._

  /** Literal-year range predicate: same semantics as year(c) === y but
    * sargable — it reaches the parquet scan as a min/max-prunable filter,
    * where year(c) = y (a function of the column) cannot.
    */
  private[queries] def inYear(c: Column, y: Int): Column =
    c >= lit(s"$y-01-01").cast(TimestampType) &&
      c < lit(s"${y + 1}-01-01").cast(TimestampType)

  /** Orders restricted to the latest order year — the scalar MAX(year)
    * subquery realized as a broadcast 1-row cross join applied BEFORE any
    * fact-side join, so the year filter prunes the orders side first
    * instead of filtering a fully-joined fact.
    */
  private def ordersLatestYear(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val maxYr = o.agg(max(year(col("o_orderdate"))).as("max_yr"))
    o.crossJoin(broadcast(maxYr))
      .filter(year(col("o_orderdate")) === col("max_yr"))
      .drop("max_yr")
  }

  // Shared oracle fragments (DuckDB dialect).
  private[queries] val RevSum = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
  private[queries] val QtySum = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
  /** Decimal-typed variant for CTEs whose sums feed further exact math. */
  private val RevSumDec = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))"

  /** Q1 analog (/root/reference/queries.sql:6-12): top revenue parts split by
    * weekday/weekend with monthly drill-down for one year; global top-5 after
    * a multi-key sort.
    */
  val q01 = QueryDef(
    "q01_top_parts_month_weekend",
    (s, dir) => {
      val li = lineitem(s, dir).filter(inYear(col("l_shipdate"), 2000))
      li.join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(
          col("l_partkey").as("part_key"), col("p_brand"),
          month(col("l_shipdate")).as("mnth"),
          isWeekend(col("l_shipdate")).as("is_weekend"),
          money(col("l_extendedprice")).as("amt"))
        .groupBy("part_key", "p_brand", "mnth", "is_weekend")
        .agg(sum(col("amt")).cast(DoubleType).as("total_revenue"))
        .orderBy(col("mnth"), col("is_weekend"),
          col("total_revenue").desc, col("part_key"))
        .limit(5)
    },
    Some(s"""
      SELECT l_partkey AS part_key, p_brand,
             CAST(month(l_shipdate) AS INTEGER) AS mnth,
             isodow(l_shipdate) IN (6,7) AS is_weekend,
             $RevSum AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) = 2000
      GROUP BY 1,2,3,4
      ORDER BY mnth, is_weekend, total_revenue DESC, part_key
      LIMIT 5"""))

  /** Q2 analog (queries.sql:17-20): demographics → revenue + units by
    * market segment and customer nation.
    */
  val q02 = QueryDef(
    "q02_revenue_by_segment_nation",
    (s, dir) => {
      lineitem(s, dir)
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
          decSum(col("l_extendedprice")).as("total_revenue"),
          decSum(col("l_quantity")).as("units_sold"))
        .orderBy("c_mktsegment", "c_nationkey")
    },
    Some(s"""
      SELECT c_mktsegment, c_nationkey,
             $RevSum AS total_revenue, $QtySum AS units_sold
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY 1,2 ORDER BY c_mktsegment, c_nationkey"""))

  /** Q3 analog (queries.sql:24-28): category sales by order priority. */
  val q03 = QueryDef(
    "q03_type_by_priority",
    (s, dir) => {
      lineitem(s, dir)
        .join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("p_type", "o_orderpriority")
        .agg(
          decSum(col("l_extendedprice")).as("total_revenue"),
          decSum(col("l_quantity")).as("units_sold"))
        .orderBy(col("p_type"), col("total_revenue").desc, col("o_orderpriority"))
    },
    Some(s"""
      SELECT p_type, o_orderpriority,
             $RevSum AS total_revenue, $QtySum AS units_sold
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1,2 ORDER BY p_type, total_revenue DESC, o_orderpriority"""))

  /** Q4 analog (queries.sql:32-40): quarterly trend for the latest year —
    * scalar-subquery-as-filter realized as a broadcast 1-row cross join so no
    * data leaves the cluster.
    */
  val q04 = QueryDef(
    "q04_quarterly_latest_year",
    (s, dir) => {
      lineitem(s, dir)
        .join(ordersLatestYear(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(quarter(col("o_orderdate")).as("quarter_num"), col("c_mktsegment"))
        .agg(
          decSum(col("l_extendedprice")).as("total_revenue"),
          decSum(col("l_quantity")).as("units_sold"))
        .orderBy("quarter_num", "c_mktsegment")
    },
    Some(s"""
      SELECT CAST(quarter(o_orderdate) AS INTEGER) AS quarter_num, c_mktsegment,
             $RevSum AS total_revenue, $QtySum AS units_sold
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)
      GROUP BY 1,2 ORDER BY quarter_num, c_mktsegment"""))

  /** Q5 analog (queries.sql:45-57): top-5 market segments per part type —
    * aggregate CTE then ROW_NUMBER per group with tie-breaker.
    */
  val q05 = QueryDef(
    "q05_top_segments_per_type",
    (s, dir) => {
      val base = lineitem(s, dir)
        .join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("p_type", "c_mktsegment")
        .agg(decSum(col("l_extendedprice")).as("total_revenue"))
      val w = Window.partitionBy(col("p_type"))
        .orderBy(col("total_revenue").desc, col("c_mktsegment"))
      base.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("p_type", "rn")
    },
    Some(s"""
      WITH base AS (
        SELECT p_type, c_mktsegment, $RevSum AS total_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1,2)
      SELECT * FROM (
        SELECT p_type, c_mktsegment, total_revenue,
               CAST(ROW_NUMBER() OVER (PARTITION BY p_type
                 ORDER BY total_revenue DESC, c_mktsegment) AS INTEGER) AS rn
        FROM base) t
      WHERE rn <= 5 ORDER BY p_type, rn"""))

  /** Q5 again through the custom TypedImperativeAggregate
    * (graft.functions.TopKAggregate) instead of the window operator: the
    * bounded-heap aggregate shuffles at most k rows per group (map-side
    * combine), where the window realization sorts every row of every
    * group. Shares q05's oracle — the two plans must agree exactly.
    * Measured crossover (`Test/runMain graft.ScaleProbe topk`, re-measured r9
    * at q05's real group count 150): DEAD HEAT at 2M rows (×1.01);
    * aggregate wins ×1.63 at 20M and ×1.93 at 60M — the crossover sits
    * near ~13k rows/group and the gap grows with rows-per-group, which
    * is the 100 TB direction. At bench scale (600k lineitem, ~100-row
    * post-join agg frame) the WINDOW form is the right pick — q05b costs
    * ~×1.6 of q05 there because the staging checkpoint isn't free — so
    * q05 stays the primary and this twin is the documented
    * large-cardinality alternative, not a replacement.
    */
  val q05b = QueryDef(
    "q05_top_segments_topk_agg",
    (s, dir) => {
      // base feeds BOTH the top-k aggregate and the join-back probe —
      // stage it once (the q29 discipline): without the checkpoint the
      // broadcast build side re-runs the whole 4-way join (the SMJ form
      // had deduped it via ReuseExchange; bench r8: 1.1 s → 2.8 s when
      // the hint alone broke the reuse)
      val base = lineitem(s, dir)
        .join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("p_type", "c_mktsegment")
        .agg(decSum(col("l_extendedprice")).as("total_revenue"))
        .localCheckpoint(false)
      val tops = base.groupBy("p_type")
        .agg(graft.functions.TopKAggregate.top_k(
          col("total_revenue").cast(DoubleType), col("c_mktsegment"), 5)
          .as("top"))
        .select(col("p_type"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("p_type"), col("t.tag").as("c_mktsegment"),
          (col("pos") + 1).cast(IntegerType).as("rn"))
      // tops is ≤ k rows per p_type (the aggregate's whole point) but
      // post-agg stats are opaque — without the hint the join-back
      // becomes a sort-merge join (PlanSweep SMJ-inventory finding)
      base.join(broadcast(tops), Seq("p_type", "c_mktsegment"))
        .select(col("p_type"), col("c_mktsegment"), col("total_revenue"),
          col("rn"))
        .orderBy("p_type", "rn")
    },
    q05.oracle)

  /** Q6 analog (queries.sql:61-70): activity in the 6 months up to the max
    * order date — range join against a 1-row scalar via broadcast cross join.
    */
  val q06 = QueryDef(
    "q06_last_six_months",
    (s, dir) => {
      val o = orders(s, dir)
      val maxD = o.agg(max(col("o_orderdate")).as("latest"))
      val oRecent = o.crossJoin(broadcast(maxD))
        .filter(col("o_orderdate")
          .between(expr("latest - INTERVAL '6' MONTH"), col("latest")))
        .drop("latest")
      lineitem(s, dir)
        .join(oRecent, col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(
          col("c_mktsegment"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mnth"))
        .agg(
          decSum(col("l_extendedprice")).as("total_revenue"),
          decSum(col("l_quantity")).as("units_sold"))
        .orderBy("yr", "mnth", "c_mktsegment")
    },
    Some(s"""
      SELECT c_mktsegment, CAST(year(o_orderdate) AS INTEGER) AS yr,
             CAST(month(o_orderdate) AS INTEGER) AS mnth,
             $RevSum AS total_revenue, $QtySum AS units_sold
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate BETWEEN
            (SELECT max(o_orderdate) FROM orders) - INTERVAL 6 MONTH
        AND (SELECT max(o_orderdate) FROM orders)
      GROUP BY 1,2,3 ORDER BY yr, mnth, c_mktsegment"""))

  /** Q7 analog (queries.sql:75-78): average purchase amount by two low-card
    * dims. Average = exact decimal sum cast to double / count — bit-stable.
    */
  val q07 = QueryDef(
    "q07_avg_by_size_flag",
    (s, dir) => {
      lineitem(s, dir)
        .join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy("p_size", "l_returnflag")
        .agg(
          (sum(money(col("l_extendedprice"))).cast(DoubleType) / count(lit(1)))
            .as("avg_purchase_amount"),
          count(lit(1)).as("n_items"))
        .orderBy("p_size", "l_returnflag")
    },
    Some("""
      SELECT p_size, l_returnflag,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_purchase_amount,
             COUNT(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1,2 ORDER BY p_size, l_returnflag"""))

  /** Q8 analog (queries.sql:83-97): top-5 customer nations per part type. */
  val q08 = QueryDef(
    "q08_top_nations_per_type",
    (s, dir) => {
      val base = lineitem(s, dir)
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy("p_type", "n_name")
        .agg(decSum(col("l_extendedprice")).as("total_revenue"))
      val w = Window.partitionBy(col("p_type"))
        .orderBy(col("total_revenue").desc, col("n_name"))
      base.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("p_type", "rn")
    },
    Some(s"""
      WITH base AS (
        SELECT p_type, n_name, $RevSum AS total_revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1,2)
      SELECT * FROM (
        SELECT p_type, n_name, total_revenue,
               CAST(ROW_NUMBER() OVER (PARTITION BY p_type
                 ORDER BY total_revenue DESC, n_name) AS INTEGER) AS rn
        FROM base) t
      WHERE rn <= 5 ORDER BY p_type, rn"""))

  /** Growth% shared shape (queries.sql:113-119 et al.): LAG then
    * ((rev - prev) / NULLIF(prev,0)) * 100, computed in double from
    * decimal-exact inputs, unrounded for bit-stability.
    */
  private[queries] def growthPct(revD: Column, prevD: Column): Column =
    (revD - prevD) / when(prevD === 0.0, lit(null)).otherwise(prevD) * 100

  /** Q9 analog (queries.sql:102-121): month-over-month revenue growth per
    * brand in the latest year.
    */
  val q09 = QueryDef(
    "q09_monthly_growth_by_brand",
    (s, dir) => {
      val monthly = lineitem(s, dir)
        .join(ordersLatestYear(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), month(col("o_orderdate")).as("mnth"))
        .agg(decSum(col("l_extendedprice")).as("revenue"))
      val w = Window.partitionBy(col("p_brand")).orderBy(col("mnth"))
      monthly
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("growth_pct",
          growthPct(col("revenue").cast(DoubleType),
            col("prev_revenue").cast(DoubleType)))
        .orderBy("p_brand", "mnth")
    },
    Some(s"""
      WITH monthly AS (
        SELECT p_brand, CAST(month(o_orderdate) AS INTEGER) AS mnth,
               $RevSum AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)
        GROUP BY 1,2)
      SELECT p_brand, mnth, revenue,
             LAG(revenue) OVER (PARTITION BY p_brand ORDER BY mnth) AS prev_revenue,
             (CAST(revenue AS DOUBLE)
               - CAST(LAG(revenue) OVER (PARTITION BY p_brand ORDER BY mnth) AS DOUBLE))
               / NULLIF(CAST(LAG(revenue) OVER (PARTITION BY p_brand ORDER BY mnth) AS DOUBLE), 0)
               * 100 AS growth_pct
      FROM monthly ORDER BY p_brand, mnth"""))

  /** Q10 analog (queries.sql:125-132): weekend vs weekday revenue by segment
    * for the latest year (scalar-subquery filter).
    */
  val q10 = QueryDef(
    "q10_weekend_by_segment",
    (s, dir) => {
      lineitem(s, dir)
        .join(ordersLatestYear(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), isWeekend(col("l_shipdate")).as("is_weekend"))
        .agg(decSum(col("l_extendedprice")).as("total_revenue"))
        .orderBy("c_mktsegment", "is_weekend")
    },
    Some(s"""
      SELECT c_mktsegment, isodow(l_shipdate) IN (6,7) AS is_weekend,
             $RevSum AS total_revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)
      GROUP BY 1,2 ORDER BY c_mktsegment, is_weekend"""))

  /** Q11 analog (queries.sql:137-154): top-5 parts per (month, weekend) cell
    * for one year — the dashboard's headline query.
    */
  val q11 = QueryDef(
    "q11_top_parts_per_month_weekend",
    (s, dir) => {
      val li = lineitem(s, dir).filter(inYear(col("l_shipdate"), 2000))
      val base = li.join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(
          col("l_partkey").as("part_key"), col("p_brand"),
          month(col("l_shipdate")).as("mnth"),
          isWeekend(col("l_shipdate")).as("is_weekend"),
          money(col("l_extendedprice")).as("amt"))
        .groupBy("part_key", "p_brand", "mnth", "is_weekend")
        .agg(sum(col("amt")).cast(DoubleType).as("revenue"))
      val w = Window.partitionBy(col("mnth"), col("is_weekend"))
        .orderBy(col("revenue").desc, col("part_key"))
      base.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy("mnth", "is_weekend", "rn")
    },
    Some(s"""
      WITH base AS (
        SELECT l_partkey AS part_key, p_brand,
               CAST(month(l_shipdate) AS INTEGER) AS mnth,
               isodow(l_shipdate) IN (6,7) AS is_weekend,
               $RevSum AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE year(l_shipdate) = 2000
        GROUP BY 1,2,3,4)
      SELECT * FROM (
        SELECT part_key, p_brand, mnth, is_weekend, revenue,
               CAST(ROW_NUMBER() OVER (PARTITION BY mnth, is_weekend
                 ORDER BY revenue DESC, part_key) AS INTEGER) AS rn
        FROM base) t
      WHERE rn <= 5 ORDER BY mnth, is_weekend, rn"""))

  /** Q12 analog (queries.sql:159-171): quarterly revenue growth per customer
    * nation for one year.
    */
  val q12 = QueryDef(
    "q12_quarterly_growth_by_nation",
    (s, dir) => {
      val quarterly = lineitem(s, dir)
        .join(orders(s, dir).filter(inYear(col("o_orderdate"), 2000)),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), quarter(col("o_orderdate")).as("quarter_num"))
        .agg(decSum(col("l_extendedprice")).as("revenue"))
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("quarter_num"))
      quarterly
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("growth_rate_pct",
          growthPct(col("revenue").cast(DoubleType),
            col("prev_revenue").cast(DoubleType)))
        .orderBy("c_nationkey", "quarter_num")
    },
    Some(s"""
      WITH quarterly AS (
        SELECT c_nationkey, CAST(quarter(o_orderdate) AS INTEGER) AS quarter_num,
               $RevSum AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE year(o_orderdate) = 2000
        GROUP BY 1,2)
      SELECT c_nationkey, quarter_num, revenue,
             LAG(revenue) OVER (PARTITION BY c_nationkey ORDER BY quarter_num) AS prev_revenue,
             (CAST(revenue AS DOUBLE)
               - CAST(LAG(revenue) OVER (PARTITION BY c_nationkey ORDER BY quarter_num) AS DOUBLE))
               / NULLIF(CAST(LAG(revenue) OVER (PARTITION BY c_nationkey ORDER BY quarter_num) AS DOUBLE), 0)
               * 100 AS growth_rate_pct
      FROM quarterly ORDER BY c_nationkey, quarter_num"""))

  /** Q13 analog (queries.sql:176-181): supplier-side star join — supplier
    * nation × brand revenue contribution.
    */
  val q13 = QueryDef(
    "q13_supplier_nation_brand",
    (s, dir) => {
      lineitem(s, dir)
        .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy("n_name", "p_brand")
        .agg(decSum(col("l_extendedprice")).as("total_revenue"))
        .orderBy(col("n_name"), col("total_revenue").desc, col("p_brand"))
    },
    Some(s"""
      SELECT n_name, p_brand, $RevSum AS total_revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN part ON l_partkey = p_partkey
      GROUP BY 1,2 ORDER BY n_name, total_revenue DESC, p_brand"""))

  /** Q14 analog (queries.sql:186-197): seasonal bucketing via searched CASE
    * in both SELECT and GROUP BY.
    */
  val q14 = QueryDef(
    "q14_seasonal_by_brand",
    (s, dir) => {
      val season = when(month(col("l_shipdate")).isin(3, 4, 5), "Spring")
        .when(month(col("l_shipdate")).isin(6, 7, 8), "Summer")
        .when(month(col("l_shipdate")).isin(9, 10, 11), "Fall")
        .otherwise("Winter")
      lineitem(s, dir)
        .join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), season.as("season"))
        .agg(decSum(col("l_extendedprice")).as("total_revenue"))
        .orderBy("p_brand", "season")
    },
    Some(s"""
      SELECT p_brand,
             CASE WHEN month(l_shipdate) IN (3,4,5) THEN 'Spring'
                  WHEN month(l_shipdate) IN (6,7,8) THEN 'Summer'
                  WHEN month(l_shipdate) IN (9,10,11) THEN 'Fall'
                  ELSE 'Winter' END AS season,
             $RevSum AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1,2 ORDER BY p_brand, season"""))

  /** Q15 analog (queries.sql:203-230): month-to-month revenue volatility per
    * supplier — LAG with two-column ordering.
    */
  val q15 = QueryDef(
    "q15_supplier_monthly_volatility",
    (s, dir) => {
      val monthly = lineitem(s, dir)
        .groupBy(
          col("l_suppkey"),
          year(col("l_shipdate")).as("yr"),
          month(col("l_shipdate")).as("mnth"))
        .agg(decSum(col("l_extendedprice")).as("revenue"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("yr"), col("mnth"))
      monthly
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("volatility_pct",
          growthPct(col("revenue").cast(DoubleType),
            col("prev_revenue").cast(DoubleType)))
        .orderBy("l_suppkey", "yr", "mnth")
    },
    Some(s"""
      WITH monthly AS (
        SELECT l_suppkey, CAST(year(l_shipdate) AS INTEGER) AS yr,
               CAST(month(l_shipdate) AS INTEGER) AS mnth,
               $RevSum AS revenue
        FROM lineitem GROUP BY 1,2,3)
      SELECT l_suppkey, yr, mnth, revenue,
             LAG(revenue) OVER (PARTITION BY l_suppkey ORDER BY yr, mnth) AS prev_revenue,
             (CAST(revenue AS DOUBLE)
               - CAST(LAG(revenue) OVER (PARTITION BY l_suppkey ORDER BY yr, mnth) AS DOUBLE))
               / NULLIF(CAST(LAG(revenue) OVER (PARTITION BY l_suppkey ORDER BY yr, mnth) AS DOUBLE), 0)
               * 100 AS volatility_pct
      FROM monthly ORDER BY l_suppkey, yr, mnth"""))

  /** Q16 analog (queries.sql:236-243): market-basket pairs — self-join on the
    * order key with a `<` residual (equi-keyed hash join, never a cartesian),
    * then global top-5. FANOUT CONTRACT: the pair stage is quadratic in
    * items-per-order (TPC-H structural bound: 7); the opt-in
    * [[graft.operators.PairFanout]] tripwire (`graft.pairFanout.assert`)
    * rides the same l_orderkey exchange and names any mega-order instead
    * of letting it straggle.
    */
  val q16 = QueryDef(
    "q16_basket_pairs",
    (s, dir) => {
      // r16: fanout before the CPU-heavy pair stage — under a broadcast
      // self-join the whole pair pipeline otherwise runs at the scan's
      // parallelism (ONE non-empty partition on single-row-group input).
      // r17 note: PairFanout.orderedPairs (bucket-then-explode) was
      // A/B'd here and REVERTED — both join legs REUSE the single
      // fanoutBy exchange (same key, same width), so the join form pays
      // no second shuffle, and the bucket form's collect_list pass
      // measured slower (sf0.1 interleaved: join 1.16 s vs buckets
      // 1.32 s; sf1 tie). orderedPairs wins where the pair stream feeds
      // heavier downstream consumers (q33/q39/q43).
      val li = graft.operators.PairFanout.guard(s, Tables.fanoutBy(s,
        lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey")), "l_orderkey")
      val a = li.select(col("l_orderkey"), col("l_partkey").as("product_a"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("product_b"))
      a.join(b, Seq("l_orderkey"))
        .filter(col("product_a") < col("product_b"))
        .groupBy("product_a", "product_b")
        .agg(count(lit(1)).as("times_bought_together"))
        .orderBy(col("times_bought_together").desc,
          col("product_a"), col("product_b"))
        .limit(5)
    },
    Some("""
      SELECT a.l_partkey AS product_a, b.l_partkey AS product_b,
             COUNT(*) AS times_bought_together
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1,2
      ORDER BY times_bought_together DESC, product_a, product_b
      LIMIT 5"""))

  /** Q17 analog (queries.sql:250-257): ROLLUP over (region, nation, segment,
    * year) for the latest year — hierarchical subtotal rows with NULL markers.
    */
  val q17 = QueryDef(
    "q17_rollup_region_nation_segment",
    (s, dir) => {
      lineitem(s, dir)
        .join(ordersLatestYear(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .withColumn("yr", year(col("o_orderdate")))
        .rollup(col("r_name"), col("n_name"), col("c_mktsegment"), col("yr"))
        .agg(decSum(col("l_extendedprice")).as("yearly_revenue"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first,
          col("c_mktsegment").asc_nulls_first, col("yr").asc_nulls_first)
    },
    Some(s"""
      SELECT r_name, n_name, c_mktsegment, CAST(year(o_orderdate) AS INTEGER) AS yr,
             $RevSum AS yearly_revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)
      GROUP BY ROLLUP (r_name, n_name, c_mktsegment, yr)
      ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST,
               c_mktsegment ASC NULLS FIRST, yr ASC NULLS FIRST"""))

  /** Q18 analog (queries.sql:263-275): H1/H2 pivot-by-CASE with reference
    * NULL semantics — SUM(CASE WHEN … END) with no ELSE stays NULL for an
    * empty bucket (`when` without `otherwise`).
    */
  val q18 = QueryDef(
    "q18_h1_h2_pivot",
    (s, dir) => {
      val m = month(col("o_orderdate"))
      val amt = money(col("l_extendedprice"))
      val qty = money(col("l_quantity"))
      lineitem(s, dir)
        .join(ordersLatestYear(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sum(when(m.between(1, 6), amt)).cast(DoubleType).as("h1_revenue"),
          sum(when(m.between(7, 12), amt)).cast(DoubleType).as("h2_revenue"),
          sum(amt).cast(DoubleType).as("total_revenue"),
          sum(when(m.between(1, 6), qty)).cast(DoubleType).as("h1_quantity"),
          sum(when(m.between(7, 12), qty)).cast(DoubleType).as("h2_quantity"),
          sum(qty).cast(DoubleType).as("total_quantity"))
        .orderBy(col("total_revenue").desc, col("p_brand"))
    },
    Some("""
      SELECT p_brand,
        CAST(SUM(CASE WHEN month(o_orderdate) BETWEEN 1 AND 6
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS h1_revenue,
        CAST(SUM(CASE WHEN month(o_orderdate) BETWEEN 7 AND 12
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS h2_revenue,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        CAST(SUM(CASE WHEN month(o_orderdate) BETWEEN 1 AND 6
          THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS h1_quantity,
        CAST(SUM(CASE WHEN month(o_orderdate) BETWEEN 7 AND 12
          THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS h2_quantity,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)
      GROUP BY 1 ORDER BY total_revenue DESC, p_brand"""))

  /** Q19 analog (queries.sql:281-300): daily revenue spikes — join-back of a
    * per-part average onto per-part-per-day totals, keeping only spike rows.
    */
  val q19 = QueryDef(
    "q19_daily_spikes",
    (s, dir) => {
      // one aggregation + a window instead of the reference's re-aggregate
      // + join-back: the heavy daily rollup is computed once, not twice,
      // and the self-join disappears — same rows, half the work at scale
      val daily = lineitem(s, dir)
        .groupBy(col("l_partkey").as("part_key"),
          col("l_shipdate").cast(DateType).as("ship_day"))
        .agg(decSumExact(col("l_extendedprice")).as("daily_total"))
      val byPart = Window.partitionBy(col("part_key"))
      daily
        .withColumn("avg_daily_sales",
          sum(col("daily_total")).over(byPart).cast(DoubleType)
            / count(lit(1)).over(byPart))
        .filter(col("daily_total").cast(DoubleType) > col("avg_daily_sales") * 2)
        .withColumn("status", lit("SPIKE"))
        .select(col("part_key"), col("ship_day"),
          col("daily_total").cast(DoubleType).as("daily_total"),
          col("avg_daily_sales"), col("status"))
        .orderBy("part_key", "ship_day")
    },
    Some(s"""
      WITH daily AS (
        SELECT l_partkey AS part_key, CAST(l_shipdate AS DATE) AS ship_day,
               $RevSumDec AS daily_total
        FROM lineitem GROUP BY 1,2),
      pavg AS (
        SELECT part_key,
               CAST(SUM(daily_total) AS DOUBLE) / COUNT(*) AS avg_daily_sales
        FROM daily GROUP BY 1)
      SELECT d.part_key, d.ship_day,
             CAST(d.daily_total AS DOUBLE) AS daily_total, pavg.avg_daily_sales,
             'SPIKE' AS status
      FROM daily d JOIN pavg USING (part_key)
      WHERE CAST(d.daily_total AS DOUBLE) > pavg.avg_daily_sales * 2
      ORDER BY part_key, ship_day"""))

  /** Q20 analog (queries.sql:306-313): a named reusable view of quarterly
    * revenue per nation, then a full scan of it.
    */
  val q20 = QueryDef(
    "q20_nation_quarterly_view",
    (s, dir) => {
      lineitem(s, dir)
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(
          col("n_nationkey"), col("n_name"),
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("quarter_num"))
        .agg(decSum(col("l_extendedprice")).as("total_quarterly_sales"))
        .createOrReplaceTempView("nation_quarterly_sales")
      s.table("nation_quarterly_sales")
        .orderBy("n_name", "yr", "quarter_num", "n_nationkey")
    },
    Some(s"""
      WITH nation_quarterly_sales AS (
        SELECT n_nationkey, n_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(quarter(o_orderdate) AS INTEGER) AS quarter_num,
               $RevSum AS total_quarterly_sales
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1,2,3,4)
      SELECT * FROM nation_quarterly_sales
      ORDER BY n_name, yr, quarter_num, n_nationkey"""))

  // ---- Capabilities beyond the reference workload (SURVEY.md §2.4 notes
  // these "come free with Spark" — demonstrated and oracle-checked here) ----

  /** Running-total window frame (ROWS BETWEEN — the reference uses only
    * default frames): cumulative revenue per nation across months.
    */
  val q21 = QueryDef(
    "q21_cumulative_revenue",
    (s, dir) => {
      val monthly = lineitem(s, dir)
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mnth"))
        .agg(decSumExact(col("l_extendedprice")).as("revenue"))
      val w = Window.partitionBy(col("n_name")).orderBy(col("yr"), col("mnth"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the running sum folds DECIMALs (exact, engine-order-independent);
      // only the rendered outputs drop to DOUBLE
      monthly
        .withColumn("cumulative_revenue",
          sum(col("revenue")).over(w).cast(DoubleType))
        .withColumn("revenue", col("revenue").cast(DoubleType))
        .orderBy("n_name", "yr", "mnth")
    },
    Some(s"""
      WITH monthly AS (
        SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mnth,
               $RevSumDec AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1,2,3)
      SELECT n_name, yr, mnth, CAST(revenue AS DOUBLE) AS revenue,
             CAST(SUM(revenue) OVER (PARTITION BY n_name ORDER BY yr, mnth
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS cumulative_revenue
      FROM monthly ORDER BY n_name, yr, mnth"""))

  /** CUBE with grouping_id disambiguation (reference has only ROLLUP). */
  val q22 = QueryDef(
    "q22_cube_region_year",
    (s, dir) => {
      // r16 fanout: the CUBE's Expand (4 sets) + partial agg run above
      // the broadcast joins at scan parallelism (1 task) without it
      Tables.fanoutBy(s, lineitem(s, dir), col("l_orderkey"))
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .withColumn("yr", year(col("o_orderdate")))
        .cube(col("n_name"), col("yr"))
        .agg(decSum(col("l_extendedprice")).as("total_revenue"),
          grouping_id().cast(IntegerType).as("gid"))
        .orderBy(col("gid"), col("n_name").asc_nulls_first,
          col("yr").asc_nulls_first)
    },
    Some(s"""
      SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
             $RevSum AS total_revenue,
             CAST(GROUPING_ID(n_name, CAST(year(o_orderdate) AS INTEGER))
               AS INTEGER) AS gid
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY CUBE (n_name, CAST(year(o_orderdate) AS INTEGER))
      ORDER BY gid, n_name ASC NULLS FIRST, yr ASC NULLS FIRST"""))

  /** Exact DISTINCT aggregates (absent from the reference workload). */
  val q23 = QueryDef(
    "q23_distinct_customers",
    (s, dir) => {
      orders(s, dir)
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("total_value"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment,
             COUNT(DISTINCT o_custkey) AS n_customers,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_value
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY c_mktsegment"""))

  /** Exact median composed identically in both engines (middle-element
    * selection + explicit double average), sidestepping engine-specific
    * percentile interpolation — order-value median per market segment.
    * This is the bench suite's most expensive query (two window sorts per
    * segment — inherent to exactness); the 100 TB scale path is
    * percentile_approx (one-pass mergeable GK sketch), whose accuracy vs
    * this exact plan is pinned in MedianScalePathSpec.
    */
  val q24 = QueryDef(
    "q24_median_order_value",
    (s, dir) => {
      val o = orders(s, dir)
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), money(col("o_totalprice")).as("v"))
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("v"))
      val ranked = o
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("c_mktsegment"))))
      ranked
        .filter(col("rn") === expr("(n + 1) div 2")
          || col("rn") === expr("(n + 2) div 2"))
        .groupBy("c_mktsegment")
        .agg((sum(col("v")).cast(DoubleType) / count(lit(1))).as("median_order_value"),
          max(col("n")).as("n_orders"))
        .orderBy("c_mktsegment")
    },
    Some("""
      WITH ranked AS (
        SELECT c_mktsegment, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                 ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS rn,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey)
      SELECT c_mktsegment,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS median_order_value,
             MAX(n) AS n_orders
      FROM ranked
      WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      GROUP BY 1 ORDER BY c_mktsegment"""))

  /** Left-anti join — NOT EXISTS (absent from the reference; J-family
    * completion): customers inactive in the latest order year (churn
    * candidates — non-degenerate at every scale factor).
    */
  val q25 = QueryDef(
    "q25_customers_inactive_latest_year",
    (s, dir) => {
      customer(s, dir)
        .join(ordersLatestYear(s, dir),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_mktsegment
      FROM customer
      WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders))
      ORDER BY c_custkey"""))

  /** Full-outer join with null-coalesced keys (absent from the reference):
    * nation activity union across customer-side and supplier-side revenue.
    */
  val q26 = QueryDef(
    "q26_full_outer_nation_activity",
    (s, dir) => {
      val custSide = orders(s, dir)
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation_key"))
        .agg(decSum(col("o_totalprice")).as("customer_revenue"))
      val suppSide = lineitem(s, dir)
        .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nation_key"))
        .agg(decSum(col("l_extendedprice")).as("supplier_revenue"))
      custSide.join(suppSide, Seq("nation_key"), "full_outer")
        .orderBy("nation_key")
    },
    Some("""
      WITH cust AS (
        SELECT c_nationkey AS nation_key,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS customer_revenue
        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
      supp AS (
        SELECT s_nationkey AS nation_key,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS supplier_revenue
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1)
      SELECT COALESCE(cust.nation_key, supp.nation_key) AS nation_key,
             customer_revenue, supplier_revenue
      FROM cust FULL OUTER JOIN supp ON cust.nation_key = supp.nation_key
      ORDER BY nation_key"""))

  /** HLL sketch next to the exact count — on the ENGINE'S OWN portable
    * HyperLogLog ([[graft.operators.HllDistinct]]: md5-derived 48-bit
    * hash, bin()-bitlength ranks, literal-table 2^−ρ terms and
    * linear-counting values) instead of Spark's `approx_count_distinct`,
    * whose Spark-internal HLL++ register layout no other engine
    * replays: every register maximum AND the final estimate are now a
    * pure function of (values, md5, p), so DuckDB reproduces the DOUBLE
    * value-for-value and the row carries a TRUE oracle — the last
    * `no_oracle` row closed (r12 verdict #7).
    *
    * Shape: one register shuffle keyed (priority, idx) with map-side
    * MAX combine — ≤ m = 1024 rows per priority survive, the mergeable-
    * sketch property — then a ≤ m-row final agg; the exact count rides
    * its own dedup'd partial agg and joins back on the 5-value
    * priority domain.
    */
  val q27 = QueryDef(
    "q27_approx_distinct",
    (s, dir) => {
      val o = orders(s, dir)
        .select(col("o_orderpriority"), col("o_custkey"))
        // countDistinct semantics: NULL keys don't tally
        .filter(col("o_custkey").isNotNull)
      val exact = o.distinct().groupBy("o_orderpriority")
        .agg(count(lit(1)).as("exact_customers"))
      val approx = graft.operators.HllDistinct
        .estimate(o, Seq("o_orderpriority"), col("o_custkey"))
        .withColumnRenamed("approx_distinct", "approx_customers")
      exact.join(approx, Seq("o_orderpriority"))
        .orderBy("o_orderpriority")
    },
    Some(s"""
      WITH d AS (
        SELECT DISTINCT o_orderpriority AS pr, o_custkey AS k
        FROM orders WHERE o_custkey IS NOT NULL),
      h AS (
        SELECT pr, list_reduce(
          list_transform(generate_series(1, 12),
            i -> CAST(strpos('0123456789abcdef',
                   substr(md5(CAST(k AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
          (a, b) -> a * 16 + b) AS hv
        FROM d),
      regs AS (
        SELECT pr, hv % ${graft.operators.HllDistinct.M} AS idx,
               MAX(CASE WHEN hv // ${graft.operators.HllDistinct.M} = 0
                        THEN 39
                        ELSE 39 - length(bin(
                          hv // ${graft.operators.HllDistinct.M})) END) AS r
        FROM h GROUP BY 1, 2),
      g AS (
        SELECT pr, CAST(COUNT(*) AS BIGINT) AS occ,
               SUM((${graft.operators.HllDistinct.pow2InvSql}::DOUBLE[])[r])
                 AS socc
        FROM regs GROUP BY 1),
      e AS (
        SELECT pr,
               CAST(${graft.operators.HllDistinct.M} - occ AS INTEGER) AS v,
               ${graft.operators.HllDistinct.alphaM2Sql} /
                 (socc + CAST(${graft.operators.HllDistinct.M} - occ
                   AS DOUBLE)) AS eraw
        FROM g),
      x AS (SELECT pr, CAST(COUNT(*) AS BIGINT) AS exact_customers
            FROM d GROUP BY pr)
      SELECT x.pr AS o_orderpriority, x.exact_customers,
             CASE WHEN e.v > 0
                    AND e.eraw <= ${graft.operators.HllDistinct.LcThreshold}
                  THEN (${graft.operators.HllDistinct.linearCountSql}
                        ::DOUBLE[])[greatest(e.v, 1)]
                  ELSE e.eraw END AS approx_customers
      FROM x JOIN e ON x.pr = e.pr
      ORDER BY o_orderpriority"""))

  /** Explicit GROUPING SETS — the third grouping-lattice shape next to
    * ROLLUP (q17) and CUBE (q22), but with a HAND-PICKED set list:
    * ((region), (region, nation), ()) skips the nation-only slice a
    * rollup would force. GROUPING() flags disambiguate "subtotal NULL"
    * from a genuinely NULL key. Expand fans each input row out only
    * |sets| = 3 times (vs 2^k for cube) before one partial-agg shuffle —
    * at 100 TB, picking the sets you need instead of cube is exactly how
    * the expansion factor stays bounded.
    */
  val q28 = QueryDef(
    "q28_grouping_sets",
    (s, dir) => {
      // r16 fanout: the Expand (3 grouping sets) + partial agg run above
      // the broadcast-join pipeline at scan parallelism without it
      val joined = Tables.fanoutBy(s, lineitem(s, dir), col("l_orderkey"))
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(region(s, dir), col("n_regionkey") === col("r_regionkey"))
      joined
        .groupingSets(
          Seq(Seq(col("r_name")), Seq(col("r_name"), col("n_name")),
            Seq.empty[Column]),
          col("r_name"), col("n_name"))
        .agg(grouping(col("r_name")).cast(IntegerType).as("g_region"),
          grouping(col("n_name")).cast(IntegerType).as("g_nation"),
          decSum(col("l_extendedprice")).as("total_revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("g_region"), col("g_nation"),
          col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },
    Some(s"""
      SELECT r_name, n_name,
             CAST(GROUPING(r_name) AS INTEGER) AS g_region,
             CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
             $RevSum AS total_revenue,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
      ORDER BY g_region, g_nation, r_name ASC NULLS FIRST,
               n_name ASC NULLS FIRST"""))

  /** NTILE decile segmentation: customers ranked into 10 spend deciles,
    * then per-decile stats — the classic value-segmentation report.
    * Per-customer totals fold DECIMAL (exact, order-free); the decile
    * assignment is deterministic because the rank ordering carries the
    * custkey tie-breaker; min/max/sum over the decile are order-free.
    *
    * Scale shape — NO global single-task window: a literal
    * `ntile(10).over(orderBy(spend))` moves EVERY per-customer row
    * through one task's sort (~1.5 B rows at 100 TB). Instead this is the
    * Sampling.scala two-phase salted rank, adapted from a hash-prefix
    * salt to a VALUE salt: the bucket is a monotone coarse function of
    * the order key itself (negated $100-floor of spend, so bucket-asc ==
    * spend-desc), which makes (bucket, spend DESC, custkey) order equal
    * global (spend DESC, custkey) order. row_number runs per-bucket
    * (|buckets|-way parallel); a per-bucket count table (partial-agg,
    * ~|spend range|/100 rows) running-summed in one tiny task rebuilds
    * the exact global rank; NTILE(k) is then closed-form integer
    * arithmetic on (rank, N): the first N%k tiles take ceil(N/k) rows,
    * the rest floor(N/k). DecilePlanSpec pins both bit-equality with the
    * single-window form and the plan shape (no ntile, no unpartitioned
    * window over the per-customer frame).
    */
  /** Exact NTILE(10) over (spend DESC, o_custkey ASC) without a global
    * single-partition window. Input: a frame with `o_custkey` and a
    * non-negative DECIMAL `spend`. Output: input columns + `decile` INT.
    *
    * Delegates to [[graft.operators.OrderedPrefix]] (this query's
    * two-phase plan, factored for reuse by q32–q35). The monotone value
    * salt is the negated $100-granularity floor of spend: bucket ascends
    * as spend descends (spend >= 0, so decimal->long cast truncation IS
    * floor), and spend ties share a bucket by construction, so the
    * per-bucket custkey tie-break is the global tie-break.
    *
    * Public (not private) so DecilePlanSpec can pin bucket-plan ≡
    * single-window bit-equality on an adversarial all-one-bucket frame.
    */
  def spendDeciles(per: DataFrame): DataFrame =
    graft.operators.OrderedPrefix.rankAndPrefix(per,
        lit(0L) - (col("spend") / lit(100)).cast(LongType),
        Seq(col("spend").desc, col("o_custkey")))
      .withColumn("decile", graft.operators.OrderedPrefix.ntileCol(10))
      .drop("__rank", "__n")

  val q29 = QueryDef(
    "q29_spend_deciles",
    (s, dir) => {
      val per = orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(decSumExact(col("o_totalprice")).as("spend"))
      spendDeciles(per)
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"),
          min(col("spend")).cast(DoubleType).as("min_spend"),
          max(col("spend")).cast(DoubleType).as("max_spend"),
          sum(col("spend")).cast(DoubleType).as("total_spend"))
        .orderBy("decile")
    },
    Some("""
      WITH per AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(18,2)) AS spend
        FROM orders GROUP BY 1),
      ranked AS (
        SELECT spend,
               CAST(NTILE(10) OVER (ORDER BY spend DESC, o_custkey)
                 AS INTEGER) AS decile
        FROM per)
      SELECT decile, COUNT(*) AS n_customers,
             CAST(MIN(spend) AS DOUBLE) AS min_spend,
             CAST(MAX(spend) AS DOUBLE) AS max_spend,
             CAST(SUM(spend) AS DOUBLE) AS total_spend
      FROM ranked GROUP BY decile ORDER BY decile"""))

  /** Distributed fixed-width histogram of order values: bucket index via
    * INTEGER arithmetic in cents (decimal*100 -> BIGINT, then integral
    * `div`), never floating floor-division — bit-identical bucketing in
    * every engine (Spark `div` and DuckDB `//` BOTH truncate toward zero
    * on integers — verified, not assumed), and a plain partial-agg
    * groupBy (each executor emits at most |buckets| rows before the
    * shuffle). Domain note: truncation makes bucket 0 span
    * (-width, +width) if values could go negative; o_totalprice is
    * positive by construction (the reference schema CHECKs price > 0), so
    * buckets here are uniform. The diagnostic every skew/salting decision
    * starts from.
    */
  val q30 = QueryDef(
    "q30_order_value_histogram",
    (s, dir) => {
      val bucket =
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
          " div 100000").cast(IntegerType)
      orders(s, dir)
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("total_value"))
        .withColumn("bucket_lo", (col("bucket") * 1000).cast(DoubleType))
        .orderBy("bucket")
    },
    Some("""
      WITH b AS (
        SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT) // 100000 AS INTEGER) AS bucket,
               CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders)
      SELECT bucket, COUNT(*) AS n_orders,
             CAST(SUM(v) AS DOUBLE) AS total_value,
             CAST(bucket * 1000 AS DOUBLE) AS bucket_lo
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** Rank-distribution window family completion (W-family): RANK,
    * PERCENT_RANK and CUME_DIST over per-customer spend within segment —
    * the "where does this customer sit in their segment" score every
    * CRM-ish warehouse computes. All three are value-deterministic under
    * ties (RANK semantics), so no tie-breaker is needed INSIDE the
    * window; the presentation ORDER BY carries the full key. The window
    * runs on the per-customer AGGREGATE frame (orders pre-reduced ~10×,
    * the q05/q08 discipline); segment cardinality bounds the partition
    * count, and if per-segment rows ever outgrew a task the q29
    * two-phase bucketed rank is the drop-in escape hatch — the
    * FUNCTION-FAMILY semantics are what this query pins.
    */
  val q31 = QueryDef(
    "q31_customer_spend_distribution",
    (s, dir) => {
      val per = orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(decSumExact(col("o_totalprice")).as("spend"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("spend").desc)
      per.select(col("c_custkey"), col("c_mktsegment"),
          col("spend").cast(DoubleType).as("spend"),
          rank().over(w).as("spend_rank"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume_dist"))
        .orderBy(col("c_mktsegment"), col("spend_rank"), col("c_custkey"))
    },
    Some("""
      WITH per AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(18,2)) AS spend
        FROM orders GROUP BY 1)
      SELECT c_custkey, c_mktsegment,
             CAST(spend AS DOUBLE) AS spend,
             CAST(RANK() OVER w AS INTEGER) AS spend_rank,
             PERCENT_RANK() OVER w AS pct_rank,
             CUME_DIST() OVER w AS cume_dist
      FROM per JOIN customer ON o_custkey = c_custkey
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend DESC)
      ORDER BY c_mktsegment, spend_rank, c_custkey"""))

  /** Pareto / ABC inventory classification — the 80/20 report every
    * merchandising team runs: parts ranked by revenue; the first 70% of
    * cumulative revenue is class A, to 90% B, the tail C. The global
    * ordered RUNNING SUM is the scale hazard here (a naive
    * `sum().over(Window.orderBy(...))` one-task-sorts every part —
    * ~20 B rows at 100 TB); [[graft.operators.OrderedPrefix]] computes
    * it two-phase, so the only single-partition work is over the
    * $1000-bucket histogram. The class boundary is decided in exact
    * BIGINT cents (`rc`) — both engines sum integers, so the 70%/90%
    * comparison is `cum*10 <= tot*7` with no decimal-width or float
    * rounding semantics in play. Output is the 3-row class summary, so
    * a single misranked part anywhere in the prefix shifts a boundary
    * and breaks the hash — a stronger check than per-part output.
    */
  val q32 = QueryDef(
    "q32_pareto_abc",
    (s, dir) => {
      val per = lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(decSumExact(col("l_extendedprice")).as("revenue"))
        .withColumn("rc", (col("revenue") * 100).cast(LongType))
      val ranked = graft.operators.OrderedPrefix.rankAndPrefix(per,
        lit(0L) - (col("revenue") / lit(1000)).cast(LongType),
        Seq(col("revenue").desc, col("l_partkey")),
        sumExpr = Some(col("rc")))
      ranked
        .withColumn("abc_class",
          when(col("__prefix") * 10 <= col("__total") * 7, lit("A"))
            .when(col("__prefix") * 10 <= col("__total") * 9, lit("B"))
            .otherwise(lit("C")))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"),
          sum(col("revenue")).cast(DoubleType).as("class_revenue"),
          min(col("__rank")).as("top_rank"),
          max(col("__rank")).as("bottom_rank"))
        .orderBy("abc_class")
    },
    Some("""
      WITH per AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DECIMAL(18,2)) AS revenue
        FROM lineitem GROUP BY 1),
      r AS (
        SELECT l_partkey, revenue,
               CAST(revenue * 100 AS BIGINT) AS rc,
               ROW_NUMBER() OVER w AS rnk,
               SUM(CAST(revenue * 100 AS BIGINT)) OVER
                 (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(CAST(revenue * 100 AS BIGINT)) OVER () AS tot
        FROM per
        WINDOW w AS (ORDER BY revenue DESC, l_partkey)),
      c AS (
        SELECT *,
               CASE WHEN cum * 10 <= tot * 7 THEN 'A'
                    WHEN cum * 10 <= tot * 9 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM r)
      SELECT abc_class, COUNT(*) AS n_parts,
             CAST(SUM(revenue) AS DOUBLE) AS class_revenue,
             MIN(rnk) AS top_rank, MAX(rnk) AS bottom_rank
      FROM c GROUP BY abc_class ORDER BY abc_class"""))

  /** Association rules over order baskets — q16's pair counts promoted to
    * the support/confidence/lift triple (the actual market-basket
    * deliverable). Candidate generation stays EQUI-KEYED on the order key
    * (never all-pairs: the per-order explosion is bounded by basket
    * size); item supports join back on the part key (shuffle-partitioned
    * aggregates on both sides); the single global scalar (order count) is
    * a broadcast 1-row cross join. Ratios are DOUBLE computed with the
    * identical expression tree in both engines (IEEE ops on identical
    * long inputs are bit-identical); the min-support filter bounds the
    * output before the top-100.
    */
  val q33 = QueryDef(
    "q33_basket_rules",
    (s, dir) => {
      val items = lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        // feeds the pair self-join (twice), supports, and the scalar —
        // stage it so the scan+distinct runs once (q05b discipline).
        // EAGER (r14): with the lazy form, the broadcast(nOrd) job and
        // the main job raced to materialize this checkpoint, and the
        // loser's late task updates hit already-cleaned accumulators —
        // 250 of the bench tail's 256 DAGScheduler errors traced here
        // via the per-query markers. Same total work, one clean job.
        .localCheckpoint(true)
      val supp = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("supp"))
      // r17 (the llm_dedup_clusters pair-stage discipline, guide §3.3):
      // bucket each order's sorted part list ONCE instead of the
      // orderkey self-join — one shuffle of the item stream, and the
      // explode emits exactly the m(m−1)/2 ordered pairs (sorted bucket
      // ⟺ part_a < part_b; items are distinct per order so the multiset
      // matches the join form). Basket sizes are bounded (PairFanout's
      // MaxItemsPerGroup contract), so no collect buffer can run away.
      // fanoutBy pins the explode+partial-agg stage at session
      // parallelism (AQE coalesces the small-bytes bucket frame to ~1
      // task otherwise). n_orders = bucket count — same value as the
      // countDistinct it replaces, reusing the bucket exchange.
      // single consumer (the pair explode), so no staging needed —
      // nOrd stays the countDistinct over the items checkpoint (a
      // bucket-count would force a second checkpoint to avoid the
      // broadcast-vs-main materialization race)
      val nOrd = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      val pairs = graft.operators.PairFanout
        .orderedPairs(s, items, "l_orderkey", "l_partkey",
          "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("supp_ab"))
        .filter(col("supp_ab") >= 3)
      pairs
        .join(supp.select(col("l_partkey").as("part_a"),
          col("supp").as("supp_a")), Seq("part_a"))
        .join(supp.select(col("l_partkey").as("part_b"),
          col("supp").as("supp_b")), Seq("part_b"))
        .crossJoin(broadcast(nOrd))
        .withColumn("confidence",
          col("supp_ab").cast(DoubleType) / col("supp_a").cast(DoubleType))
        .withColumn("lift",
          (col("supp_ab").cast(DoubleType) * col("n_orders").cast(DoubleType))
            / (col("supp_a").cast(DoubleType) * col("supp_b").cast(DoubleType)))
        .select("part_a", "part_b", "supp_ab", "supp_a", "supp_b",
          "n_orders", "confidence", "lift")
        .orderBy(col("lift").desc, col("part_a"), col("part_b"))
        .limit(100)
    },
    Some("""
      WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
      supp AS (SELECT l_partkey, COUNT(*) AS supp FROM items GROUP BY 1),
      pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS supp_ab
        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      SELECT part_a, part_b, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
             n.n_orders,
             CAST(supp_ab AS DOUBLE) / CAST(sa.supp AS DOUBLE) AS confidence,
             (CAST(supp_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
               / (CAST(sa.supp AS DOUBLE) * CAST(sb.supp AS DOUBLE)) AS lift
      FROM pairs
      JOIN supp sa ON part_a = sa.l_partkey
      JOIN supp sb ON part_b = sb.l_partkey, n
      ORDER BY lift DESC, part_a, part_b LIMIT 100"""))

  /** Cohort retention — customers grouped by first-order month, counted
    * distinct per months-since-cohort offset (the subscription-economy
    * staple). The cohort month comes from a PARTITIONED min window over
    * the customer key (no join-back, one shuffle); month arithmetic runs
    * on month-TRUNCATED timestamps, where `months_between` is exactly
    * integral in both engines. The cohort is rendered as yyyymm INT so no
    * timestamp column crosses the oracle compare.
    */
  val q34 = QueryDef(
    "q34_cohort_retention",
    (s, dir) => {
      val om = orders(s, dir)
        .select(col("o_custkey"),
          date_trunc("MONTH", col("o_orderdate")).as("om"))
        .distinct()
      val w = Window.partitionBy(col("o_custkey"))
      om.withColumn("cm", min(col("om")).over(w))
        .groupBy(
          (year(col("cm")) * 100 + month(col("cm"))).as("cohort_month"),
          months_between(col("om"), col("cm")).cast(IntegerType)
            .as("month_offset"))
        .agg(countDistinct(col("o_custkey")).as("active_customers"))
        .orderBy("cohort_month", "month_offset")
    },
    Some("""
      WITH om AS (
        SELECT DISTINCT o_custkey,
               date_trunc('month', o_orderdate) AS om
        FROM orders),
      c AS (
        SELECT o_custkey, om,
               MIN(om) OVER (PARTITION BY o_custkey) AS cm
        FROM om)
      SELECT CAST(year(cm) * 100 + month(cm) AS INTEGER) AS cohort_month,
             CAST(datediff('month', cm, om) AS INTEGER) AS month_offset,
             COUNT(DISTINCT o_custkey) AS active_customers
      FROM c GROUP BY 1, 2 ORDER BY cohort_month, month_offset"""))

  /** RFM segmentation — recency / frequency / monetary quintiles per
    * customer, the CRM segmentation standard. THREE independent exact
    * global NTILE(5) assignments over the per-customer frame, each via
    * [[graft.operators.OrderedPrefix]] (weekly-floor recency salt,
    * identity frequency salt, $100 monetary salt) — the operator's reuse
    * showcase: no global single-partition window anywhere, three
    * bucket-partitioned rank passes over one staged aggregate. Output is
    * the (r,f,m) cell summary (≤125 rows), so every quintile boundary in
    * all three dimensions must land exactly.
    */
  val q35 = QueryDef(
    "q35_rfm_segments",
    (s, dir) => {
      val OP = graft.operators.OrderedPrefix
      val per = orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("n_orders"),
          decSumExact(col("o_totalprice")).as("spend"))
        // three rank passes share this aggregate — stage it once
        .localCheckpoint(false)
      def quintile(df: DataFrame, bucket: Column, ord: Seq[Column],
          as: String): DataFrame =
        OP.rankAndPrefix(df, bucket, ord)
          .withColumn(as, OP.ntileCol(5)).drop("__rank", "__n")
      val r = quintile(per,
        lit(0L) - (unix_timestamp(col("last_order")) / lit(604800L))
          .cast(LongType),
        Seq(col("last_order").desc, col("o_custkey")), "r_quintile")
      val f = quintile(r, lit(0L) - col("n_orders"),
        Seq(col("n_orders").desc, col("o_custkey")), "f_quintile")
      val m = quintile(f, lit(0L) - (col("spend") / lit(100)).cast(LongType),
        Seq(col("spend").desc, col("o_custkey")), "m_quintile")
      m.groupBy("r_quintile", "f_quintile", "m_quintile")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("spend")).cast(DoubleType).as("segment_spend"))
        .orderBy("r_quintile", "f_quintile", "m_quintile")
    },
    Some("""
      WITH per AS (
        SELECT o_custkey, MAX(o_orderdate) AS last_order,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(18,2)) AS spend
        FROM orders GROUP BY 1),
      q AS (
        SELECT o_custkey, spend,
               CAST(NTILE(5) OVER (ORDER BY last_order DESC, o_custkey)
                 AS INTEGER) AS r_quintile,
               CAST(NTILE(5) OVER (ORDER BY n_orders DESC, o_custkey)
                 AS INTEGER) AS f_quintile,
               CAST(NTILE(5) OVER (ORDER BY spend DESC, o_custkey)
                 AS INTEGER) AS m_quintile
        FROM per)
      SELECT r_quintile, f_quintile, m_quintile,
             COUNT(*) AS n_customers,
             CAST(SUM(spend) AS DOUBLE) AS segment_spend
      FROM q GROUP BY 1, 2, 3
      ORDER BY r_quintile, f_quintile, m_quintile"""))

  /** Trailing-week moving revenue per nation — the RANGE window frame
    * (calendar-bounded, not row-count-bounded): on a daily series with
    * missing days, ROWS 6 PRECEDING silently reaches back seven
    * OBSERVATIONS however old, while RANGE over the last 6 calendar days
    * averages only what actually happened that week. The frame bound runs
    * on an epoch-day INTEGER ordering key (datediff from 1970-01-01) so
    * the DataFrame API's rangeBetween(-6, 0) and DuckDB's RANGE BETWEEN 6
    * PRECEDING are the same arithmetic — no interval-literal dialect in
    * the frame. Window stays partitioned by nation (25 partitions, never
    * global); the trailing average divides the exact DECIMAL sum by the
    * frame's observation count in DOUBLE.
    */
  val q36 = QueryDef(
    "q36_trailing_week_range",
    (s, dir) => {
      val daily = orders(s, dir)
        .join((customer(s, dir).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("o_orderdate").cast(DateType).as("day"))
        .agg(decSumExact(col("o_totalprice")).as("day_rev"))
        .withColumn("day_num",
          datediff(col("day"), lit("1970-01-01").cast(DateType)))
      val w = Window.partitionBy(col("n_name")).orderBy(col("day_num"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("t7_sum", sum(col("day_rev")).over(w).cast(Money))
        .withColumn("t7_days", count(lit(1)).over(w))
        .select(col("n_name"), col("day"),
          col("day_rev").cast(DoubleType).as("day_revenue"),
          col("t7_sum").cast(DoubleType).as("t7_revenue"),
          (col("t7_sum").cast(DoubleType) / col("t7_days")).as("t7_avg"),
          col("t7_days"))
        .orderBy("n_name", "day")
    },
    Some("""
      WITH daily AS (
        SELECT n_name, CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(18,2)) AS day_rev,
               CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day_num
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      t AS (
        SELECT n_name, day, day_rev,
               CAST(SUM(day_rev) OVER w AS DECIMAL(18,2)) AS t7_sum,
               COUNT(*) OVER w AS t7_days
        FROM daily
        WINDOW w AS (PARTITION BY n_name ORDER BY day_num
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT n_name, day,
             CAST(day_rev AS DOUBLE) AS day_revenue,
             CAST(t7_sum AS DOUBLE) AS t7_revenue,
             CAST(t7_sum AS DOUBLE) / t7_days AS t7_avg,
             t7_days
      FROM t ORDER BY n_name, day"""))

  /** PageRank over the part co-purchase graph — the iterative graph-rank
    * complement of the connected-components ladder (llm/Dedup): nodes are
    * parts, edges connect parts bought together in at least one order
    * (symmetric, unweighted, so no dangling mass — every node keeps
    * out-degree ≥ 1). Three Lloyd's-style unrolled power iterations in
    * EXACT BIGINT micro-units (rank₀ = 10¹² div N; rank' = (15·rank₀) div
    * 100 + (85·Σ_{u→v} rank(u) div deg(u)) div 100) — every op is integer,
    * so the iteration is order-independent and DuckDB replays it
    * bit-equal with `//`, the same discipline that oracles llm_kmeans and
    * llm_semantic_dedup. Each iteration is one equi-join + partial-agg
    * shuffle on the node key; the edge list is staged once
    * (localCheckpoint) and reused by all three; N enters as a broadcast
    * 1-row scalar, never a driver collect. Scale: rank state is
    * |nodes|-sized, contributions are |edges|-sized — both shuffle-keyed,
    * nothing global; at a 32k-vocab-equivalent graph the cost is 3
    * scheduler rounds, not 3 sequential scans of the raw fact.
    */
  val q37 = QueryDef(
    "q37_part_pagerank",
    (s, dir) => {
      // r17: pair enumeration via PairFanout.orderedPairs (bucket-then-
      // explode, guide §3.3) — one shuffle of the slim projection instead
      // of the self-join's two sorted legs; raw input (no distinct), so
      // the =!= filter reproduces the strict `<` residual before the
      // distinct collapses duplicates
      val half = graft.operators.PairFanout
        .orderedPairs(s,
          lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", "pa", "pb")
        .filter(col("pa") =!= col("pb"))
        .distinct()
        // r16: half feeds deg/edges/oriented 3-5x — stage it once
        .localCheckpoint(false)
      // Per-iteration SMJs re-exchange the staged edge list: under AQE a
      // localCheckpoint surfaces UnknownPartitioning, so pre-partitioning
      // edges by src here cannot be reused by the joins (measured: no
      // composite win). On a real cluster the steady-state form is a
      // bucketed/pre-partitioned edge table co-located with rank state —
      // the per-round shuffle is |edges|-keyed either way, never global.
      val edges = half.select(col("pa").as("src"), col("pb").as("dst"))
        .union(half.select(col("pb").as("src"), col("pa").as("dst")))
        .localCheckpoint(false)
      // r16: deg feeds every iteration's join-back AND the n broadcast —
      // unstaged it re-aggregated the edge list ~8× across the unrolled
      // loop (no automatic subplan reuse); stage it once
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint(false)
      val n = deg.agg(count(lit(1)).as("n"))
      var ranks = deg.crossJoin(broadcast(n))
        .select(col("src").as("node"), col("deg"),
          expr("1000000000000 div n").as("r"))
      for (_ <- 1 to 3) {
        val contribs = edges.join(ranks, col("src") === col("node"))
          .select(col("dst"), expr("r div deg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
        ranks = deg.join(contribs, col("src") === col("dst"), "left")
          .crossJoin(broadcast(n))
          .select(col("src").as("node"), col("deg"),
            expr("(15 * (1000000000000 div n)) div 100" +
              " + (85 * coalesce(s, 0)) div 100").as("r"))
      }
      ranks
        .select(col("node").as("part_key"), col("deg").as("n_neighbors"),
          col("r").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("part_key"))
        .limit(100)
    },
    Some("""
      WITH half AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      edges AS (
        SELECT pa AS src, pb AS dst FROM half
        UNION ALL
        SELECT pb AS src, pa AS dst FROM half),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
      nn AS (SELECT COUNT(*) AS n FROM deg),
      r0 AS (SELECT src AS node, deg, 1000000000000 // n AS r FROM deg, nn),
      s1 AS (SELECT e.dst, SUM(r.r // r.deg) AS s
             FROM edges e JOIN r0 r ON e.src = r.node GROUP BY 1),
      r1 AS (SELECT d.src AS node, d.deg,
               CAST((15 * (1000000000000 // n)) // 100
                 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
             FROM deg d LEFT JOIN s1 s ON d.src = s.dst, nn),
      s2 AS (SELECT e.dst, SUM(r.r // r.deg) AS s
             FROM edges e JOIN r1 r ON e.src = r.node GROUP BY 1),
      r2 AS (SELECT d.src AS node, d.deg,
               CAST((15 * (1000000000000 // n)) // 100
                 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
             FROM deg d LEFT JOIN s2 s ON d.src = s.dst, nn),
      s3 AS (SELECT e.dst, SUM(r.r // r.deg) AS s
             FROM edges e JOIN r2 r ON e.src = r.node GROUP BY 1),
      r3 AS (SELECT d.src AS node, d.deg,
               CAST((15 * (1000000000000 // n)) // 100
                 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
             FROM deg d LEFT JOIN s3 s ON d.src = s.dst, nn)
      SELECT node AS part_key, deg AS n_neighbors, r AS rank_micro
      FROM r3 ORDER BY rank_micro DESC, part_key LIMIT 100"""))

  /** Explicit bag-to-set operators — INTERSECT and EXCEPT as first-class
    * plan nodes (the one relational-surface family the suite exercised
    * only implicitly through DISTINCT/anti-join shapes): per segment, the
    * customers active in BOTH 1997 and 1998 (retention) and active in
    * 1998 but not 1997 (acquisition). Spark's
    * `intersect`/`except` compile to left-semi/left-anti over
    * distinct'd children — same partial-agg + equi-join machinery as the
    * dedup ladder, nothing new to scale — and both engines apply
    * identical SET (not bag) semantics. Year predicates are sargable
    * literal ranges (inYear).
    */
  val q38 = QueryDef(
    "q38_customer_set_ops",
    (s, dir) => {
      val o = orders(s, dir)
      def active(y: Int): DataFrame =
        o.filter(inYear(col("o_orderdate"), y)).select("o_custkey").distinct()
      val both = active(1997).intersect(active(1998))
      val acquired = active(1998).except(active(1997))
      val cust = customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      def bySeg(keys: DataFrame, label: String): DataFrame =
        keys.join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"))
          .withColumn("cohort", lit(label))
      bySeg(both, "retained").unionByName(bySeg(acquired, "acquired"))
        .select(col("cohort"), col("c_mktsegment"), col("n_customers"))
        .orderBy("cohort", "c_mktsegment")
    },
    Some("""
      WITH a97 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'),
      a98 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01'),
      both_y AS (SELECT o_custkey FROM a97 INTERSECT SELECT o_custkey FROM a98),
      acq AS (SELECT o_custkey FROM a98 EXCEPT SELECT o_custkey FROM a97),
      lab AS (
        SELECT 'retained' AS cohort, o_custkey FROM both_y
        UNION ALL
        SELECT 'acquired' AS cohort, o_custkey FROM acq)
      SELECT cohort, c_mktsegment, COUNT(*) AS n_customers
      FROM lab JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2 ORDER BY cohort, c_mktsegment"""))

  /** Q38b — the ONE-PASS twin of q38 (the q05/q05b discipline): the
    * same retained/acquired cohorts computed as conditional flags in a
    * single custkey aggregation instead of explicit INTERSECT/EXCEPT.
    * q38's set-op form is the operator demonstration, but its plan is
    * 4 distinct aggregations + a semi and an anti join — ~7 small jobs
    * whose scheduling overhead dominates at bench scale (the r9
    * attribution: 224 KB of shuffle yet the most contention-sensitive
    * query in the suite) and whose 4 fact scans hurt at 100 TB. This
    * form scans orders ONCE (sargable two-year range filter pushed to
    * the scan), shuffles custkeys once, and derives both cohorts from
    * per-key year flags — identical semantics, proven by sharing q38's
    * oracle verbatim. At scale this is the plan to run; q38 remains the
    * INTERSECT/EXCEPT coverage rung.
    */
  val q38b = QueryDef(
    "q38b_customer_cohorts_onepass",
    (s, dir) => {
      val o = orders(s, dir)
      val flags = o
        .filter(inYear(col("o_orderdate"), 1997) ||
          inYear(col("o_orderdate"), 1998))
        .groupBy(col("o_custkey"))
        .agg(
          max(when(inYear(col("o_orderdate"), 1997), 1).otherwise(0))
            .as("a97"),
          max(when(inYear(col("o_orderdate"), 1998), 1).otherwise(0))
            .as("a98"))
      val labeled = flags
        .withColumn("cohort",
          when(col("a97") === 1 && col("a98") === 1, "retained")
            .when(col("a98") === 1, "acquired"))
        .filter(col("cohort").isNotNull)
      labeled
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("cohort"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .select(col("cohort"), col("c_mktsegment"), col("n_customers"))
        .orderBy("cohort", "c_mktsegment")
    },
    q38.oracle)

  /** Triangle counting on the co-purchase graph — the third graph rung
    * beside CC (llm/Dedup) and PageRank (q37): top-20 parts by triangle
    * participation ("tightly clustered products"). The scale trick is the
    * DEGREE-ORDERED ORIENTATION: each undirected edge points from its
    * (degree, id)-smaller endpoint to the larger, turning the graph into
    * a DAG whose max out-degree is O(√E) regardless of how skewed the
    * raw degree distribution is — so the wedge join (the quadratic-risk
    * step) generates Σ outdeg² ≤ E·√E wedges instead of a hub's deg²
    * (the standard MPC triangle bound). Wedges (u→v→w) are then
    * confirmed by an equi join against the oriented edge (u→w) — each
    * triangle found exactly once — and credit fans back to all three
    * corners. Everything is equi-keyed joins + partial aggs; the tuple
    * comparison (deg, id) is a struct-compare in Spark and a row-value
    * compare in DuckDB, identical semantics.
    *
    * Scoped to the LATEST ORDER YEAR: triangle cost is Σ outdeg² wedges,
    * quadratic in average degree, and the all-time co-purchase graph at
    * sf0.1 is dense enough (avg degree ~60) that the full-period count
    * measured 18 s — the year scope divides edges ~7× and wedges ~50×
    * (0.9 s) while keeping the business shape ("this year's tightly
    * clustered products"). The orientation bound is what keeps the
    * SKEWED tail safe at any scope; the year filter is what sizes the
    * AVERAGE density, and it reaches the orders scan as a sargable range.
    */
  val q39 = QueryDef(
    "q39_graph_triangles",
    (s, dir) => {
      // r17: pair enumeration via PairFanout.orderedPairs (bucket-then-
      // explode, guide §3.3); raw year-scoped input, so the =!= filter
      // reproduces the strict `<` residual before the distinct
      val half = graft.operators.PairFanout
        .orderedPairs(s, lineitem(s, dir)
          .join(ordersLatestYear(s, dir).select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", "pa", "pb")
        .filter(col("pa") =!= col("pb"))
        .distinct()
        // r16: half feeds deg/edges/oriented 3-5x — stage it once
        .localCheckpoint(false)
      val deg = half.select(col("pa").as("n"))
        .union(half.select(col("pb").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val lower = struct(col("da"), col("pa")) < struct(col("db"), col("pb"))
      val oriented = half
        .join(deg.select(col("n").as("pa"), col("d").as("da")), Seq("pa"))
        .join(deg.select(col("n").as("pb"), col("d").as("db")), Seq("pb"))
        .select(when(lower, col("pa")).otherwise(col("pb")).as("u"),
          when(lower, col("pb")).otherwise(col("pa")).as("v"))
        .localCheckpoint(false)
      val wedges = oriented.select(col("u").as("ta"), col("v").as("tb"))
        .join(oriented.select(col("u").as("tb"), col("v").as("tc")), Seq("tb"))
      val tri = wedges.join(
        oriented.select(col("u").as("ta"), col("v").as("tc")),
        Seq("ta", "tc"))
      // r16: credit fan-back via explode, not a 3-way union — Spark has
      // no automatic subplan reuse, so union(tri.ta, tri.tb, tri.tc)
      // executed the ENTIRE wedge+confirm join pipeline THREE times
      // (stage trace: 3× the two heaviest stages). explode(array(...))
      // emits the same three credit rows from ONE execution.
      val credits = tri.select(
        explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      credits.groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("node"))
        .limit(20)
        .select(col("node").as("part_key"), col("n_triangles"))
    },
    Some("""
      WITH yr AS (
        SELECT o_orderkey FROM orders
        WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)),
      half AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN yr ON a.l_orderkey = yr.o_orderkey),
      deg AS (
        SELECT n, COUNT(*) AS d FROM (
          SELECT pa AS n FROM half UNION ALL SELECT pb AS n FROM half)
        GROUP BY 1),
      o AS (
        SELECT CASE WHEN (da.d, h.pa) < (db.d, h.pb)
                    THEN h.pa ELSE h.pb END AS u,
               CASE WHEN (da.d, h.pa) < (db.d, h.pb)
                    THEN h.pb ELSE h.pa END AS v
        FROM half h
        JOIN deg da ON h.pa = da.n
        JOIN deg db ON h.pb = db.n),
      w AS (
        SELECT o1.u AS ta, o1.v AS tb, o2.v AS tc
        FROM o o1 JOIN o o2 ON o1.v = o2.u),
      t AS (
        SELECT w.ta, w.tb, w.tc
        FROM w JOIN o ON o.u = w.ta AND o.v = w.tc),
      cr AS (
        SELECT ta AS node FROM t
        UNION ALL SELECT tb FROM t
        UNION ALL SELECT tc FROM t)
      SELECT node AS part_key, COUNT(*) AS n_triangles
      FROM cr GROUP BY 1
      ORDER BY n_triangles DESC, part_key LIMIT 20"""))

  /** Approximate triangle counting over the ALL-TIME co-purchase graph —
    * the scope `q39` documents as 18 s exact at sf0.1 (quadratic in the
    * ~60 average degree) and therefore year-scopes. DOULION (Tsourakakis
    * et al., KDD'09): keep each edge independently with probability
    * p = 1/4, count triangles EXACTLY on the sparsified graph (same
    * degree-ordered orientation as q39 — the wedge bound E·√E holds on
    * the sample too), and scale by 1/p³ = 64; the estimator is unbiased
    * and the ×16 wedge reduction is what buys back the year scope.
    * The coin is NOT an RNG: an edge is kept iff the md5-ascii fold of
    * "pa:pb" (the llm_sample_weighted discipline — ascii/substr/md5 only,
    * portable to any engine) lands under p of a prime modulus, so the
    * sample — and with it the whole result — is bit-deterministic and
    * DuckDB replays it end-to-end: a true cross-engine green row, not a
    * pin. Output: one row (est_triangles, sampled_triangles,
    * sampled_edges) — the global-count shape DOULION answers.
    *
    * p POLICY (r9 verdict #4, measured by `ScaleProbe trisample` on the
    * sf0.1 all-time graph — exact count 1,884,488 triangles):
    * {{{
    *   p       wall     est. error
    *   1       25.9 s    (exact)
    *   1/4      7.6 s    −0.10 %
    *   1/16     7.6 s    −3.28 %
    *   1/64     9.8 s   +25.2 %
    * }}}
    * p = 1/4 stays the default: below it, wall time is FLAT — the
    * bottleneck is the pre-sample pair enumeration (the lineitem
    * self-join that must run at any p), not the wedge join the ×1/p²
    * reduction shrinks — so smaller p buys pure variance
    * (rel-std-err ≈ √((1/p³−1)/T): ~0.6 % at 1/4, ~4.7 % at 1/16,
    * ~37 % at 1/64 for this T) and no speed. At cluster scale the same
    * logic holds whenever edge ENUMERATION is the dominant stage; only
    * when the sampled graph itself (memory/wedges) is the constraint
    * does dropping p below 1/4 pay.
    */
  val q40 = QueryDef(
    "q40_graph_triangles_approx",
    (s, dir) => {
      // r16 fanout: the pair stream + md5 coin run below the distinct's
      // exchange — measured 5.8 s on 2 non-empty tasks before this.
      // r17 note: PairFanout.orderedPairs was A/B'd here and REVERTED —
      // like q16, both join legs reuse the one fanoutBy exchange, and
      // the bucket form measured slower at sf0.1 (interleaved: join
      // 2.69 s vs buckets 3.48 s; sf1 tie 9.99 vs 9.72).
      val li = Tables.fanoutBy(s,
        lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
      // deterministic p=1/4 coin on the edge identity (not on either
      // endpoint alone — per-node coins would correlate a node's edges
      // and bias the estimator)
      val h = md5(concat(col("pa").cast("string"), lit(":"),
        col("pb").cast("string")).cast("binary"))
      val u = (1 to 6)
        .map(i => ascii(substring(h, i, 1)).cast("long") *
          lit(math.pow(128, i - 1).toLong))
        .reduce(_ + _)
      // coin applied BEFORE the distinct (r9: it is a deterministic
      // predicate of (pa, pb), so dedup-then-sample ≡ sample-then-dedup
      // — and the dedup exchange, the plan's largest, now carries only
      // the surviving quarter of the pair stream)
      val sampled = a.join(b, Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
        .filter(u % 999983L < 249996L)
        .distinct().localCheckpoint(false)
      val deg = sampled.select(col("pa").as("n"))
        .union(sampled.select(col("pb").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val lower = struct(col("da"), col("pa")) < struct(col("db"), col("pb"))
      val oriented = sampled
        .join(deg.select(col("n").as("pa"), col("d").as("da")), Seq("pa"))
        .join(deg.select(col("n").as("pb"), col("d").as("db")), Seq("pb"))
        .select(when(lower, col("pa")).otherwise(col("pb")).as("u"),
          when(lower, col("pb")).otherwise(col("pa")).as("v"))
        .localCheckpoint(false)
      val wedges = oriented.select(col("u").as("ta"), col("v").as("tb"))
        .join(oriented.select(col("u").as("tb"), col("v").as("tc")), Seq("tb"))
      val tri = wedges.join(
        oriented.select(col("u").as("ta"), col("v").as("tc")),
        Seq("ta", "tc"))
      val nEdges = sampled.agg(count(lit(1)).as("sampled_edges"))
      tri.agg(count(lit(1)).as("sampled_triangles"))
        .crossJoin(broadcast(nEdges))
        .select((col("sampled_triangles") * 64L).as("est_triangles"),
          col("sampled_triangles"), col("sampled_edges"))
    },
    Some("""
      WITH half AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      sampled AS (
        SELECT pa, pb FROM half
        WHERE (CAST(ascii(substr(md5(CAST(pa AS VARCHAR) || ':' || CAST(pb AS VARCHAR)), 1, 1)) AS BIGINT) * 1
             + CAST(ascii(substr(md5(CAST(pa AS VARCHAR) || ':' || CAST(pb AS VARCHAR)), 2, 1)) AS BIGINT) * 128
             + CAST(ascii(substr(md5(CAST(pa AS VARCHAR) || ':' || CAST(pb AS VARCHAR)), 3, 1)) AS BIGINT) * 16384
             + CAST(ascii(substr(md5(CAST(pa AS VARCHAR) || ':' || CAST(pb AS VARCHAR)), 4, 1)) AS BIGINT) * 2097152
             + CAST(ascii(substr(md5(CAST(pa AS VARCHAR) || ':' || CAST(pb AS VARCHAR)), 5, 1)) AS BIGINT) * 268435456
             + CAST(ascii(substr(md5(CAST(pa AS VARCHAR) || ':' || CAST(pb AS VARCHAR)), 6, 1)) AS BIGINT) * 34359738368)
              % 999983 < 249996),
      deg AS (
        SELECT n, COUNT(*) AS d FROM (
          SELECT pa AS n FROM sampled UNION ALL SELECT pb AS n FROM sampled)
        GROUP BY 1),
      o AS (
        SELECT CASE WHEN (da.d, h.pa) < (db.d, h.pb)
                    THEN h.pa ELSE h.pb END AS u,
               CASE WHEN (da.d, h.pa) < (db.d, h.pb)
                    THEN h.pb ELSE h.pa END AS v
        FROM sampled h
        JOIN deg da ON h.pa = da.n
        JOIN deg db ON h.pb = db.n),
      t AS (
        SELECT 1 AS one
        FROM (SELECT o1.u AS ta, o1.v AS tb, o2.v AS tc
              FROM o o1 JOIN o o2 ON o1.v = o2.u) w
        JOIN o ON o.u = w.ta AND o.v = w.tc),
      cnts AS (SELECT COUNT(*) AS sampled_triangles FROM t),
      es AS (SELECT COUNT(*) AS sampled_edges FROM sampled)
      SELECT CAST(sampled_triangles * 64 AS BIGINT) AS est_triangles,
             sampled_triangles, sampled_edges
      FROM cnts, es"""))

  /** Exact global percentiles (p25/p50/p75/p90/p99 of order value) —
    * the distribution report `approx_percentile` would approximate,
    * answered EXACTLY and scale-safely instead. SURVEY §8f documents why
    * the GK sketch is deliberately omitted (its merge is
    * partition-dependent, so no partition-independent pin can hold);
    * this is the replacement a real user gets: percentile_disc
    * semantics — the value at rank ceil(p·N/100), the smallest element
    * whose cumulative distribution ≥ p — computed from
    * [[graft.operators.OrderedPrefix]]'s two-phase global rank, where
    * the only single-partition window runs over the $1000-bucket
    * histogram (≤ ~600 rows), never the orders. The naive form
    * (`Window.orderBy` over all orders, or a driver-side sort) is the
    * one-task scale-killer at ~1.5 B orders / 100 TB. Target ranks are
    * exact integer arithmetic ((p·N + 99) div 100 = ceil) on a
    * broadcast 5-row percentile frame joined to the ranked orders by
    * rank equality — both engines pick the identical element, so the
    * row hash-matches DuckDB with no float-rank semantics in play.
    * A tie in o_totalprice is broken by o_orderkey on both sides; the
    * selected VALUE at a rank is tie-break-invariant anyway (tied rows
    * share the value).
    */
  val q41 = QueryDef(
    "q41_order_value_percentiles",
    (s, dir) => {
      import s.implicits._
      val ranked = graft.operators.OrderedPrefix.rankAndPrefix(
        orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        (col("o_totalprice") / lit(1000)).cast(LongType),
        Seq(col("o_totalprice"), col("o_orderkey")))
      val n = orders(s, dir).agg(count(lit(1)).as("n"))
      val targets = Seq(25, 50, 75, 90, 99).toDF("p")
        .crossJoin(broadcast(n))
        .withColumn("target", expr("(p * n + 99) div 100"))
      ranked.join(broadcast(targets), col("__rank") === col("target"))
        .select(col("p"), col("o_totalprice").as("value"))
        .orderBy("p")
    },
    Some("""
      WITH r AS (
        SELECT o_totalprice AS v,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER () AS n
        FROM orders),
      ps AS (SELECT unnest([25, 50, 75, 90, 99]) AS p)
      SELECT p, v AS value
      FROM ps JOIN r ON r.rn = (p * r.n + 99) // 100
      ORDER BY p"""))

  /** Q42 — per-SEGMENT exact order-value percentiles: the grouped form of
    * q41, via `OrderedPrefix.rankAndPrefixBy`. The grouped two-phase plan
    * is strictly better than the textbook
    * `percentile_disc(...) OVER (PARTITION BY segment)` at scale: the
    * window form sorts each group in ONE task (5 segments → 5 tasks
    * carrying 20 TB each at the 100 TB mark), while here the per-group
    * histogram offsets are a partitioned window over ≈ groups×buckets
    * rows and the data-touching rank window is partitioned by
    * (group, bucket) — thousands of parallel tasks, no single-partition
    * exchange anywhere in the plan (PlanSweep-verified). Percentile
    * targets join back as a 5-row literal frame: the broadcast side is a
    * plan-time LocalRelation (bounded by construction — PlanSweep's
    * literal-leaf rule), and the rank-equality filter is evaluated
    * inside the join.
    */
  val q42 = QueryDef(
    "q42_group_percentiles",
    (s, dir) => {
      import s.implicits._
      val o = orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      val seg = o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_totalprice"), col("o_orderkey"))
      val ranked = graft.operators.OrderedPrefix.rankAndPrefixBy(
        seg, Seq("segment"),
        (col("o_totalprice") / lit(1000)).cast(LongType),
        Seq(col("o_totalprice"), col("o_orderkey")))
      val ps = Seq(25, 50, 75, 90, 99).toDF("p")
      ranked.crossJoin(broadcast(ps))
        .filter(col("__rank") === expr("(p * __n + 99) div 100"))
        .select(col("segment"), col("p"), col("o_totalprice").as("value"))
        .orderBy("segment", "p")
    },
    Some("""
      WITH o AS (
        SELECT c.c_mktsegment AS segment, o.o_totalprice AS v,
               o.o_orderkey AS k
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      r AS (
        SELECT segment, v,
               ROW_NUMBER() OVER (PARTITION BY segment ORDER BY v, k) AS rn,
               COUNT(*) OVER (PARTITION BY segment) AS n
        FROM o),
      ps AS (SELECT unnest([25, 50, 75, 90, 99]) AS p)
      SELECT segment, p, v AS value
      FROM r JOIN ps ON r.rn = (p * r.n + 99) // 100
      ORDER BY segment, p"""))

  /** Q43 — item-item collaborative filtering: cosine similarity over the
    * order-item incidence matrix (sim(a,b) = co(a,b) / √(n(a)·n(b))),
    * top-5 neighbors per part — the "customers who bought X also
    * bought Y" recommender the reference's basket analysis (q16) feeds.
    * Scale shape: co-occurrence is q16's pair-keyed partial agg (never
    * all-pairs — pairs exist only within an order; fanout contract at
    * [[graft.operators.PairFanout]]), the per-part order counts are a
    * frame that GROWS
    * WITH THE CORPUS (one row per distinct part — ~billions at 100 TB),
    * so it carries NO broadcast hint: AQE/statistics pick the join
    * strategy (broadcast while it fits under the threshold, shuffled
    * hash/sort-merge on slim int keys beyond), and ranking is an
    * item-partitioned window.
    * sim is a DOUBLE from three integers — bit-identical cross-engine —
    * with the neighbor id as rank tie-breaker.
    */
  val q43 = QueryDef(
    "q43_item_similarity",
    (s, dir) => {
      // r16: li feeds n/a/b (3 consumers) and co feeds both union arms —
      // stage each once (the q05b discipline; unstaged, the scan+distinct
      // and the whole pair agg executed 2-3x)
      val li = graft.operators.PairFanout.guard(s, lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .localCheckpoint(false), "l_orderkey")
      val n = li.groupBy(col("l_partkey").as("p"))
        .agg(count(lit(1)).as("np"))
      // r17: co-occurrence via bucket-then-explode (the dedup/q33/q16
      // discipline, guide §3.3) — one shuffle of the distinct item
      // stream instead of the self-join's two sorted legs; the sorted
      // basket emits exactly the m(m−1)/2 ordered pairs (distinct input,
      // so position order ⟺ pa < pb). fanoutBy pins the explode+partial
      // agg at session parallelism.
      val co = graft.operators.PairFanout
        .orderedPairs(s, li, "l_orderkey", "l_partkey", "pa", "pb")
        .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val sym = co.select(col("pa").as("item"), col("pb").as("nb"), col("c"))
        .unionByName(
          co.select(col("pb").as("item"), col("pa").as("nb"), col("c")))
      val scored = sym
        .join(n.select(col("p").as("item"), col("np").as("ni")),
          Seq("item"))
        .join(n.select(col("p").as("nb"), col("np").as("nn")),
          Seq("nb"))
        .select(col("item"), col("nb").as("neighbor"),
          (col("c").cast(DoubleType) /
            sqrt(col("ni").cast(DoubleType) * col("nn").cast(DoubleType)))
            .as("sim"))
      val w = Window.partitionBy(col("item"))
        .orderBy(col("sim").desc, col("neighbor"))
      scored.withColumn("rank", row_number().over(w).cast(IntegerType))
        .filter(col("rank") <= 5)
        .select("item", "neighbor", "sim", "rank")
        .orderBy("item", "rank")
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      n AS (SELECT l_partkey AS p, COUNT(*) AS np FROM li GROUP BY 1),
      co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS c
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      sym AS (
        SELECT pa AS item, pb AS nb, c FROM co
        UNION ALL SELECT pb, pa, c FROM co),
      s AS (
        SELECT item, nb AS neighbor,
               CAST(c AS DOUBLE)
                 / sqrt(CAST(ni.np AS DOUBLE) * CAST(nn.np AS DOUBLE)) AS sim
        FROM sym JOIN n ni ON ni.p = sym.item JOIN n nn ON nn.p = sym.nb),
      r AS (
        SELECT item, neighbor, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY item
                 ORDER BY sim DESC, neighbor) AS INTEGER) AS rank
        FROM s)
      SELECT item, neighbor, sim, rank
      FROM r WHERE rank <= 5 ORDER BY item, rank"""))

  /** Q44 — per-brand monthly revenue TREND (ordinary-least-squares slope
    * and intercept over month index 1..12 of year 2000): the regr_slope/
    * regr_intercept family, computed from the five exact-BIGINT moment
    * sums (n, Σx, Σy, Σxy, Σx²) so the final slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²) is one DOUBLE division of two bit-identical integers
    * — hash-matches any engine, unlike built-in `regr_slope` whose
    * per-partition float folds are merge-order-dependent. Scale shape:
    * one fact shuffle to (brand, month) cents, then a brand-keyed partial
    * agg over ≤ |brands|×12 rows — the regression itself costs nothing.
    * Overflow headroom: Σy is cents (< 2⁵³ by the Money contract),
    * Σxy ≤ 12·Σy, so n·Σxy < 2⁶³ while Σy < 6×10¹⁶ cents — far past
    * 100 TB of revenue. Brands with a single active month are excluded
    * (slope undefined: the denominator is the x-variance, zero at n=1).
    */
  val q44 = QueryDef(
    "q44_brand_trend_slope",
    (s, dir) => {
      val o = orders(s, dir).filter(inYear(col("o_orderdate"), 2000))
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      val p = part(s, dir).select(col("p_partkey"), col("p_brand"))
      val monthly = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          month(col("o_orderdate")).cast(LongType).as("m"))
        .agg((decSumExact(col("l_extendedprice")) * 100).cast(LongType)
          .as("rev"))
      val st = monthly.groupBy("brand").agg(
        count(lit(1)).as("nm"),
        sum(col("m")).as("sx"),
        sum(col("rev")).as("sy"),
        sum(col("m") * col("rev")).as("sxy"),
        sum(col("m") * col("m")).as("sxx"))
        .filter(col("nm") >= 2)
      val den = (col("nm") * col("sxx") - col("sx") * col("sx"))
        .cast(DoubleType)
      st.select(col("brand"), col("nm").cast(IntegerType).as("n_months"),
        ((col("nm") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
          / den / lit(100.0)).as("slope"),
        ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast(DoubleType)
          / den / lit(100.0)).as("intercept"))
        .orderBy("brand")
    },
    Some("""
      WITH monthly AS (
        SELECT p.p_brand AS brand,
               CAST(EXTRACT(month FROM o.o_orderdate) AS BIGINT) AS m,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE o.o_orderdate >= TIMESTAMP '2000-01-01'
          AND o.o_orderdate < TIMESTAMP '2001-01-01'
        GROUP BY 1, 2),
      st AS (
        SELECT brand, CAST(COUNT(*) AS BIGINT) AS nm,
               CAST(SUM(m) AS BIGINT) AS sx, CAST(SUM(rev) AS BIGINT) AS sy,
               CAST(SUM(m * rev) AS BIGINT) AS sxy,
               CAST(SUM(m * m) AS BIGINT) AS sxx
        FROM monthly GROUP BY 1)
      SELECT brand, CAST(nm AS INTEGER) AS n_months,
             CAST(nm * sxy - sx * sy AS DOUBLE)
               / CAST(nm * sxx - sx * sx AS DOUBLE) / 100.0 AS slope,
             CAST(sy * sxx - sx * sxy AS DOUBLE)
               / CAST(nm * sxx - sx * sx AS DOUBLE) / 100.0 AS intercept
      FROM st WHERE nm >= 2 ORDER BY brand"""))

  /** Q45 — per-segment MEDIAN and MAD (median absolute deviation) of
    * order value: the robust dispersion statistic (outlier-insensitive
    * where stddev is not), as TWO passes of the grouped two-phase rank
    * operator (`OrderedPrefix.rankAndPrefixBy`): pass 1 ranks values
    * within each segment and picks rank ⌈n/2⌉ (percentile_disc lower
    * median — q41's discipline); pass 2 ranks |value − median| the same
    * way. The per-segment medians flow into pass 2 as a broadcast
    * |segments|-row frame, values are exact cents BIGINT throughout, and
    * neither pass has a single-partition exchange (grouped form) — at
    * 100 TB both passes are ordinary shuffles over (segment, $1000-bucket)
    * keys. The input frame is checkpoint-staged once and feeds both
    * passes.
    */
  val q45 = QueryDef(
    "q45_segment_mad",
    (s, dir) => {
      val seg = orders(s, dir)
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          (money(col("o_totalprice")) * 100).cast(LongType).as("cents"),
          col("o_orderkey"))
        .localCheckpoint(false)
      val r1 = graft.operators.OrderedPrefix.rankAndPrefixBy(
        seg, Seq("segment"), expr("cents div 100000"),
        Seq(col("cents"), col("o_orderkey")))
      val med = r1.filter(col("__rank") === expr("(__n + 1) div 2"))
        .select(col("segment"), col("cents").as("med_cents"))
      val dev = seg.join(broadcast(med), Seq("segment"))
        .withColumn("dev", abs(col("cents") - col("med_cents")))
      val r2 = graft.operators.OrderedPrefix.rankAndPrefixBy(
        dev, Seq("segment"), expr("dev div 100000"),
        Seq(col("dev"), col("o_orderkey")))
      r2.filter(col("__rank") === expr("(__n + 1) div 2"))
        .select(col("segment"),
          (col("med_cents").cast(DoubleType) / 100.0).as("median"),
          (col("dev").cast(DoubleType) / 100.0).as("mad"))
        .orderBy("segment")
    },
    Some("""
      WITH seg AS (
        SELECT c.c_mktsegment AS segment,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS cents,
               o.o_orderkey AS k
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      r1 AS (
        SELECT segment, cents,
               ROW_NUMBER() OVER (PARTITION BY segment ORDER BY cents, k)
                 AS rn,
               COUNT(*) OVER (PARTITION BY segment) AS n
        FROM seg),
      med AS (SELECT segment, cents AS med_cents
              FROM r1 WHERE rn = (n + 1) // 2),
      dev AS (
        SELECT s.segment, abs(s.cents - m.med_cents) AS dev, s.k,
               m.med_cents
        FROM seg s JOIN med m ON s.segment = m.segment),
      r2 AS (
        SELECT segment, dev, med_cents,
               ROW_NUMBER() OVER (PARTITION BY segment ORDER BY dev, k)
                 AS rn,
               COUNT(*) OVER (PARTITION BY segment) AS n
        FROM dev)
      SELECT segment, CAST(med_cents AS DOUBLE) / 100.0 AS median,
             CAST(dev AS DOUBLE) / 100.0 AS mad
      FROM r2 WHERE rn = (n + 1) // 2 ORDER BY segment"""))

  /** Q46 — trailing exponential smoothing (EWMA, α = 1/2) of monthly
    * revenue per nation: the time-series smoothing rung beside q44's
    * trend. Defined over the OBSERVATION sequence (LAG terms, full
    * (nation, month) tie-broken order) with binary weights 2⁷⁻ⁱ over the
    * trailing 8 observations, truncated-and-renormalized at the series
    * head: numerator and denominator are exact BIGINTs (cents × powers
    * of two), so the final smoothed value is one DOUBLE division of
    * bit-identical integers — cross-engine where a float recurrence
    * (s ← αx + (1−α)s) would accumulate engine-ordered rounding. Plan:
    * one (nation, month) agg, then a nation-partitioned window of 8
    * codegen'd LAGs over ≤ |nations|×12 rows — free at any fact scale.
    */
  val q46 = QueryDef(
    "q46_nation_ewma",
    (s, dir) => {
      val monthly = lineitem(s, dir)
        .join(orders(s, dir).filter(inYear(col("o_orderdate"), 2000))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join((customer(s, dir).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          month(col("o_orderdate")).cast(IntegerType).as("m"))
        .agg((decSumExact(col("l_extendedprice")) * 100).cast(LongType)
          .as("rev"))
      val w = Window.partitionBy(col("nation")).orderBy(col("m"))
      val terms = (0 to 7).map { i =>
        val l = if (i == 0) col("rev") else lag(col("rev"), i).over(w)
        (coalesce(l * lit(1L << (7 - i)), lit(0L)),
          when(l.isNotNull, lit(1L << (7 - i))).otherwise(lit(0L)))
      }
      val num = terms.map(_._1).reduce(_ + _)
      val den = terms.map(_._2).reduce(_ + _)
      monthly
        .withColumn("ewma",
          num.cast(DoubleType) / den.cast(DoubleType) / lit(100.0))
        .select(col("nation"), col("m"),
          (col("rev").cast(DoubleType) / 100.0).as("revenue"), col("ewma"))
        .orderBy("nation", "m")
    },
    Some(s"""
      WITH monthly AS (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(month FROM o.o_orderdate) AS INTEGER) AS m,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '2000-01-01'
          AND o.o_orderdate < TIMESTAMP '2001-01-01'
        GROUP BY 1, 2),
      sm AS (
        SELECT nation, m, rev,
               (${(0 to 7).map { i =>
                   val l = if (i == 0) "rev"
                     else s"LAG(rev, $i) OVER (PARTITION BY nation ORDER BY m)"
                   s"COALESCE($l * ${1L << (7 - i)}, 0)"
                 }.mkString(" + ")}) AS num,
               (${(0 to 7).map { i =>
                   val l = if (i == 0) "rev"
                     else s"LAG(rev, $i) OVER (PARTITION BY nation ORDER BY m)"
                   s"CASE WHEN $l IS NOT NULL THEN ${1L << (7 - i)} ELSE 0 END"
                 }.mkString(" + ")}) AS den
        FROM monthly)
      SELECT nation, m, CAST(rev AS DOUBLE) / 100.0 AS revenue,
             CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS ewma
      FROM sm ORDER BY nation, m"""))

  /** Q47 — approximate order-price percentiles via the equi-width
    * histogram sketch (`operators/HistogramQuantile`): the
    * partition-independent, fully-oracleable counterpart to built-in
    * `approx_percentile`, whose GK summary is merge-order-dependent and
    * therefore CANNOT hold a cross-engine oracle (SURVEY §8f). The
    * sketch is a pure function of (data, min, max, B=256): two scans +
    * a 256-row bucket frame, zero data shuffles beyond the partial-agg
    * combine — at 100 TB this answers "p99 order value" without the
    * exact two-phase rank's data shuffle, with error ≤ one bucket width
    * and bit-identical results on any engine. Beside it, q41/q42 remain
    * the EXACT percentile rungs; this is the sketch rung of the same
    * ladder.
    */
  val q47 = QueryDef(
    "q47_price_quantile_sketch",
    (s, dir) => {
      val cents = orders(s, dir)
        .select((money(col("o_totalprice")) * 100).cast(LongType).as("cents"))
      graft.operators.HistogramQuantile
        .percentiles(cents, col("cents"), 256, Seq(1, 25, 50, 75, 90, 99))
        .withColumn("est_price", col("estimate") / 100.0)
        .orderBy("pct")
    },
    Some("""
      WITH v AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          AS cents FROM orders),
      s AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx, COUNT(cents) AS n
            FROM v),
      h AS (SELECT ((cents - mn) * 256) // (mx - mn + 1) AS b,
                   COUNT(*) AS c
            FROM v, s GROUP BY 1),
      cum AS (SELECT b, c,
                CAST(COALESCE(SUM(c) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
              FROM h),
      t AS (SELECT CAST(p AS INTEGER) AS pct, (p * n + 99) // 100 AS tr,
                   mn, mx, n
            FROM (SELECT UNNEST([1, 25, 50, 75, 90, 99]) AS p), s),
      e AS (SELECT pct, n, b,
              mn + (b * (mx - mn + 1) + 255) // 256 AS lo,
              mn + ((b + 1) * (mx - mn + 1) + 255) // 256 - 1 AS hi,
              cb, c, tr
            FROM cum JOIN t ON cb < tr AND tr <= cb + c)
      SELECT pct, n, b AS bucket, lo, hi, cb AS cum_before, c AS in_bucket,
             CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE)
               * CAST(tr - cb - 1 AS DOUBLE) / CAST(c AS DOUBLE) AS estimate,
             (CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE)
               * CAST(tr - cb - 1 AS DOUBLE) / CAST(c AS DOUBLE)) / 100.0
               AS est_price
      FROM e ORDER BY pct"""))

  /** Q48 — event-transition matrix (Markov path analysis): per-user
    * next-event bigrams via ONE user-partitioned LEAD window (events are
    * the stream table — at scale already bucketed by user/time, so the
    * window shuffle is the natural layout), then a (src, dst) count over
    * the |types|² ≤ 64-row domain and a broadcast per-src total
    * join-back. Transition probability is one DOUBLE division of two
    * exact counts — bit-identical cross-engine. The product-analytics
    * "what do users do next" query; the per-src rows normalize to 1.
    */
  val q48 = QueryDef(
    "q48_event_transitions",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
      val srcTot = pairs.groupBy("src").agg(sum("n").as("src_n"))
      pairs.join(broadcast(srcTot), "src")
        .select(col("src"), col("dst"), col("n"),
          (col("n").cast(DoubleType) / col("src_n").cast(DoubleType))
            .as("p"))
        .orderBy("src", "dst")
    },
    Some("""
      WITH pr AS (
        SELECT event_type AS src,
               LEAD(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS dst
        FROM events),
      c AS (SELECT src, dst, COUNT(*) AS n FROM pr
            WHERE dst IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT src, SUM(n) AS src_n FROM c GROUP BY 1)
      SELECT c.src, c.dst, c.n,
             CAST(c.n AS DOUBLE) / CAST(t.src_n AS DOUBLE) AS p
      FROM c JOIN t USING (src) ORDER BY src, dst"""))

  /** Q49 — the GROUPED histogram sketch: per-market-segment order-price
    * percentiles, each segment sketched against its own min/max range.
    * Inherits OrderedPrefix's grouped improvement: the running-count
    * window is partitioned by segment, so unlike the global q47 this
    * plan has ZERO single-partition exchanges — per-group approximate
    * percentiles at 100 TB are a broadcast stats join + one
    * |groups|·B-row aggregate, fully shuffle-parallel. Exact twin:
    * q42_group_percentiles (two-phase rank). B = 128.
    */
  val q49 = QueryDef(
    "q49_segment_price_sketch",
    (s, dir) => {
      val priced = orders(s, dir)
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          (money(col("o_totalprice")) * 100).cast(LongType).as("cents"))
      graft.operators.HistogramQuantile
        .percentilesBy(priced, Seq("segment"), col("cents"), 128,
          Seq(25, 50, 90, 99))
        .withColumn("est_price", col("estimate") / 100.0)
        .orderBy("segment", "pct")
    },
    Some("""
      WITH v AS (
        SELECT c.c_mktsegment AS segment,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      s AS (SELECT segment, MIN(cents) AS mn, MAX(cents) AS mx,
                   COUNT(cents) AS n
            FROM v GROUP BY 1),
      h AS (SELECT v.segment,
                   ((cents - mn) * 128) // (mx - mn + 1) AS b,
                   COUNT(*) AS c
            FROM v JOIN s ON v.segment = s.segment GROUP BY 1, 2),
      cum AS (SELECT segment, b, c,
                CAST(COALESCE(SUM(c) OVER (PARTITION BY segment ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb
              FROM h),
      t AS (SELECT segment, CAST(p AS INTEGER) AS pct,
                   (p * n + 99) // 100 AS tr, mn, mx, n
            FROM s, (SELECT UNNEST([25, 50, 90, 99]) AS p)),
      e AS (SELECT cum.segment, pct, n, b,
              mn + (b * (mx - mn + 1) + 127) // 128 AS lo,
              mn + ((b + 1) * (mx - mn + 1) + 127) // 128 - 1 AS hi,
              cb, c, tr
            FROM cum JOIN t ON cum.segment = t.segment
              AND cb < tr AND tr <= cb + c)
      SELECT segment, pct, n, b AS bucket, lo, hi, cb AS cum_before,
             c AS in_bucket,
             CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE)
               * CAST(tr - cb - 1 AS DOUBLE) / CAST(c AS DOUBLE) AS estimate,
             (CAST(lo AS DOUBLE) + CAST(hi - lo AS DOUBLE)
               * CAST(tr - cb - 1 AS DOUBLE) / CAST(c AS DOUBLE)) / 100.0
               AS est_price
      FROM e ORDER BY segment, pct"""))

  /** Q50 — time-weighted average event value per user (the TWAP rung of
    * the time-series family, beside q46's EWMA): each observation holds
    * until the next one, so its weight is the gap to the next event —
    * ONE user-partitioned LEAD window for the gap, exact integer
    * weighting (epoch MICROseconds × cents, sub-second-exact — Σ cents·dur
    * ≤ max_cents · year-span_us ≈ 3×10¹⁸ < 2⁶³), and the final TWAP is
    * one DOUBLE division of two
    * bit-identical BIGINTs. Sensor/position/price data all average this
    * way (uniform AVG over-weights bursts); the plan is the window
    * shuffle plus a user-keyed partial agg — nothing global anywhere.
    * Top 50 users by TWAP, tie-broken, so the output is bounded.
    */
  val q50 = QueryDef(
    "q50_user_twap",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapped = events(s, dir)
        .select(col("user_id"), col("value"), col("ts"), col("event_id"))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .filter(col("next_ts").isNotNull)
        .select(col("user_id"),
          (unix_micros(col("next_ts")) - unix_micros(col("ts")))
            .as("dur"),
          (money(col("value")) * 100).cast(LongType).as("cents"))
      gapped
        .groupBy("user_id")
        .agg(sum(col("cents") * col("dur")).as("wsum"),
          sum(col("dur")).as("dsum"), count(lit(1)).as("n_obs"))
        .filter(col("dsum") > 0)
        .select(col("user_id"), col("n_obs"),
          (col("wsum").cast(DoubleType) / col("dsum").cast(DoubleType)
            / 100.0).as("twap"))
        .orderBy(col("twap").desc, col("user_id")).limit(50)
    },
    Some("""
      WITH g AS (
        SELECT user_id, value, ts,
               LEAD(ts, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS next_ts
        FROM events),
      d AS (
        SELECT user_id,
               epoch_us(next_ts) - epoch_us(ts) AS dur,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM g WHERE next_ts IS NOT NULL),
      a AS (
        SELECT user_id, CAST(SUM(cents * dur) AS BIGINT) AS wsum,
               CAST(SUM(dur) AS BIGINT) AS dsum, COUNT(*) AS n_obs
        FROM d GROUP BY 1)
      SELECT user_id, n_obs,
             CAST(wsum AS DOUBLE) / CAST(dsum AS DOUBLE) / 100.0 AS twap
      FROM a WHERE dsum > 0
      ORDER BY twap DESC, user_id LIMIT 50"""))

  /** Q51 — per-brand Pearson correlation of quantity and price (the
    * corr/covar family beside q44's regr_slope): r = (n·Σxy − Σx·Σy) /
    * (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²)), every moment an exact
    * BIGINT from ONE fact pass (x = quantity units, y = price in WHOLE
    * dollars — floor-quantized, identically on both engines), the final
    * r one fixed DOUBLE tree (sqrt of bit-identical doubles is
    * IEEE-identical) — where built-in `corr`'s per-partition float
    * folds are merge-order-dependent and could never hash-match. The
    * dollar quantization is a CORRECTNESS constraint, not convenience:
    * with cents, n·Σy² passes 2⁶³ at sf0.01 already, and the engines'
    * int128→double conversions disagree by 1 ULP (DuckDB's hugeint
    * path double-rounds) — every cast-to-double input must stay under
    * 2⁶³, which dollars hold up to n ≈ 2.4×10⁴ rows/brand · 10³ brands
    * ≈ sf0.1 ×25 (beyond that, quantize to 10-dollar units). Sums still
    * accumulate as DECIMAL(38,0) (exact, order-independent).
    * Correlation cost after the one (brand) agg is a ≤ |brands|-row
    * expression.
    */
  val q51 = QueryDef(
    "q51_brand_qty_price_corr",
    (s, dir) => {
      val E = DecimalType(38, 0)
      val li = lineitem(s, dir)
        .join((part(s, dir).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          col("l_quantity").cast(LongType).as("x"),
          floor(money(col("l_extendedprice"))).cast(LongType).as("y"))
      val m = li.groupBy("brand").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(E)).cast(E).as("sx"),
        sum(col("y").cast(E)).cast(E).as("sy"),
        sum((col("x") * col("x")).cast(E)).cast(E).as("sxx"),
        sum((col("y") * col("y")).cast(E)).cast(E).as("syy"),
        sum((col("x") * col("y")).cast(E)).cast(E).as("sxy"))
      // every moment combination stays exact DECIMAL until ONE cast to
      // DOUBLE per term — Spark clamps decimal products at (38,0) with
      // ANSI overflow checks, and the values here are far inside that
      // (worst term n·syy ≤ 1e10 · 6e19 = 6e29 at a 1e10-rows-per-brand
      // corpus). The DuckDB oracle mirrors the same tree with widths
      // sized to its 38-digit product rule.
      val nD = col("n").cast(E)
      m.select(col("brand"), col("n"),
        ((nD * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (sqrt((nD * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType)) *
           sqrt((nD * col("syy") - col("sy") * col("sy"))
            .cast(DoubleType)))).as("r"))
        .orderBy("brand")
    },
    Some("""
      WITH f AS (
        SELECT p.p_brand AS brand,
               CAST(l.l_quantity AS BIGINT) AS x,
               CAST(FLOOR(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                 AS BIGINT) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      m AS (
        SELECT brand, COUNT(*) AS n,
               CAST(COUNT(*) AS DECIMAL(9,0)) AS nd,
               CAST(SUM(x) AS DECIMAL(19,0)) AS sx,
               CAST(SUM(y) AS DECIMAL(19,0)) AS sy,
               CAST(SUM(x * x) AS DECIMAL(28,0)) AS sxx,
               CAST(SUM(y * y) AS DECIMAL(28,0)) AS syy,
               CAST(SUM(x * y) AS DECIMAL(19,0)) AS sxy
        FROM f GROUP BY 1)
      SELECT brand, n,
             CAST(nd * sxy - sx * sy AS DOUBLE) /
               (SQRT(CAST(nd * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(nd * syy - sy * sy AS DOUBLE))) AS r
      FROM m ORDER BY brand"""))

  /** Q52 — longest consecutive-order-day streak per customer: the
    * gaps-and-islands idiom (the inverse of etl_gap_fill's gap
    * detection). Distinct (customer, day) pairs; within each customer,
    * island id = epoch_day − row_number (consecutive days share it —
    * pure integer arithmetic, no session window state); the longest
    * island per customer re-aggregates the |islands| frame. Plan: one
    * distinct shuffle, one customer-partitioned window, two partial
    * aggs — nothing global; top 25 streaks output (bounded,
    * tie-broken).
    */
  val q52 = QueryDef(
    "q52_order_day_streaks",
    (s, dir) => {
      val days = orders(s, dir)
        .select(col("o_custkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast(LongType).as("d"))
        .distinct()
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      val islands = days
        .withColumn("isl", col("d") - row_number().over(w))
        .groupBy(col("o_custkey"), col("isl"))
        .agg(count(lit(1)).as("len"), min(col("d")).as("start_d"))
      // tie order (len, start_d) packed into ONE integer (start_d is an
      // epoch day < 100000): a struct-valued max/max_by buffer forces
      // the SortAggregate fallback (sorts every group), where a scalar
      // max stays in hash aggregation — the same plan-discipline reason
      // OrderedPrefix salts with integers
      islands
        .groupBy(col("o_custkey"))
        .agg(max(col("len") * 100000L + col("start_d")).as("best"))
        .select(col("o_custkey"),
          call_function("div", col("best"), lit(100000L)).as("streak_days"),
          date_add(lit("1970-01-01").cast("date"),
            (col("best") % 100000L).cast(IntegerType)).as("streak_start"))
        .orderBy(col("streak_days").desc, col("o_custkey")).limit(25)
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT o_custkey,
               CAST(DATEDIFF('day', DATE '1970-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS d
        FROM orders),
      isl AS (
        SELECT o_custkey, d,
               d - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d)
                 AS isl
        FROM days),
      runs AS (
        SELECT o_custkey, isl, COUNT(*) AS len, MIN(d) AS start_d
        FROM isl GROUP BY 1, 2),
      best AS (
        SELECT o_custkey, len, start_d,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                 ORDER BY len DESC, start_d DESC) AS rn
        FROM runs)
      SELECT o_custkey, CAST(len AS BIGINT) AS streak_days,
             DATE '1970-01-01' + CAST(start_d AS INTEGER) AS streak_start
      FROM best WHERE rn = 1
      ORDER BY streak_days DESC, o_custkey LIMIT 25"""))

  /** Q53 — ordered string aggregation (the LISTAGG / string_agg /
    * group_concat class): per region, its nations with their customer
    * counts folded into ONE deterministic text column. Determinism is
    * the whole trick: `collect_list` is partition-order-dependent, so
    * the list is array_sort'ed BEFORE joining — the result is a pure
    * function of the set, matching DuckDB's `string_agg(... ORDER BY)`
    * bit-for-bit. Counts ride inside each element ("nation:count"), so
    * a drifted count anywhere breaks the hash. Aggregation state is
    * ≤ |nations per region| elements — model-sized; the only data work
    * is the customer count, a broadcast-joined partial agg.
    */
  val q53 = QueryDef(
    "q53_region_nation_listing",
    (s, dir) => {
      val counts = customer(s, dir)
        .join(broadcast(nation(s, dir)
          .select("n_nationkey", "n_name", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
      counts
        .join(broadcast(region(s, dir).select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"))
        .agg(count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(
            concat(col("n_name"), lit(":"),
              col("n_customers").cast(StringType)))), ", ")
            .as("nations"))
        .orderBy("region")
    },
    Some("""
      WITH c AS (
        SELECT n.n_regionkey, n.n_name, COUNT(*) AS n_customers
        FROM customer cu JOIN nation n ON cu.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
      e AS (
        SELECT r.r_name AS region,
               c.n_name || ':' || CAST(c.n_customers AS VARCHAR) AS elem
        FROM c JOIN region r ON c.n_regionkey = r.r_regionkey)
      SELECT region, COUNT(*) AS n_nations,
             STRING_AGG(elem, ', ' ORDER BY elem) AS nations
      FROM e GROUP BY region ORDER BY region"""))

  /** Q54 — distinct-count SKETCH with a cross-engine oracle (linear /
    * bitmap counting): the simplest member of the sketch family beside
    * q27's portable HLL (whose registers are now md5-replayable too). Each order's custkey hashes to one of
    * m = 4096 buckets via the md5 base-16 fold (the BloomPrefilter
    * hash discipline — bit-reproducible on any engine with
    * md5/substr); the sketch STATE is the set of occupied buckets —
    * a pure function of the value SET (duplicate-invariant, partition-
    * invariant), so occupancy z is a full DuckDB oracle row, not a
    * pin. The estimate −m·ln(1−z/m) involves ln, which engines need
    * not round identically — it is deliberately NOT in the oracled
    * output; `LinearCountSpec` pins it within its published error
    * bound against the exact count (also output, as the verification
    * column). At 100 TB the sketch is a map-side expression + a
    * ≤ m-row distinct — and bucket sets from different partitions/days
    * UNION losslessly, the mergeability HLL only has through opaque
    * registers.
    */
  val q54 = QueryDef(
    "q54_distinct_sketch",
    (s, dir) => {
      val m = 4096
      val bucket = conv(substring(
        md5(col("o_custkey").cast(StringType).cast(BinaryType)), 1, 5),
        16, 10).cast(LongType) % m
      val o = orders(s, dir)
      val occ = o.select(bucket.as("b")).distinct()
        .agg(count(lit(1)).as("z_occupied"))
      val exact = o.agg(countDistinct(col("o_custkey")).as("n_exact"))
      occ.crossJoin(exact).select(lit(m).as("m"), col("z_occupied"),
        col("n_exact"))
    },
    Some("""
      WITH b AS (
        SELECT DISTINCT
          CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 5))
            AS BIGINT) % 4096 AS b
        FROM orders),
      z AS (SELECT COUNT(*) AS z_occupied FROM b),
      e AS (SELECT COUNT(DISTINCT o_custkey) AS n_exact FROM orders)
      SELECT CAST(4096 AS INTEGER) AS m, z_occupied, n_exact FROM z, e"""))

  /** Q55 — BFS levels (single-source shortest hops) over the latest-year
    * co-purchase graph: how many parts sit 0/1/2/3 hops from the seed
    * part — the graph-TRAVERSAL rung beside CC (label spread), PageRank
    * (power iteration), and triangles (pattern count). Three min-relax
    * rounds unrolled (the kmeans/pagerank discipline, which is what makes
    * an exact cross-engine oracle possible):
    * d_{i}(n) = min(d_{i-1}(n), 1 + min over in-edges of d_{i-1}(m)) —
    * each round ONE edges⋈frontier equi join + a node-keyed partial-agg
    * MIN, the textbook BSP/Pregel BFS step: at 100 TB each round is one
    * shuffle keyed by node id, cost |edges incident to the reached set|,
    * and the unreached tail is never materialized (the frontier frame
    * only holds reached nodes). Seed = MIN part id in the edge set
    * (deterministic, engine-portable); level counts are the output so
    * the hash pins every node's exact level through the count per level.
    */
  val q55 = QueryDef(
    "q55_graph_bfs_levels",
    (s, dir) => {
      val li = lineitem(s, dir)
        .join(ordersLatestYear(s, dir).select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_partkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val half = a.join(b, Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb")).distinct()
        // r16: half feeds both edge-union arms — stage it once
        .localCheckpoint(false)
      val edges = half.select(col("pa").as("src"), col("pb").as("dst"))
        .union(half.select(col("pb").as("src"), col("pa").as("dst")))
        .localCheckpoint(false)
      val d0 = edges.agg(min(col("src")).as("n"))
        .select(col("n"), lit(0).as("d"))
      // r16: each relax level is consumed TWICE (the union branch and
      // the frontier join) — without staging, level i re-executes level
      // i−1 twice, an EXPONENTIAL 2^i re-execution of the lower rounds
      // (Spark has no automatic subplan reuse). Stage each round once —
      // exactly the per-superstep materialization a BSP/Pregel engine
      // does anyway.
      def relax(dist: DataFrame): DataFrame = {
        val f = dist.select(col("n").as("fn"), col("d").as("fd"))
        dist.select(col("n"), col("d"))
          .union(edges.join(f, col("src") === col("fn"))
            .select(col("dst").as("n"), (col("fd") + 1).as("d")))
          .groupBy(col("n")).agg(min(col("d")).as("d"))
          .localCheckpoint(false)
      }
      val d3 = relax(relax(relax(d0)))
      d3.groupBy(col("d"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(col("d").cast(IntegerType).as("level"), col("n_nodes"))
        .orderBy("level")
    },
    Some("""
      WITH yr AS (
        SELECT o_orderkey FROM orders
        WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)),
      half AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN yr ON a.l_orderkey = yr.o_orderkey),
      e AS (
        SELECT pa AS src, pb AS dst FROM half
        UNION ALL SELECT pb, pa FROM half),
      d0 AS (SELECT MIN(src) AS n, 0 AS d FROM e),
      d1 AS (SELECT n, MIN(d) AS d FROM (
        SELECT n, d FROM d0 UNION ALL
        SELECT e.dst, d0.d + 1 FROM e JOIN d0 ON e.src = d0.n) GROUP BY n),
      d2 AS (SELECT n, MIN(d) AS d FROM (
        SELECT n, d FROM d1 UNION ALL
        SELECT e.dst, d1.d + 1 FROM e JOIN d1 ON e.src = d1.n) GROUP BY n),
      d3 AS (SELECT n, MIN(d) AS d FROM (
        SELECT n, d FROM d2 UNION ALL
        SELECT e.dst, d2.d + 1 FROM e JOIN d2 ON e.src = d2.n) GROUP BY n)
      SELECT CAST(d AS INTEGER) AS level, COUNT(*) AS n_nodes
      FROM d3 GROUP BY 1 ORDER BY level"""))

  /** Q56 — the GROUPED form of q54's oracleable linear-counting sketch:
    * per-segment approximate distinct ordering customers. The sketch
    * state per group is its occupied-bucket SET ((segment, bucket)-keyed
    * distinct — duplicate- and partition-invariant, so occupancy is a
    * full cross-engine row), total state ≤ |groups|·m where exact
    * per-group COUNT(DISTINCT) shuffles every distinct key — the
    * per-partition cardinality-stats shape a 100 TB catalog collects.
    * The exact count rides beside it so the hash also pins the error
    * envelope the estimate would be derived from (the −m·ln(1−z/m)
    * estimate itself stays un-oracled for the q54 reason: engines' ln
    * rounding differs). The customer join carries no hint (AQE
    * broadcasts while the projection fits, shuffles beyond — customer
    * scales with SF); both aggs are
    * shuffle-parallel partial aggs; the final occ⋈exact join is
    * |segments|-sized.
    */
  val q56 = QueryDef(
    "q56_segment_distinct_sketch",
    (s, dir) => {
      val m = 4096
      val bucket = conv(substring(
        md5(col("o_custkey").cast(StringType).cast(BinaryType)), 1, 5),
        16, 10).cast(LongType) % m
      val j = orders(s, dir)
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_custkey"), bucket.as("b"))
      val occ = j.select(col("c_mktsegment"), col("b")).distinct()
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("z_occupied"))
      val exact = j.groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      // both sides are ≤ |segments| rows, but the agg-over-join stats
      // estimate is too big to auto-broadcast — hint the exact frame
      // (structurally group-count-sized at any scale)
      occ.join(broadcast(exact), Seq("c_mktsegment"))
        .select(col("c_mktsegment"), lit(m).as("m"),
          col("z_occupied"), col("n_exact"))
        .orderBy("c_mktsegment")
    },
    Some("""
      WITH j AS (
        SELECT c_mktsegment, o_custkey,
               CAST(('0x' || SUBSTR(MD5(CAST(o_custkey AS VARCHAR)), 1, 5))
                 AS BIGINT) % 4096 AS b
        FROM orders JOIN customer ON o_custkey = c_custkey),
      occ AS (
        SELECT c_mktsegment, COUNT(*) AS z_occupied
        FROM (SELECT DISTINCT c_mktsegment, b FROM j) GROUP BY 1),
      e AS (
        SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS n_exact
        FROM j GROUP BY 1)
      SELECT occ.c_mktsegment, CAST(4096 AS INTEGER) AS m,
             z_occupied, n_exact
      FROM occ JOIN e ON occ.c_mktsegment = e.c_mktsegment
      ORDER BY occ.c_mktsegment"""))

  /** Q57 — the RELATIONAL pivot operator (RelationalGroupedDataset
    * .pivot), beside q18's pivot-by-CASE expression form: latest-year
    * revenue per nation spread across quarter columns. The scale
    * discipline is the EXPLICIT value list: with values provided the
    * pivot compiles to one pass of conditional aggregates (exactly
    * q18's plan); omitting them makes Spark first run a driver-side
    * distinct-values job over the pivot column — an extra full scan
    * plus a collect that dies on high-cardinality pivot keys. Spark
    * names pivot output columns by value, so both engines alias to
    * q1_rev..q4_rev explicitly. Empty cells are NULL in both engines
    * (SUM over no rows), not zero.
    */
  val q57 = QueryDef(
    "q57_nation_quarter_pivot",
    (s, dir) => {
      val j = ordersLatestYear(s, dir)
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), quarter(col("o_orderdate")).as("qtr"),
          col("o_totalprice"))
      j.groupBy(col("n_name"))
        .pivot("qtr", Seq(1, 2, 3, 4))
        .agg(sum(money(col("o_totalprice"))).cast(DoubleType))
        .select(col("n_name"), col("1").as("q1_rev"), col("2").as("q2_rev"),
          col("3").as("q3_rev"), col("4").as("q4_rev"))
        .orderBy("n_name")
    },
    Some("""
      WITH o AS (
        SELECT * FROM orders
        WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)),
      j AS (
        SELECT n_name, quarter(o_orderdate) AS q,
               CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM o
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey)
      SELECT n_name,
             CAST(SUM(CASE WHEN q = 1 THEN v END) AS DOUBLE) AS q1_rev,
             CAST(SUM(CASE WHEN q = 2 THEN v END) AS DOUBLE) AS q2_rev,
             CAST(SUM(CASE WHEN q = 3 THEN v END) AS DOUBLE) AS q3_rev,
             CAST(SUM(CASE WHEN q = 4 THEN v END) AS DOUBLE) AS q4_rev
      FROM j GROUP BY 1 ORDER BY n_name"""))

  /** Q58 — trailing 7-day rolling DISTINCT users per day, the classic
    * scale-killer (COUNT(DISTINCT) doesn't decompose over sliding
    * windows, so there is no window-function form): realized by the
    * DAY-EXPAND trick — each distinct (event_day, key) contributes
    * itself to target days d..d+6 (a map-side ×7 explode on the
    * DEDUPED day-key stream, never the raw events), then one
    * (day, key)-keyed distinct + per-day count. Both rungs computed:
    * the EXACT foil expands the (day, user) stream — 7× the distinct-
    * pairs volume, the cost that explodes when users-per-day is huge —
    * and the linear-counting SKETCH rung (the q54/q56 family) expands
    * (day, bucket), capping the expanded stream at days·m rows no
    * matter the cardinality; its occupied-bucket union across the 7
    * days IS the window's sketch state (bucket sets merge losslessly —
    * LinearCountSpec). Both are exact integers, fully cross-engine.
    * Target days are semi-joined to days PRESENT in the data.
    */
  val q58 = QueryDef(
    "q58_rolling_distinct_users",
    (s, dir) => {
      val m = 4096
      // ONE events scan: withSketch stages the deduped (day, user) frame
      // once and derives present days and the bucket stream from it (the
      // bucket is a pure function of the key, so distinct-then-hash ≡
      // hash-then-distinct). The first cut scanned events 4×.
      graft.operators.RollingDistinct.withSketch(
          events(s, dir).select(to_date(col("ts")).as("eday"),
            col("user_id")),
          "eday", "user_id", windowDays = 7, m = m)
        .select(col("day"), lit(m).as("m"), col("z_occupied"),
          col("n_distinct").as("n_exact"))
        .orderBy("day")
    },
    Some("""
      WITH present AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      offs AS (SELECT UNNEST(generate_series(0, 6)) AS x),
      du AS (SELECT DISTINCT CAST(ts AS DATE) AS eday, user_id FROM events),
      exu AS (
        SELECT DISTINCT du.eday + CAST(offs.x AS INTEGER) AS day, du.user_id
        FROM du, offs),
      e AS (
        SELECT exu.day, COUNT(*) AS n_exact
        FROM exu JOIN present p ON exu.day = p.day GROUP BY 1),
      db AS (
        SELECT DISTINCT CAST(ts AS DATE) AS eday,
               CAST(('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 5))
                 AS BIGINT) % 4096 AS b
        FROM events),
      exb AS (
        SELECT DISTINCT db.eday + CAST(offs.x AS INTEGER) AS day, db.b
        FROM db, offs),
      z AS (
        SELECT exb.day, COUNT(*) AS z_occupied
        FROM exb JOIN present p ON exb.day = p.day GROUP BY 1)
      SELECT z.day, CAST(4096 AS INTEGER) AS m, z_occupied, n_exact
      FROM z JOIN e ON z.day = e.day
      ORDER BY z.day"""))

  /** The STREAMING rolling-distinct maintainer
    * (streaming/StreamingRollingDistinct — the sketch's occupied-bucket
    * set per day held as driver state, bounded at days·m rows no matter
    * the user cardinality) driven as a batch replay in three
    * deterministic micro-batches and proven equivalent to [[q58]] by
    * sharing its oracle VERBATIM (the stream_heavy_hitters twin
    * discipline): bucket-set union is idempotent, commutative and
    * associative, so any batching — including cross-batch duplicate
    * (day, user) pairs — folds to the one-shot sketch. The
    * STREAM-MAINTAINED column is z_occupied (read from the folded
    * state); n_exact is the batch-side reference column the q58
    * dashboard shape carries, joined one-shot — the exact rung is
    * precisely what a streaming deployment does NOT hold (its state
    * would grow with distinct users), which is the reason this
    * maintainer exists.
    */
  val q58Stream = QueryDef(
    "stream_rolling_distinct",
    (s, dir) => {
      val mBuckets = 4096
      val ev = events(s, dir).select(to_date(col("ts")).as("eday"),
        col("user_id"), col("event_id"))
      val m = new graft.streaming.StreamingRollingDistinct.Maintainer(
        "eday", "user_id", windowDays = 7, m = mBuckets)
      (0 until 3).foreach(i =>
        m.absorb(ev.filter(pmod(col("event_id"), lit(3)) === i)))
      val occ = m.currentOccupancy.get
      val exact = graft.operators.RollingDistinct.exact(
        ev, "eday", "user_id", windowDays = 7)
        .withColumnRenamed("n_distinct", "n_exact")
      occ.join(broadcast(exact), Seq("day"))
        .select(col("day"), lit(mBuckets).as("m"), col("z_occupied"),
          col("n_exact"))
        .orderBy("day")
    },
    q58.oracle)

  /** Q59 — FIRST_VALUE / LAST_VALUE with explicit frames (the W-family
    * rung LAG/LEAD/RANK/RANGE left uncovered): each customer's first
    * versus latest order value and their exact-cents delta, top-25 by
    * delta. The semantic trap this query pins: the DEFAULT window frame
    * is RANGE UNBOUNDED PRECEDING..CURRENT ROW, under which LAST_VALUE
    * returns the CURRENT row — both engines need the explicit ROWS
    * BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING frame for
    * "latest". Window ORDER BY carries (date, orderkey) so ties are
    * deterministic; one customer-partitioned window + per-customer
    * collapse, nothing global until the bounded top-25.
    */
  val q59 = QueryDef(
    "q59_first_last_order_value",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      orders(s, dir)
        .select(col("o_custkey"),
          first_value(money(col("o_totalprice"))).over(full).as("first_v"),
          last_value(money(col("o_totalprice"))).over(full).as("last_v"),
          count(lit(1)).over(full).as("n_orders"))
        .distinct()
        .select(col("o_custkey"),
          col("first_v").cast(DoubleType).as("first_value"),
          col("last_v").cast(DoubleType).as("last_value"),
          (col("last_v") - col("first_v")).cast(DoubleType).as("delta"),
          col("n_orders"))
        .orderBy(col("delta").desc, col("o_custkey")).limit(25)
    },
    Some("""
      WITH f AS (
        SELECT o_custkey,
               FIRST_VALUE(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
                 AS first_v,
               LAST_VALUE(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
                 AS last_v,
               COUNT(*) OVER w AS n_orders
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING)),
      d AS (SELECT DISTINCT o_custkey, first_v, last_v, n_orders FROM f)
      SELECT o_custkey, CAST(first_v AS DOUBLE) AS first_value,
             CAST(last_v AS DOUBLE) AS last_value,
             CAST(last_v - first_v AS DOUBLE) AS delta, n_orders
      FROM d ORDER BY delta DESC, o_custkey LIMIT 25"""))

  /** Q60 — time-SERIES similarity search (the EDBT'19 streaming-series
    * class of the retrieved corpus): which nations' monthly-revenue
    * series move together — top-10 nation PAIRS by Pearson correlation
    * of their aligned series. Distinct from q51 (which correlates two
    * columns WITHIN a group): here the join is BETWEEN series —
    * alignment is a month-keyed equi self-join of the |entities|×|months|
    * series frame (staged once), pair moments are exact-DECIMAL sums
    * (the q51 overflow discipline: values in whole dollars so every
    * int64 product stays under 2⁶³), and r is the fixed DOUBLE tree of
    * bit-identical integers. Degenerate pairs (n < 3 or zero variance)
    * are filtered on EXACT integer variance terms — a NaN from a 0/0
    * division would hit engine-specific NaN sort placement. Scale: the
    * per-month pair fanout is |series active that month|² — fine for
    * dimension-sized entity counts; at large entity counts the
    * candidate step is where a PAA/LSH prune slots in (the ANN-ladder
    * discipline), with the moment math unchanged.
    */
  val q60 = QueryDef(
    "q60_nation_series_similarity",
    (s, dir) => {
      val E = DecimalType(38, 0)
      val series = orders(s, dir)
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("ym"))
        .agg(floor(sum(money(col("o_totalprice")))).cast(LongType).as("v"))
        .localCheckpoint(false)
      val a = series.select(col("n_name").as("na"), col("ym"),
        col("v").as("va"))
      val b = series.select(col("n_name").as("nb"), col("ym"),
        col("v").as("vb"))
      val m = a.join(b, Seq("ym")).filter(col("na") < col("nb"))
        .groupBy(col("na"), col("nb")).agg(
          count(lit(1)).as("n"),
          sum(col("va").cast(E)).cast(E).as("sx"),
          sum(col("vb").cast(E)).cast(E).as("sy"),
          sum((col("va") * col("va")).cast(E)).cast(E).as("sxx"),
          sum((col("vb") * col("vb")).cast(E)).cast(E).as("syy"),
          sum((col("va") * col("vb")).cast(E)).cast(E).as("sxy"))
      val nD = col("n").cast(E)
      val vx = nD * col("sxx") - col("sx") * col("sx")
      val vy = nD * col("syy") - col("sy") * col("sy")
      m.filter(col("n") >= 3 && vx > 0 && vy > 0)
        .select(col("na"), col("nb"), col("n"),
          ((nD * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (sqrt(vx.cast(DoubleType)) * sqrt(vy.cast(DoubleType))))
            .as("r"))
        .orderBy(col("r").desc, col("na"), col("nb")).limit(10)
    },
    Some("""
      WITH series AS (
        SELECT n_name,
               CAST(year(o_orderdate) AS INTEGER) * 100
                 + CAST(month(o_orderdate) AS INTEGER) AS ym,
               CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2))))
                 AS BIGINT) AS v
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      m AS (
        SELECT a.n_name AS na, b.n_name AS nb, COUNT(*) AS n,
               CAST(COUNT(*) AS DECIMAL(9,0)) AS nd,
               CAST(SUM(a.v) AS DECIMAL(19,0)) AS sx,
               CAST(SUM(b.v) AS DECIMAL(19,0)) AS sy,
               CAST(SUM(a.v * a.v) AS DECIMAL(28,0)) AS sxx,
               CAST(SUM(b.v * b.v) AS DECIMAL(28,0)) AS syy,
               CAST(SUM(a.v * b.v) AS DECIMAL(28,0)) AS sxy
        FROM series a JOIN series b
          ON a.ym = b.ym AND a.n_name < b.n_name
        GROUP BY 1, 2)
      SELECT na, nb, n,
             CAST(nd * sxy - sx * sy AS DOUBLE) /
               (SQRT(CAST(nd * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(nd * syy - sy * sy AS DOUBLE))) AS r
      FROM m
      WHERE n >= 3 AND nd * sxx - sx * sx > 0 AND nd * syy - sy * sy > 0
      ORDER BY r DESC, na, nb LIMIT 10"""))

  /** Q61 — year-over-year growth with CALENDAR alignment (the retail
    * dashboard op beside q09's month-over-month LAG): each nation-month's
    * revenue against the SAME month one year earlier. The correctness
    * lesson is the alignment mechanism: `LAG(12)` over the month sequence
    * silently mis-aligns whenever any month is missing from a series
    * (it reads "12 observations back", not "12 months back") — the sound
    * form is a self-join on (nation, year − 1, month), which is also the
    * scale-right plan: the joined frame is the |nations|×|months|
    * AGGREGATE, so the join is model-sized at any fact scale, keyed and
    * shuffle-parallel, with no window sort at all. Growth% is one DOUBLE
    * division of exact cents (NULL where no prior-year month — left
    * join, no fabricated zeros).
    */
  val q61 = QueryDef(
    "q61_yoy_calendar_growth",
    (s, dir) => {
      val monthly = orders(s, dir)
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mon"))
        .agg(decSumExact(col("o_totalprice")).as("rev"))
        .localCheckpoint(false)
      val prev = monthly.select(col("n_name"), (col("yr") + 1).as("yr"),
        col("mon"), col("rev").as("prev_rev"))
      // the prev side is the |nations|×|months| aggregate — broadcast is
      // structurally right at dimension cardinality (the checkpoint's
      // opaque stats would otherwise force an SMJ); at SKU-level YoY
      // (millions of entities) drop the hint and let the keyed join
      // shuffle both model-sized sides
      monthly.join(broadcast(prev), Seq("n_name", "yr", "mon"), "left")
        .select(col("n_name"), col("yr").cast(IntegerType).as("yr"),
          col("mon").cast(IntegerType).as("mon"),
          col("rev").cast(DoubleType).as("rev"),
          col("prev_rev").cast(DoubleType).as("prev_rev"),
          ((col("rev") - col("prev_rev")).cast(DoubleType) * 100.0 /
            col("prev_rev").cast(DoubleType)).as("yoy_pct"))
        .orderBy("n_name", "yr", "mon")
    },
    Some("""
      WITH monthly AS (
        SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mon,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(18,2)) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2, 3)
      SELECT m.n_name, m.yr, m.mon,
             CAST(m.rev AS DOUBLE) AS rev,
             CAST(p.rev AS DOUBLE) AS prev_rev,
             CAST(m.rev - p.rev AS DOUBLE) * 100.0
               / CAST(p.rev AS DOUBLE) AS yoy_pct
      FROM monthly m
      LEFT JOIN monthly p
        ON m.n_name = p.n_name AND m.yr = p.yr + 1 AND m.mon = p.mon
      ORDER BY m.n_name, m.yr, m.mon"""))

  /** Q62 — conversion rate with a 95% WILSON SCORE interval per customer
    * segment (the A/B-test / experiment-readout rung beside the point
    * estimates the rest of the suite reports): of users with a `view`
    * event, what fraction also `purchase`, with the interval that says
    * whether two segments actually differ. Wilson (not normal/Wald)
    * because it is well-behaved at small n and p near 0/1 — the regime
    * experiment cells live in. Cross-engine discipline: trials and
    * successes are exact BIGINTs from one per-user flag aggregation
    * (user-keyed, partial-agg friendly; the per-user frame is
    * |users|-sized, never |events|), and the bound is ONE fixed DOUBLE
    * tree over those integers with the literal z = 1.96 spelled
    * identically in both engines — products/quotients of bit-identical
    * doubles and a correctly-rounded sqrt are IEEE-identical, so the
    * interval hash-matches where any engine-ordered float fold would
    * not (the q51 lesson). Zero-trial segments are filtered (0/0 is
    * NaN and engines disagree on NaN placement in ORDER BY).
    */
  val q62 = QueryDef(
    "q62_segment_conversion_ci",
    (s, dir) => {
      val perUser = events(s, dir)
        .select(col("user_id"), col("event_type"))
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "view", 1).otherwise(0))
            .as("has_view"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("has_buy"))
      perUser
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(
          sum(col("has_view")).cast(LongType).as("n_view"),
          sum(when(col("has_view") === 1 && col("has_buy") === 1, 1)
            .otherwise(0)).cast(LongType).as("n_conv"))
        .where(col("n_view") > 0)
        .selectExpr(
          "segment", "n_view", "n_conv",
          "CAST(n_conv AS DOUBLE) / CAST(n_view AS DOUBLE) AS rate",
          """(CAST(n_conv AS DOUBLE) / CAST(n_view AS DOUBLE)
             + (1.96*1.96) / (2.0*CAST(n_view AS DOUBLE))
             - 1.96 * sqrt(CAST(n_conv AS DOUBLE)/CAST(n_view AS DOUBLE)
                 * (1.0 - CAST(n_conv AS DOUBLE)/CAST(n_view AS DOUBLE))
                 / CAST(n_view AS DOUBLE)
               + (1.96*1.96)
                 / (4.0*CAST(n_view AS DOUBLE)*CAST(n_view AS DOUBLE))))
             / (1.0 + (1.96*1.96)/CAST(n_view AS DOUBLE)) AS wilson_lo""",
          """(CAST(n_conv AS DOUBLE) / CAST(n_view AS DOUBLE)
             + (1.96*1.96) / (2.0*CAST(n_view AS DOUBLE))
             + 1.96 * sqrt(CAST(n_conv AS DOUBLE)/CAST(n_view AS DOUBLE)
                 * (1.0 - CAST(n_conv AS DOUBLE)/CAST(n_view AS DOUBLE))
                 / CAST(n_view AS DOUBLE)
               + (1.96*1.96)
                 / (4.0*CAST(n_view AS DOUBLE)*CAST(n_view AS DOUBLE))))
             / (1.0 + (1.96*1.96)/CAST(n_view AS DOUBLE)) AS wilson_hi""")
        .orderBy("segment")
    },
    Some("""
      WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS has_view,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS has_buy
        FROM events GROUP BY user_id),
      seg AS (
        SELECT c_mktsegment AS segment,
               CAST(SUM(has_view) AS BIGINT) AS n_view,
               CAST(SUM(CASE WHEN has_view = 1 AND has_buy = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
        FROM per_user JOIN customer ON user_id = c_custkey
        GROUP BY 1)
      SELECT segment, n_view, n_conv,
        CAST(n_conv AS DOUBLE) / CAST(n_view AS DOUBLE) AS rate,
        (CAST(n_conv AS DOUBLE) / CAST(n_view AS DOUBLE)
           + (1.96*1.96) / (2.0*CAST(n_view AS DOUBLE))
           - 1.96 * sqrt(CAST(n_conv AS DOUBLE)/CAST(n_view AS DOUBLE)
               * (1.0 - CAST(n_conv AS DOUBLE)/CAST(n_view AS DOUBLE))
               / CAST(n_view AS DOUBLE)
             + (1.96*1.96)
               / (4.0*CAST(n_view AS DOUBLE)*CAST(n_view AS DOUBLE))))
           / (1.0 + (1.96*1.96)/CAST(n_view AS DOUBLE)) AS wilson_lo,
        (CAST(n_conv AS DOUBLE) / CAST(n_view AS DOUBLE)
           + (1.96*1.96) / (2.0*CAST(n_view AS DOUBLE))
           + 1.96 * sqrt(CAST(n_conv AS DOUBLE)/CAST(n_view AS DOUBLE)
               * (1.0 - CAST(n_conv AS DOUBLE)/CAST(n_view AS DOUBLE))
               / CAST(n_view AS DOUBLE)
             + (1.96*1.96)
               / (4.0*CAST(n_view AS DOUBLE)*CAST(n_view AS DOUBLE))))
           / (1.0 + (1.96*1.96)/CAST(n_view AS DOUBLE)) AS wilson_hi
      FROM seg WHERE n_view > 0 ORDER BY segment"""))

  /** Q63 — cumulative distinct users by day (the growth-curve /
    * "total uniques to date" dashboard line). The scale lesson is the
    * EXPANDING-window COUNT(DISTINCT) decomposition: unlike the trailing
    * window (q58, which must expand day×key because a sliding window
    * FORGETS), the cumulative count is monotone — a user counts on
    * exactly one day, their FIRST — so distinct-to-date(d) ≡ Σ_{d'≤d}
    * |{users first seen on d'}|. The plan is one user-keyed MIN agg
    * (|users|-sized, partial-agg friendly), one day-keyed count
    * (|days|-sized), and a prefix sum over the day frame via
    * [[graft.operators.OrderedPrefix]] with a month bucket — so the
    * only single-partition exchange in the plan is the month-histogram
    * frame (PlanSweep's `__b`/`__c`/`__s` bounded class), never data.
    * A naive `COUNT(DISTINCT) OVER (ORDER BY day)` either re-scans per
    * day (quadratic) or holds the full user set in one window state.
    */
  val q63 = QueryDef(
    "q63_cumulative_distinct_users",
    (s, dir) => {
      val firstSeen = events(s, dir)
        .where(col("user_id").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy("user_id").agg(min(col("day")).as("d0"))
      val daily = firstSeen
        .groupBy(col("d0").as("day"))
        .agg(count(lit(1)).as("new_users"))
      graft.operators.OrderedPrefix
        .rankAndPrefix(daily, trunc(col("day"), "month"), Seq(col("day")),
          Some(col("new_users")))
        .select(col("day"), col("new_users").cast(LongType).as("new_users"),
          col("__prefix").cast(LongType).as("cum_users"))
        .orderBy("day")
    },
    Some("""
      WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
        FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      daily AS (
        SELECT d0 AS day, COUNT(*) AS new_users FROM first_seen GROUP BY 1)
      SELECT day, CAST(new_users AS BIGINT) AS new_users,
             CAST(SUM(new_users) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_users
      FROM daily ORDER BY day"""))

  /** Q64 — WEIGHTED quantiles (per-nation p25/50/75 of line discount,
    * weighted by units sold): "half the UNITS moved at a discount at or
    * below X bps" — the pricing-analytics stat where each row carries a
    * weight, distinct from the row-count percentiles of q41/q42. The
    * construction generalizes the two-phase rank: `OrderedPrefix`'s
    * running SUM (`__prefix` over qty, not `__rank` over rows) is the
    * weighted CDF, and the p-quantile is the unique crossing row
    * `__prefix − qty < t ≤ __prefix` with t = ceil(p·W/100) in integer
    * arithmetic (uniqueness because positive weights make the running
    * sum strictly increasing — qty ≤ 0 rows are filtered, documented).
    * The selected VALUE is tie-order invariant: rows tying on bps may
    * reorder under a different tie-break, but the crossing row's bps is
    * the same. Grouped form ⇒ zero single-partition exchanges; targets
    * ride a 3-row literal crossJoin (the q42 discipline). Discount is
    * exact basis points (DECIMAL(18,4)·10⁴ — the Money round-trip),
    * quantity an exact BIGINT.
    */
  val q64 = QueryDef(
    "q64_weighted_discount_quantiles",
    (s, dir) => {
      import s.implicits._
      val li = lineitem(s, dir).select(col("l_suppkey"),
        (col("l_discount").cast(DecimalType(18, 4)) * 10000)
          .cast(LongType).as("bps"),
        col("l_quantity").cast(DecimalType(18, 0)).cast(LongType).as("qty"),
        col("l_orderkey"), col("l_linenumber"))
        .where(col("qty") > 0)
      val rows = li
        .join((supplier(s, dir)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("bps"), col("qty"),
          col("l_orderkey"), col("l_linenumber"))
      val pref = graft.operators.OrderedPrefix.rankAndPrefixBy(
        rows, Seq("n_name"), col("bps"),
        Seq(col("bps"), col("l_orderkey"), col("l_linenumber")),
        Some(col("qty")))
      val ps = Seq(25, 50, 75).toDF("pct")
      pref.crossJoin(broadcast(ps))
        .withColumn("t", expr("(pct * __total + 99) div 100"))
        .where(col("__prefix") - col("qty") < col("t") &&
          col("t") <= col("__prefix"))
        .select(col("n_name"), col("pct"),
          col("__total").cast(LongType).as("total_qty"),
          col("t").cast(LongType).as("target_qty"),
          col("bps").as("discount_bps"))
        .orderBy("n_name", "pct")
    },
    Some("""
      WITH rows_ AS (
        SELECT n_name,
               CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)
                 AS bps,
               CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS qty,
               l_orderkey, l_linenumber
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) > 0),
      pref AS (
        SELECT n_name, bps, qty,
               SUM(qty) OVER (PARTITION BY n_name
                 ORDER BY bps, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
               SUM(qty) OVER (PARTITION BY n_name) AS w
        FROM rows_)
      SELECT n_name, pct, CAST(w AS BIGINT) AS total_qty,
             CAST((pct * w + 99) // 100 AS BIGINT) AS target_qty,
             bps AS discount_bps
      FROM pref CROSS JOIN (VALUES (25), (50), (75)) AS p(pct)
      WHERE run - qty < (pct * w + 99) // 100
        AND (pct * w + 99) // 100 <= run
      ORDER BY n_name, pct"""))

  /** Q65 — multi-step ORDERED funnel (view → click → purchase, each step
    * at-or-after the previous): the product-analytics funnel proper,
    * past the 2-step etl_click_purchase_funnel. The sequencing is
    * chained conditional MINs — t₂ = min click ts ≥ t₁, t₃ = min
    * purchase ts ≥ t₂ — realized as three stacked window expressions
    * over ONE user partition: same partition spec, so Spark reuses a
    * single user-keyed exchange for all three Window nodes (one
    * shuffle of the events, no joins, no interval machinery; the
    * per-user frame is events-per-user bounded, the funnel's natural
    * skew bound). Per-user step times collapse by distinct, then one
    * scalar agg counts each step's survivors; conversion is a DOUBLE
    * division of exact counts. Boundary: an event AT the previous
    * step's instant counts (≥, the multitouch convention).
    */
  val q65 = QueryDef(
    "q65_ordered_funnel_steps",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      val staged = events(s, dir)
        .where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" &&
            col("ts") >= col("t1"), col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" &&
            col("ts") >= col("t2"), col("ts"))).over(w))
        .select(col("user_id"), col("t1"), col("t2"), col("t3"))
        .distinct()
      val counts = staged.agg(
        count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      counts.where(col("n1") > 0).selectExpr(
        """stack(3,
             1, n1, CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE),
             2, n2, CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE),
             3, n3, CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE))
           AS (step, users, conv_from_first)""")
        .select(col("step").cast(IntegerType).as("step"),
          col("users").cast(LongType).as("users"),
          col("conv_from_first"))
        .orderBy("step")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type, ts::TIMESTAMP AS ts
        FROM events WHERE user_id IS NOT NULL),
      u1 AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM e GROUP BY 1),
      u2 AS (
        SELECT u1.user_id, t1,
               MIN(CASE WHEN event_type = 'click' AND ts >= t1
                        THEN ts END) AS t2
        FROM u1 JOIN e ON u1.user_id = e.user_id GROUP BY 1, 2),
      u3 AS (
        SELECT u2.user_id, t1, t2,
               MIN(CASE WHEN event_type = 'purchase' AND ts >= t2
                        THEN ts END) AS t3
        FROM u2 JOIN e ON u2.user_id = e.user_id GROUP BY 1, 2, 3),
      s AS (SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3
            FROM u3)
      SELECT CAST(step AS INTEGER) AS step, CAST(users AS BIGINT) AS users,
             conv_from_first
      FROM (
        SELECT 1 AS step, n1 AS users,
               CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS conv_from_first
        FROM s WHERE n1 > 0
        UNION ALL
        SELECT 2, n2, CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)
        FROM s WHERE n1 > 0
        UNION ALL
        SELECT 3, n3, CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE)
        FROM s WHERE n1 > 0)
      ORDER BY step"""))

  /** Q66 — share-of-parent contribution (ratio_to_report): each nation's
    * revenue as a % of its region and of the grand total — the BI
    * "contribution" rung beside the ROLLUP absolutes (q17). Scale shape:
    * all ratio work happens AFTER the one fact aggregation, on the
    * |nations|-sized frame — the region subtotal is a region-partitioned
    * window over that model-sized frame (shuffle-parallel), and the
    * grand total is a scalar aggregate broadcast back (the bounded
    * form PlanSweep accepts; a window-over-() would be an unbounded
    * single-partition exchange signature even though the frame is
    * small). Numerators/denominators are exact DECIMAL cents; each pct
    * is one fixed DOUBLE tree.
    */
  val q66 = QueryDef(
    "q66_nation_region_share",
    (s, dir) => {
      val nat = orders(s, dir)
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)
          .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(decSumExact(col("o_totalprice")).as("rev"))
      val w = Window.partitionBy(col("r_name"))
      val total = nat.agg(sum(col("rev")).as("grand"))
      nat.withColumn("region_rev", sum(col("rev")).over(w))
        .crossJoin(broadcast(total))
        .select(col("r_name"), col("n_name"),
          col("rev").cast(DoubleType).as("revenue"),
          (col("rev").cast(DoubleType) * 100.0 /
            col("region_rev").cast(DoubleType)).as("pct_of_region"),
          (col("rev").cast(DoubleType) * 100.0 /
            col("grand").cast(DoubleType)).as("pct_of_total"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      WITH nat AS (
        SELECT r_name, n_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DECIMAL(18,2)) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2)
      SELECT r_name, n_name, CAST(rev AS DOUBLE) AS revenue,
             CAST(rev AS DOUBLE) * 100.0
               / CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE)
               AS pct_of_region,
             CAST(rev AS DOUBLE) * 100.0
               / CAST((SELECT SUM(rev) FROM nat) AS DOUBLE)
               AS pct_of_total
      FROM nat ORDER BY r_name, n_name"""))

  /** Q67 — time-to-convert percentiles (p50/90/99 seconds from first
    * view to the ordered purchase): the funnel LATENCY readout beside
    * q65's counts — "half our converters convert within X". Composes
    * q65's one-exchange window staging with the two-phase exact rank
    * (`OrderedPrefix`, hour buckets): the delay frame is one row per
    * converter, the only single-partition work is the bucket histogram,
    * and the percentile is exact (`percentile_disc` semantics, integer
    * rank targets — the q41/q42 discipline). Delay in integer seconds
    * (millis div 1000, identical truncation both engines on the
    * non-negative diff — the funnel guarantees t3 ≥ t1).
    */
  val q67 = QueryDef(
    "q67_conversion_delay_percentiles",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      val staged = events(s, dir)
        .where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" &&
            col("ts") >= col("t1"), col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" &&
            col("ts") >= col("t2"), col("ts"))).over(w))
        .select(col("user_id"), col("t1"), col("t3"))
        .distinct()
      val delays = staged.where(col("t3").isNotNull)
        .select(col("user_id"),
          expr("(unix_millis(t3) - unix_millis(t1)) div 1000").as("delay_s"))
      val ranked = graft.operators.OrderedPrefix.rankAndPrefix(
        delays, expr("delay_s div 3600"),
        Seq(col("delay_s"), col("user_id")))
      val ps = Seq(50, 90, 99).toDF("p")
      ranked.crossJoin(broadcast(ps))
        .filter(col("__rank") === expr("(p * __n + 99) div 100"))
        .select(col("p"), col("__n").cast(LongType).as("n_converters"),
          col("delay_s"))
        .orderBy("p")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type, ts::TIMESTAMP AS ts
        FROM events WHERE user_id IS NOT NULL),
      u1 AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM e GROUP BY 1),
      u2 AS (
        SELECT u1.user_id, t1,
               MIN(CASE WHEN event_type = 'click' AND ts >= t1
                        THEN ts END) AS t2
        FROM u1 JOIN e ON u1.user_id = e.user_id GROUP BY 1, 2),
      u3 AS (
        SELECT u2.user_id, t1, t2,
               MIN(CASE WHEN event_type = 'purchase' AND ts >= t2
                        THEN ts END) AS t3
        FROM u2 JOIN e ON u2.user_id = e.user_id GROUP BY 1, 2, 3),
      d AS (
        SELECT user_id,
               (epoch_ms(t3) - epoch_ms(t1)) // 1000 AS delay_s
        FROM u3 WHERE t3 IS NOT NULL),
      r AS (
        SELECT delay_s, user_id,
               ROW_NUMBER() OVER (ORDER BY delay_s, user_id) AS rn,
               COUNT(*) OVER () AS n
        FROM d),
      ps AS (SELECT unnest([50, 90, 99]) AS p)
      SELECT p, CAST(n AS BIGINT) AS n_converters, delay_s
      FROM r JOIN ps ON r.rn = (p * r.n + 99) // 100
      ORDER BY p"""))

  /** Q68 — 5%-trimmed mean of order value per segment: the robust
    * LOCATION estimate beside q45's robust dispersion (median/MAD) —
    * the average a pricing dashboard shows when a handful of whale
    * orders would otherwise drag the plain mean. Exact semantics: drop
    * floor(n·5/100) rows from EACH end of the per-segment value order
    * (integer arithmetic, rank from the grouped two-phase
    * `OrderedPrefix` — zero single-partition exchanges), then ONE
    * DOUBLE division of exact summed cents by the kept count. The
    * plain mean rides beside it so the whale effect is visible in the
    * same row. Cents sums stay under 2⁵³ to ~sf25 (exact in DOUBLE);
    * beyond that emit DECIMAL and divide in the reader.
    */
  val q68 = QueryDef(
    "q68_segment_trimmed_mean",
    (s, dir) => {
      val seg = orders(s, dir)
        .join((customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          (col("o_totalprice").cast(Money) * 100).cast(LongType)
            .as("cents"),
          col("o_orderkey"))
      val ranked = graft.operators.OrderedPrefix.rankAndPrefixBy(
        seg, Seq("segment"), expr("cents div 100000"),
        Seq(col("cents"), col("o_orderkey")))
      ranked
        .withColumn("trim", expr("(__n * 5) div 100"))
        .withColumn("keep",
          col("__rank") > col("trim") &&
            col("__rank") <= col("__n") - col("trim"))
        .groupBy(col("segment"))
        .agg(max(col("__n")).cast(LongType).as("n_total"),
          max(col("trim")).cast(LongType).as("n_trimmed_each"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast(LongType)
            .as("n_kept"),
          (sum(when(col("keep"), col("cents"))).cast(DoubleType) /
            sum(when(col("keep"), 1L).otherwise(0L)).cast(DoubleType))
            .as("trimmed_mean_cents"),
          (sum(col("cents")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("plain_mean_cents"))
        .orderBy("segment")
    },
    Some("""
      WITH seg AS (
        SELECT c_mktsegment AS segment,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS cents,
               o_orderkey
        FROM orders JOIN customer ON o_custkey = c_custkey),
      r AS (
        SELECT segment, cents,
               ROW_NUMBER() OVER (PARTITION BY segment
                 ORDER BY cents, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY segment) AS n
        FROM seg),
      k AS (
        SELECT segment, cents, n, (n * 5) // 100 AS trim,
               (rn > (n * 5) // 100 AND rn <= n - (n * 5) // 100) AS keep
        FROM r)
      SELECT segment, CAST(MAX(n) AS BIGINT) AS n_total,
             CAST(MAX(trim) AS BIGINT) AS n_trimmed_each,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(SUM(CASE WHEN keep THEN cents END) AS DOUBLE)
               / CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
               AS trimmed_mean_cents,
             CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS plain_mean_cents
      FROM k GROUP BY segment ORDER BY segment"""))

  /** k-core decomposition of the co-purchase graph (the graph-curation
    * sibling of q37's PageRank): iteratively peel nodes of degree < k
    * until the remaining subgraph has minimum degree ≥ k — the standard
    * dense-substructure primitive (Seidman 1983; the BZ/peeling family).
    * Scoped to the LATEST YEAR's Q1 co-purchases, where the graph is
    * sparse enough that peeling CASCADES (probed: the all-time graph has
    * min degree ≈ 73 at sf0.001 — every node is in the 8-core and the
    * operator would be an identity there; the Q1 slice peels
    * 13296 → 4477 → 1927 → 1178 → 1101 → fixpoint at sf0.1).
    *
    * Iteration discipline = KMeans' convergence stop: peel until the
    * alive-node count is stable or 8 rounds (the oracle's unroll depth —
    * fixpoint lands at round 4–5 across all three SFs, so the capped
    * loop IS the true k-core here and the oracle's extra unrolled rounds
    * are no-ops). Per round: one |edges|-keyed partial-agg for degrees,
    * then two BROADCAST left-semi prunes (the alive set is ≤ |nodes|,
    * parts-table-sized — never an |edges| shuffle); the shrinking edge
    * list is localCheckpoint'd each round to truncate loop lineage. The
    * per-round alive count is a bounded driver scalar (≤ 8 of them), the
    * same convergence-stop shape KMeans ships. At 100 TB the slice
    * filter prunes first (partition-prunable on the date key), and every
    * round's work is keyed on the CURRENT edge set, which only shrinks.
    */
  val q69 = QueryDef(
    "q69_part_kcore",
    (s, dir) => {
      val k = 8
      val sl = lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
        .join(ordersLatestYear(s, dir)
          .filter(month(col("o_orderdate")) <= 3)
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_partkey"))
      val a = sl.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = sl.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val half = a.join(b, Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb")).distinct()
      var edges = half.select(col("pa").as("src"), col("pb").as("dst"))
        .union(half.select(col("pb").as("src"), col("pa").as("dst")))
        .localCheckpoint(true)
      // r16: converge on the EDGE count, not a distinct node count — a
      // removed node always owned ≥1 edge (it is in `edges` because it
      // has edges), so "edge count unchanged ⟺ no node removed" and the
      // per-round distinct shuffle goes away; edges is checkpointed, so
      // the count is a scan of materialized blocks.
      var prevAlive = -1L
      var alive = edges.count()
      var rounds = 0
      while (rounds < 8 && alive != prevAlive) {
        val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src").as("node"))
        // `keep` is one row per surviving part — corpus-sized, so NO
        // broadcast hint: AQE broadcasts while it fits, shuffles beyond.
        edges = edges
          .join(keep, col("src") === col("node"), "left_semi")
          .join(keep.select(col("node").as("node2")),
            col("dst") === col("node2"), "left_semi")
          .localCheckpoint(true)
        prevAlive = alive
        alive = edges.count()
        rounds += 1
      }
      edges.groupBy("src").agg(count(lit(1)).as("core_deg"))
        .select(col("src").as("part_key"), col("core_deg"))
        .orderBy(col("core_deg").desc, col("part_key"))
    },
    Some("""
      WITH mx AS (SELECT max(year(o_orderdate)) AS y FROM orders),
      sl AS MATERIALIZED (SELECT l_orderkey, l_partkey
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey, mx
             WHERE year(o_orderdate) = mx.y AND month(o_orderdate) <= 3),
      half AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
               FROM sl a JOIN sl b ON a.l_orderkey = b.l_orderkey
               WHERE a.l_partkey < b.l_partkey),
      e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM half
             UNION ALL SELECT pb, pa FROM half),
      a1 AS MATERIALIZED (SELECT src AS node FROM e0 GROUP BY src HAVING count(*) >= 8),
      e1 AS MATERIALIZED (SELECT e.src, e.dst FROM e0 e JOIN a1 s ON e.src = s.node
             JOIN a1 t ON e.dst = t.node),
      a2 AS MATERIALIZED (SELECT src AS node FROM e1 GROUP BY src HAVING count(*) >= 8),
      e2 AS MATERIALIZED (SELECT e.src, e.dst FROM e1 e JOIN a2 s ON e.src = s.node
             JOIN a2 t ON e.dst = t.node),
      a3 AS MATERIALIZED (SELECT src AS node FROM e2 GROUP BY src HAVING count(*) >= 8),
      e3 AS MATERIALIZED (SELECT e.src, e.dst FROM e2 e JOIN a3 s ON e.src = s.node
             JOIN a3 t ON e.dst = t.node),
      a4 AS MATERIALIZED (SELECT src AS node FROM e3 GROUP BY src HAVING count(*) >= 8),
      e4 AS MATERIALIZED (SELECT e.src, e.dst FROM e3 e JOIN a4 s ON e.src = s.node
             JOIN a4 t ON e.dst = t.node),
      a5 AS MATERIALIZED (SELECT src AS node FROM e4 GROUP BY src HAVING count(*) >= 8),
      e5 AS MATERIALIZED (SELECT e.src, e.dst FROM e4 e JOIN a5 s ON e.src = s.node
             JOIN a5 t ON e.dst = t.node),
      a6 AS MATERIALIZED (SELECT src AS node FROM e5 GROUP BY src HAVING count(*) >= 8),
      e6 AS MATERIALIZED (SELECT e.src, e.dst FROM e5 e JOIN a6 s ON e.src = s.node
             JOIN a6 t ON e.dst = t.node),
      a7 AS MATERIALIZED (SELECT src AS node FROM e6 GROUP BY src HAVING count(*) >= 8),
      e7 AS MATERIALIZED (SELECT e.src, e.dst FROM e6 e JOIN a7 s ON e.src = s.node
             JOIN a7 t ON e.dst = t.node),
      a8 AS MATERIALIZED (SELECT src AS node FROM e7 GROUP BY src HAVING count(*) >= 8),
      e8 AS (SELECT e.src, e.dst FROM e7 e JOIN a8 s ON e.src = s.node
             JOIN a8 t ON e.dst = t.node)
      SELECT src AS part_key, count(*) AS core_deg
      FROM e8 GROUP BY src ORDER BY core_deg DESC, part_key"""))

  val all: Seq[QueryDef] = Seq(
    q01, q02, q03, q04, q05, q05b, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20,
    q21, q22, q23, q24, q25, q26, q27, q28, q29, q30, q31,
    q32, q33, q34, q35, q36, q37, q38, q38b, q39, q40, q41, q42, q43,
    q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q55, q56,
    q57, q58, q58Stream, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68,
    q69)
}
