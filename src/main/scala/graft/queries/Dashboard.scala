package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** E3 parity: the 6 queries the reference dashboard re-runs live with an
  * injected year (/root/reference/dashboard.py:54-252 — f-string SQL there,
  * a real parameter here; the serving/charting layer itself is out of
  * engine scope). Shapes follow the dashboard's variants, which add a year
  * filter to the base queries where queries.sql has none.
  */
object Dashboard {
  import WalmartWorkload.productAttrs

  private val Money = DecimalType(12, 2)

  /** The fact joined to the selected year's dates: every panel's input. */
  private def salesIn(w: WalmartStar, year: Int): DataFrame =
    w.sales.join(broadcast(w.date.filter(col("year") === year)), Seq("date_id"))

  /** A panel's presentation order. Every panel's result is bounded by
    * dimension cardinalities, not by fact size (at most 420 rows:
    * category × occupation), so the rows go to one partition and are
    * sorted there. A global `orderBy` would add a range-partitioning
    * exchange: a sampling job plus a shuffle. `repartition(1)` keeps the
    * final aggregate parallel and moves only the bounded result rows,
    * where `coalesce(1)` would pull that aggregate into one task.
    */
  private def presented(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(keys: _*)

  /** dashboard.py:54-78 — top products per (month, weekend) for the year. */
  def topProducts(w: WalmartStar, year: Int): DataFrame =
    presented(WalmartWorkload.q11Cells(w, year),
      col("month_num"), col("is_weekend"), col("rn"))

  /** dashboard.py:98-108 — demographics, year-scoped. */
  def demographics(w: WalmartStar, year: Int): DataFrame =
    presented(salesIn(w, year)
      .join(broadcast(w.customer), Seq("customer_id"))
      .groupBy("gender", "age_group", "city_category")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"),
        sum("quantity").as("units_sold")),
      col("city_category"), col("gender"), col("age_group"))

  /** dashboard.py:126-135 — category × occupation, year-scoped. */
  def categoryByOccupation(w: WalmartStar, year: Int): DataFrame =
    presented(salesIn(w, year)
      .join(productAttrs(w), Seq("product_id"))
      .join(broadcast(w.customer), Seq("customer_id"))
      .groupBy("product_category", "occupation")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"),
        sum("quantity").as("units_sold")),
      col("product_category"), col("total_revenue").desc, col("occupation"))

  /** dashboard.py:153-165 — quarterly trend for the selected year. */
  def quarterlyTrend(w: WalmartStar, year: Int): DataFrame =
    presented(salesIn(w, year)
      .join(broadcast(w.customer), Seq("customer_id"))
      .groupBy("quarter_num", "gender", "age_group")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"),
        sum("quantity").as("units_sold")),
      col("quarter_num"), col("gender"), col("age_group"))

  /** dashboard.py:190-209 — top city categories per product category. */
  def topCities(w: WalmartStar, year: Int): DataFrame = {
    val cityRev = salesIn(w, year)
      .join(broadcast(w.customer), Seq("customer_id"))
      .join(productAttrs(w), Seq("product_id"))
      .groupBy("city_category", "product_category")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"))
    val rn = Window.partitionBy(col("product_category"))
      .orderBy(col("total_revenue").desc, col("city_category"))
    presented(cityRev.withColumn("rn", row_number().over(rn))
      .filter(col("rn") <= 5),
      col("product_category"), col("rn"))
  }

  /** dashboard.py:228-252 — monthly growth per category for the year. */
  def monthlyGrowth(w: WalmartStar, year: Int): DataFrame = {
    val monthly = salesIn(w, year)
      .join(productAttrs(w), Seq("product_id"))
      .groupBy("product_category", "month_num")
      .agg(sum("sales_amount").cast(Money).as("revenue"))
    val win = Window.partitionBy(col("product_category")).orderBy(col("month_num"))
    presented(monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(win))
      .withColumn("growth_percent",
        round((col("revenue").cast(DoubleType) - col("prev_revenue").cast(DoubleType))
          / when(col("prev_revenue").cast(DoubleType) === 0.0, lit(null))
            .otherwise(col("prev_revenue").cast(DoubleType)) * 100, 2)),
      col("product_category"), col("month_num"))
  }

  // --- Oracled twins on the TESTDATA star -------------------------------
  // The six panel shapes are q11/q02/q03/q04/q08/q09 variants with an
  // injected year (dashboard.py f-string). Four of those base shapes are
  // already year-scoped-and-oracled in Workload (q01, q04, q08, q09); the
  // two that were not — demographics (= q02 + year) and
  // category×occupation (= q03 + year) — get oracle-checkable testdata
  // twins here, parameterized on the same year the dashboard injects.

  // Shared with Workload (review finding: local copies of inYear/decSum
  // could silently diverge from the q02/q03 semantics these twin):
  // Workload.inYear is the sargable year range, Workload.decSum the
  // exact-decimal money sum final-cast DOUBLE.
  private def decSumT(c: org.apache.spark.sql.Column) = Workload.decSum(c)
  private def inYear(c: org.apache.spark.sql.Column, y: Int) =
    Workload.inYear(c, y)

  /** dashboard.py:98-108 on the testdata star: q02's segment×nation
    * revenue, year-scoped. The year filter prunes ORDERS before the fact
    * join — at 100 TB that is the difference between scanning one year
    * and scanning the history.
    */
  def segmentNationYear(s: org.apache.spark.sql.SparkSession, dir: String,
      year: Int): DataFrame = {
    import graft.Tables._
    lineitem(s, dir)
      .join(orders(s, dir).filter(inYear(col("o_orderdate"), year)),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(decSumT(col("l_extendedprice")).as("total_revenue"),
        decSumT(col("l_quantity")).as("units_sold"))
      .orderBy("c_mktsegment", "c_nationkey")
  }

  /** dashboard.py:126-135 on the testdata star: q03's type×priority
    * revenue, year-scoped, with the panel's revenue-desc presentation
    * order.
    */
  def typePriorityYear(s: org.apache.spark.sql.SparkSession, dir: String,
      year: Int): DataFrame = {
    import graft.Tables._
    lineitem(s, dir)
      .join(orders(s, dir).filter(inYear(col("o_orderdate"), year)),
        col("l_orderkey") === col("o_orderkey"))
      .join(part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy("p_type", "o_orderpriority")
      .agg(decSumT(col("l_extendedprice")).as("total_revenue"),
        decSumT(col("l_quantity")).as("units_sold"))
      .orderBy(col("p_type"), col("total_revenue").desc,
        col("o_orderpriority"))
  }

  private val SumRev = Workload.RevSum
  private val SumQty = Workload.QtySum

  /** The two panels pinned at year=2000 (the densest testdata year) for
    * the driver's oracle gate — the dashboard passes the year live.
    */
  val dashSegmentNation = QueryDef(
    "dash_segment_nation_y2000",
    (s, dir) => segmentNationYear(s, dir, 2000),
    Some(s"""
      SELECT c_mktsegment, c_nationkey,
             $SumRev AS total_revenue, $SumQty AS units_sold
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        AND o_orderdate < TIMESTAMP '2001-01-01'
      GROUP BY 1,2 ORDER BY c_mktsegment, c_nationkey"""))

  val dashTypePriority = QueryDef(
    "dash_type_priority_y2000",
    (s, dir) => typePriorityYear(s, dir, 2000),
    Some(s"""
      SELECT p_type, o_orderpriority,
             $SumRev AS total_revenue, $SumQty AS units_sold
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        AND o_orderdate < TIMESTAMP '2001-01-01'
      GROUP BY 1,2
      ORDER BY p_type, total_revenue DESC, o_orderpriority"""))

  // The remaining four panels, oracled the same way (r7 verdict #7): each
  // is the panel's shape on the testdata star with the dashboard's
  // injected year pinned at 2000 — the year filter lands on ORDERS (the
  // transaction-date dim the dashboard scopes by), pruning the fact join
  // input exactly as the panel's date-dim join does at scale. This closes
  // E3 parity oracle-side: all six panel shapes now carry a green
  // cross-engine row, not just walmart fixture specs.

  /** dashboard.py:54-78 on the testdata star: q11's top-5 parts per
    * (month, weekend) cell, but cell-keyed by the ORDER date (the
    * dashboard's date dim), not the ship date.
    */
  def topProductsYear(s: org.apache.spark.sql.SparkSession, dir: String,
      year: Int): DataFrame = {
    import graft.Tables._
    val base = lineitem(s, dir)
      .join(orders(s, dir).filter(inYear(col("o_orderdate"), year)),
        col("l_orderkey") === col("o_orderkey"))
      .join(part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("part_key"), col("p_brand"),
        month(col("o_orderdate")).as("mnth"),
        Workload.isWeekend(col("o_orderdate")).as("is_weekend"))
      .agg(decSumT(col("l_extendedprice")).as("revenue"))
    val w = Window.partitionBy(col("mnth"), col("is_weekend"))
      .orderBy(col("revenue").desc, col("part_key"))
    base.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("mnth", "is_weekend", "rn")
  }

  /** dashboard.py:153-165 on the testdata star: q04's quarterly trend
    * with the dashboard's injected year instead of the latest-year
    * scalar subquery.
    */
  def quarterlyTrendYear(s: org.apache.spark.sql.SparkSession, dir: String,
      year: Int): DataFrame = {
    import graft.Tables._
    lineitem(s, dir)
      .join(orders(s, dir).filter(inYear(col("o_orderdate"), year)),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(quarter(col("o_orderdate")).as("quarter_num"),
        col("c_mktsegment"))
      .agg(decSumT(col("l_extendedprice")).as("total_revenue"),
        decSumT(col("l_quantity")).as("units_sold"))
      .orderBy("quarter_num", "c_mktsegment")
  }

  /** dashboard.py:190-209 on the testdata star: q08's top-5 customer
    * nations per part type (the city-category analog), year-scoped.
    */
  def topCitiesYear(s: org.apache.spark.sql.SparkSession, dir: String,
      year: Int): DataFrame = {
    import graft.Tables._
    val base = lineitem(s, dir)
      .join(orders(s, dir).filter(inYear(col("o_orderdate"), year)),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy("p_type", "n_name")
      .agg(decSumT(col("l_extendedprice")).as("total_revenue"))
    val w = Window.partitionBy(col("p_type"))
      .orderBy(col("total_revenue").desc, col("n_name"))
    base.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("p_type", "rn")
  }

  /** dashboard.py:228-252 on the testdata star: q09's month-over-month
    * growth per brand with the injected year; growth stays unrounded
    * double (Workload.growthPct) for cross-engine bit-stability.
    */
  def monthlyGrowthYear(s: org.apache.spark.sql.SparkSession, dir: String,
      year: Int): DataFrame = {
    import graft.Tables._
    val monthly = lineitem(s, dir)
      .join(orders(s, dir).filter(inYear(col("o_orderdate"), year)),
        col("l_orderkey") === col("o_orderkey"))
      .join(part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), month(col("o_orderdate")).as("mnth"))
      .agg(decSumT(col("l_extendedprice")).as("revenue"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("mnth"))
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("growth_pct",
        Workload.growthPct(col("revenue").cast(DoubleType),
          col("prev_revenue").cast(DoubleType)))
      .orderBy("p_brand", "mnth")
  }

  private val Y2000 =
    """o_orderdate >= TIMESTAMP '2000-01-01'
        AND o_orderdate < TIMESTAMP '2001-01-01'"""

  val dashTopProducts = QueryDef(
    "dash_top_products_y2000",
    (s, dir) => topProductsYear(s, dir, 2000),
    Some(s"""
      WITH base AS (
        SELECT l_partkey AS part_key, p_brand,
               CAST(month(o_orderdate) AS INTEGER) AS mnth,
               isodow(o_orderdate) IN (6,7) AS is_weekend,
               $SumRev AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE $Y2000
        GROUP BY 1,2,3,4)
      SELECT * FROM (
        SELECT part_key, p_brand, mnth, is_weekend, revenue,
               CAST(ROW_NUMBER() OVER (PARTITION BY mnth, is_weekend
                 ORDER BY revenue DESC, part_key) AS INTEGER) AS rn
        FROM base) t
      WHERE rn <= 5 ORDER BY mnth, is_weekend, rn"""))

  val dashQuarterlyTrend = QueryDef(
    "dash_quarterly_trend_y2000",
    (s, dir) => quarterlyTrendYear(s, dir, 2000),
    Some(s"""
      SELECT CAST(quarter(o_orderdate) AS INTEGER) AS quarter_num,
             c_mktsegment,
             $SumRev AS total_revenue, $SumQty AS units_sold
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE $Y2000
      GROUP BY 1,2 ORDER BY quarter_num, c_mktsegment"""))

  val dashTopCities = QueryDef(
    "dash_top_cities_y2000",
    (s, dir) => topCitiesYear(s, dir, 2000),
    Some(s"""
      WITH base AS (
        SELECT p_type, n_name, $SumRev AS total_revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN part ON l_partkey = p_partkey
        WHERE $Y2000
        GROUP BY 1,2)
      SELECT * FROM (
        SELECT p_type, n_name, total_revenue,
               CAST(ROW_NUMBER() OVER (PARTITION BY p_type
                 ORDER BY total_revenue DESC, n_name) AS INTEGER) AS rn
        FROM base) t
      WHERE rn <= 5 ORDER BY p_type, rn"""))

  val dashMonthlyGrowth = QueryDef(
    "dash_monthly_growth_y2000",
    (s, dir) => monthlyGrowthYear(s, dir, 2000),
    Some(s"""
      WITH monthly AS (
        SELECT p_brand, CAST(month(o_orderdate) AS INTEGER) AS mnth,
               $SumRev AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE $Y2000
        GROUP BY 1,2)
      SELECT p_brand, mnth, revenue,
             LAG(revenue) OVER (PARTITION BY p_brand ORDER BY mnth)
               AS prev_revenue,
             (CAST(revenue AS DOUBLE)
               - CAST(LAG(revenue) OVER (PARTITION BY p_brand ORDER BY mnth) AS DOUBLE))
               / NULLIF(CAST(LAG(revenue) OVER (PARTITION BY p_brand ORDER BY mnth) AS DOUBLE), 0)
               * 100 AS growth_pct
      FROM monthly ORDER BY p_brand, mnth"""))

  val oracled: Seq[QueryDef] = Seq(dashSegmentNation, dashTypePriority,
    dashTopProducts, dashQuarterlyTrend, dashTopCities, dashMonthlyGrowth)

  /** All six panels for one year — what a dashboard tick computes. */
  def allPanels(w: WalmartStar, year: Int): Map[String, DataFrame] = Map(
    "top_products" -> topProducts(w, year),
    "demographics" -> demographics(w, year),
    "category_by_occupation" -> categoryByOccupation(w, year),
    "quarterly_trend" -> quarterlyTrend(w, year),
    "top_cities" -> topCities(w, year),
    "monthly_growth" -> monthlyGrowth(w, year))
}
