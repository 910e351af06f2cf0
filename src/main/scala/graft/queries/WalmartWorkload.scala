package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The walmart star schema as built by the ETL layer
  * (etl.Dimensions + etl.FactBuilder over the master CSVs):
  * a user of the reference switches by loading their CSVs through the ETL
  * and calling these — every query of /root/reference/queries.sql:6-313 is
  * here with the reference's own output columns.
  */
final case class WalmartStar(
    sales: DataFrame,     // order_id, customer_id, product_id, date_id, store_id, supplier_id, quantity, sales_amount
    customer: DataFrame,  // customer_id, gender, age_group, occupation, city_category, marital_status, stay_in_current_city_years
    product: DataFrame,   // product_id, product_category, price, supplier_id, store_id
    store: DataFrame,     // store_id, store_name
    supplier: DataFrame,  // supplier_id, supplier_name
    date: DataFrame)      // date_id, transaction_date, day_num, month_num, year, day_of_week, quarter_num, is_weekend

/** The reference's 20-query OLAP workload over its own star schema
  * (/root/reference/queries.sql; dashboard.py re-runs q1/q2/q3/q4/q8/q9
  * with an injected year — here a proper parameter, not an f-string).
  * Dimension joins are broadcast: every dim is small by construction
  * (8 stores / 7 suppliers / thousands of products & customers).
  */
object WalmartWorkload {
  private val Money = DecimalType(12, 2)

  private def growth(rev: Column, prev: Column): Column =
    round((rev - prev) / when(prev === 0, lit(null)).otherwise(prev) * 100, 2)

  /** Product attributes without the supplier/store ids the fact carries. */
  private[queries] def productAttrs(w: WalmartStar): DataFrame =
    broadcast(w.product.drop("supplier_id", "store_id"))

  private def joinDims(w: WalmartStar, dims: String*): DataFrame =
    dims.foldLeft(w.sales) {
      case (df, "product")  => df.join(productAttrs(w), Seq("product_id"))
      case (df, "customer") => df.join(broadcast(w.customer), Seq("customer_id"))
      case (df, "date")     => df.join(broadcast(w.date), Seq("date_id"))
      case (df, "store")    => df.join(broadcast(w.store), Seq("store_id"))
      case (df, "supplier") => df.join(broadcast(w.supplier), Seq("supplier_id"))
      case (_, d)           => throw new IllegalArgumentException(d)
    }

  /** Q1 (queries.sql:6-12): top-5 products by revenue, weekday/weekend
    * split, monthly drill-down for one year.
    */
  def q1TopProducts(w: WalmartStar, year: Int): DataFrame =
    joinDims(w, "product", "date")
      .filter(col("year") === year)
      .groupBy("product_id", "product_category", "month_num", "is_weekend")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"))
      .orderBy(col("month_num"), col("is_weekend"),
        col("total_revenue").desc, col("product_id"))
      .limit(5)

  /** Q2 (queries.sql:17-20): demographics by purchase amount. */
  def q2Demographics(w: WalmartStar): DataFrame =
    joinDims(w, "customer")
      .groupBy("gender", "age_group", "city_category")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"),
        sum("quantity").as("units_sold"))
      .orderBy("city_category", "gender", "age_group")

  /** Q3 (queries.sql:24-28): category sales by occupation. */
  def q3CategoryByOccupation(w: WalmartStar): DataFrame =
    joinDims(w, "product", "customer")
      .groupBy("product_category", "occupation")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"),
        sum("quantity").as("units_sold"))
      .orderBy(col("product_category"), col("total_revenue").desc,
        col("occupation"))

  /** Q4 (queries.sql:32-40): quarterly trend for the latest year (scalar
    * MAX(year) subquery as broadcast 1-row cross join).
    */
  def q4QuarterlyTrend(w: WalmartStar): DataFrame = {
    val maxYr = w.date.agg(max(col("year")).as("max_yr"))
    joinDims(w, "date", "customer")
      .crossJoin(broadcast(maxYr))
      .filter(col("year") === col("max_yr"))
      .groupBy("quarter_num", "gender", "age_group")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"),
        sum("quantity").as("units_sold"))
      .orderBy("quarter_num", "gender", "age_group")
  }

  /** Q5 (queries.sql:45-57): top-5 occupations per product category. */
  def q5TopOccupations(w: WalmartStar): DataFrame = {
    val occSales = joinDims(w, "product", "customer")
      .groupBy("product_category", "occupation")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"))
    val rn = Window.partitionBy(col("product_category"))
      .orderBy(col("total_revenue").desc, col("occupation"))
    occSales.withColumn("rn", row_number().over(rn))
      .filter(col("rn") <= 5)
      .orderBy("product_category", "rn")
  }

  /** Q6 (queries.sql:61-70): city/marital performance over the 6 months up
    * to the latest transaction date (range join vs 1-row scalar).
    */
  def q6LastSixMonths(w: WalmartStar): DataFrame = {
    val maxD = w.date.agg(max(col("transaction_date")).as("latest"))
    joinDims(w, "customer", "date")
      .crossJoin(broadcast(maxD))
      .filter(col("transaction_date")
        .between(expr("latest - INTERVAL '6' MONTH"), col("latest")))
      .groupBy("city_category", "marital_status", "year", "month_num")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"),
        sum("quantity").as("units_sold"))
      .orderBy("year", "month_num", "city_category", "marital_status")
  }

  /** Q7 (queries.sql:75-78): average purchase by stay duration and gender. */
  def q7AvgByStay(w: WalmartStar): DataFrame =
    joinDims(w, "customer")
      .groupBy("stay_in_current_city_years", "gender")
      .agg(avg("sales_amount").as("avg_purchase_amount"))
      .orderBy("stay_in_current_city_years", "gender")

  /** Q8 (queries.sql:83-97): top-5 city categories per product category. */
  def q8TopCities(w: WalmartStar): DataFrame = {
    val cityRev = joinDims(w, "customer", "product")
      .groupBy("city_category", "product_category")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"))
    val rn = Window.partitionBy(col("product_category"))
      .orderBy(col("total_revenue").desc, col("city_category"))
    cityRev.withColumn("rn", row_number().over(rn))
      .filter(col("rn") <= 5)
      .orderBy("product_category", "rn")
  }

  /** Q9 (queries.sql:102-121): month-over-month growth per category for the
    * latest year — LAG + NULLIF-guarded ROUND(…, 2) growth.
    */
  def q9MonthlyGrowth(w: WalmartStar): DataFrame = {
    val maxYr = w.date.agg(max(col("year")).as("max_yr"))
    val monthly = joinDims(w, "date", "product")
      .crossJoin(broadcast(maxYr))
      .filter(col("year") === col("max_yr"))
      .groupBy("product_category", "month_num")
      .agg(sum("sales_amount").cast(Money).as("revenue"))
    val win = Window.partitionBy(col("product_category")).orderBy(col("month_num"))
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(win))
      .withColumn("growth_percent",
        growth(col("revenue").cast(DoubleType),
          col("prev_revenue").cast(DoubleType)))
      .orderBy("product_category", "month_num")
  }

  /** Q10 (queries.sql:125-132): weekend vs weekday by age group, latest year. */
  def q10WeekendByAge(w: WalmartStar): DataFrame = {
    val maxYr = w.date.agg(max(col("year")).as("max_yr"))
    joinDims(w, "customer", "date")
      .crossJoin(broadcast(maxYr))
      .filter(col("year") === col("max_yr"))
      .groupBy("age_group", "is_weekend")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"))
      .orderBy("age_group", "is_weekend")
  }

  /** Q11 (queries.sql:137-154): top-5 products per (month, weekend) cell. */
  def q11TopProductsPerCell(w: WalmartStar, year: Int): DataFrame =
    q11Cells(w, year).orderBy("month_num", "is_weekend", "rn")

  /** Q11's ranked cells without the presentation order, for callers that
    * sort the bounded result themselves (Dashboard.topProducts).
    */
  private[queries] def q11Cells(w: WalmartStar, year: Int): DataFrame = {
    val base = joinDims(w, "product", "date")
      .filter(col("year") === year)
      .groupBy("product_id", "product_category", "month_num", "is_weekend")
      .agg(sum("sales_amount").cast(Money).as("revenue"))
    val rn = Window.partitionBy(col("month_num"), col("is_weekend"))
      .orderBy(col("revenue").desc, col("product_id"))
    base.withColumn("rn", row_number().over(rn))
      .filter(col("rn") <= 5)
  }

  /** Q12 (queries.sql:159-171): quarterly revenue growth per store. */
  def q12StoreQuarterlyGrowth(w: WalmartStar, year: Int): DataFrame = {
    val quarterly = joinDims(w, "date")
      .filter(col("year") === year)
      .groupBy("store_id", "quarter_num")
      .agg(sum("sales_amount").cast(Money).as("revenue"))
    val win = Window.partitionBy(col("store_id")).orderBy(col("quarter_num"))
    quarterly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(win))
      .withColumn("growth_rate_percent",
        growth(col("revenue").cast(DoubleType),
          col("prev_revenue").cast(DoubleType)))
      .orderBy("store_id", "quarter_num")
  }

  /** Q13 (queries.sql:176-181): supplier contribution by store and product. */
  def q13SupplierContribution(w: WalmartStar): DataFrame =
    joinDims(w, "store", "supplier", "product")
      .groupBy("store_name", "supplier_name", "product_category")
      .agg(sum("sales_amount").cast(Money).as("total_revenue"))
      .orderBy(col("store_name"), col("supplier_name"),
        col("total_revenue").desc, col("product_category"))

  /** Q14 (queries.sql:186-197): seasonal drill-down via CASE bucketing. */
  def q14Seasonal(w: WalmartStar): DataFrame = {
    val season = when(col("month_num").isin(3, 4, 5), "Spring")
      .when(col("month_num").isin(6, 7, 8), "Summer")
      .when(col("month_num").isin(9, 10, 11), "Fall")
      .otherwise("Winter")
    joinDims(w, "product", "date")
      .groupBy(col("product_id"), col("product_category"), season.as("season"))
      .agg(sum("sales_amount").cast(Money).as("total_revenue"))
      .orderBy("product_id", "season")
  }

  /** Q15 (queries.sql:203-230): store × supplier monthly volatility (LAG
    * with two-column ordering).
    */
  def q15Volatility(w: WalmartStar): DataFrame = {
    val monthly = joinDims(w, "date")
      .groupBy("store_id", "supplier_id", "year", "month_num")
      .agg(sum("sales_amount").cast(Money).as("revenue"))
    val win = Window.partitionBy(col("store_id"), col("supplier_id"))
      .orderBy(col("year"), col("month_num"))
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(win))
      .withColumn("volatility_percent",
        growth(col("revenue").cast(DoubleType),
          col("prev_revenue").cast(DoubleType)))
      .orderBy("store_id", "supplier_id", "year", "month_num")
  }

  /** Q16 (queries.sql:236-243): product-affinity pairs — self-join equi on
    * order_id with `<` residual, global top-5.
    */
  def q16BasketPairs(w: WalmartStar): DataFrame = {
    val a = w.sales.select(col("order_id"), col("product_id").as("product_a"))
    val b = w.sales.select(col("order_id"), col("product_id").as("product_b"))
    a.join(b, Seq("order_id"))
      .filter(col("product_a") < col("product_b"))
      .groupBy("product_a", "product_b")
      .agg(count(lit(1)).as("times_bought_together"))
      .orderBy(col("times_bought_together").desc,
        col("product_a"), col("product_b"))
      .limit(5)
  }

  /** Q17 (queries.sql:250-257): ROLLUP over store→supplier→category→year
    * for the latest year.
    */
  def q17Rollup(w: WalmartStar): DataFrame = {
    val maxYr = w.date.agg(max(col("year")).as("max_yr"))
    joinDims(w, "store", "supplier", "product", "date")
      .crossJoin(broadcast(maxYr))
      .filter(col("year") === col("max_yr"))
      .rollup(col("store_name"), col("supplier_name"),
        col("product_category"), col("year"))
      .agg(sum("sales_amount").cast(Money).as("yearly_revenue"))
      .orderBy(col("store_name").asc_nulls_first,
        col("supplier_name").asc_nulls_first,
        col("product_category").asc_nulls_first,
        col("year").asc_nulls_first)
  }

  /** Q18 (queries.sql:263-275): H1/H2 revenue + quantity pivot with the
    * reference's no-ELSE NULL semantics.
    */
  def q18H1H2(w: WalmartStar): DataFrame = {
    val maxYr = w.date.agg(max(col("year")).as("max_yr"))
    val m = col("month_num")
    joinDims(w, "product", "date")
      .crossJoin(broadcast(maxYr))
      .filter(col("year") === col("max_yr"))
      .groupBy("product_id", "product_category")
      .agg(
        sum(when(m.between(1, 6), col("sales_amount"))).cast(Money).as("h1_revenue"),
        sum(when(m.between(7, 12), col("sales_amount"))).cast(Money).as("h2_revenue"),
        sum(col("sales_amount")).cast(Money).as("total_revenue"),
        sum(when(m.between(1, 6), col("quantity"))).as("h1_quantity"),
        sum(when(m.between(7, 12), col("quantity"))).as("h2_quantity"),
        sum(col("quantity")).as("total_quantity"))
      .orderBy(col("total_revenue").desc, col("product_id"))
  }

  /** Q19 (queries.sql:281-300): daily spikes — join-back of per-product
    * average daily sales, keeping days above 2× average.
    */
  def q19Spikes(w: WalmartStar): DataFrame = {
    val daily = joinDims(w, "date")
      .groupBy("product_id", "transaction_date")
      .agg(sum("sales_amount").cast(Money).as("daily_total"))
    val avgDaily = daily.groupBy("product_id")
      .agg(avg("daily_total").as("avg_daily_sales"))
    daily.join(avgDaily, Seq("product_id"))
      .filter(col("daily_total") > col("avg_daily_sales") * 2)
      .withColumn("status", lit("SPIKE"))
      .orderBy("product_id", "transaction_date")
  }

  /** Q20 (queries.sql:306-313): the STORE_QUARTERLY_SALES view. */
  def q20StoreQuarterlyView(w: WalmartStar): DataFrame = {
    joinDims(w, "store", "date")
      .groupBy("store_id", "store_name", "year", "quarter_num")
      .agg(sum("sales_amount").cast(Money).as("total_quarterly_sales"))
      .createOrReplaceTempView("store_quarterly_sales")
    w.sales.sparkSession.table("store_quarterly_sales")
      .orderBy("store_name", "year", "quarter_num", "store_id")
  }
}
