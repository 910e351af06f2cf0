package graft.queries

import graft.SparkSpec
import graft.etl.{Dimensions, FactBuilder, Normalize}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** End-to-end reference parity: master CSVs (FIXTURES.md §B shapes) →
  * dimension build → stream normalize → fact build → all 20 reference
  * queries (WalmartWorkload). A reference user's full pipeline, on our
  * engine, in one test.
  */
class WalmartEndToEndSpec extends SparkSpec {
  import spark.implicits._

  // B2-shaped denormalized product master (quoted categories, price$).
  private lazy val productMaster: DataFrame = Seq(
    ("P001", "Electronics", "10.00", 1, 9, "Electro Mart", "Canon Inc."),
    ("P002", "Electronics", "25.50", 1, 9, "Electro Mart", "Canon Inc."),
    ("P003", "Books, Movies & Music", "5.25", 2, 13, "Tech Haven", "Samsung Electronics"),
    ("P004", "Grocery", "2.02", 2, 13, "Tech Haven", "Samsung Electronics"),
    ("P005", "Toys", "79.95", 7, 39, "Health Zone", "Sonos Inc."))
    .toDF("Product_ID", "Product_Category", "price$",
      "storeID", "supplierID", "storeName", "supplierName")

  // B1-shaped customer master.
  private lazy val customerMaster: DataFrame = Seq(
    (1000001, "M", "18-25", 4, "A", 2, "0"),
    (1000002, "F", "26-35", 7, "B", 1, "1"),
    (1000003, "M", "55+", 20, "C", 4, "0"),
    (1000004, "F", "0-17", 10, "A", 0, "1"))
    .toDF("Customer_ID", "Gender", "Age", "Occupation", "City_Category",
      "Stay_In_Current_City_Years", "Marital_Status")

  // B3-shaped transactional stream rows: all 4 date formats, a garbage
  // date, unknown customer/product keys, a 3-product basket order.
  private lazy val rawTx: DataFrame = Seq(
    ("1", "1000001", "P001", "2", "2017-01-02"),
    ("1", "1000001", "P002", "1", "2017-01-02"),   // basket with order 1
    ("1", "1000001", "P003", "3", "2017-01-02"),
    ("2", "1000002", "P001", "1", "03-02-2017"),   // dd-MM-yyyy
    ("3", "1000003", "P004", "5", "07/04/2017"),   // MM/dd/yyyy
    ("4", "1000004", "P005", "1", "2018/01/06"),   // yyyy/MM/dd (Saturday)
    ("5", "1000001", "P001", "2", "2018-06-30"),   // Saturday (weekend)
    ("6", "1000002", "P002", "2", "2018-07-02"),   // H2 month
    ("7", "9999999", "P001", "1", "2018-03-03"),   // unknown customer -> drop
    ("8", "1000003", "PXXX", "2", "2018-03-05"),   // unknown product -> defaults
    ("9", "1000004", "P003", "bad", "2017-05-01")) // qty coerced to 0
    .toDF("orderID", "Customer_ID", "Product_ID", "quantity", "date")

  private lazy val star: WalmartStar = {
    val product = Dimensions.productDim(productMaster)
    val customerDim = Dimensions.customerDim(customerMaster)
    val tx = Normalize.normalizeTransactions(rawTx)
    val fact = FactBuilder.buildFact(tx, customerDim, product)
    WalmartStar(
      sales = fact,
      customer = customerDim,
      product = product,
      store = Dimensions.storeDim(productMaster),
      supplier = Dimensions.supplierDim(productMaster),
      date = Dimensions.dateDim(tx, "tx_date"))
  }

  test("fact build: drops unknown customer, keeps 10 of 11 rows") {
    assert(star.sales.count() == 10)
    assert(star.sales.filter($"order_id" === 7L).isEmpty)
  }

  test("date parsing: all four formats land on the intended dates") {
    val ids = star.sales.select("date_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(Set(20170102, 20170203, 20170704, 20180106).subsetOf(ids))
  }

  test("q1: top products for 2017, ordered and limited") {
    val out = WalmartWorkload.q1TopProducts(star, 2017).collect()
    assert(out.length <= 5 && out.nonEmpty)
  }

  test("q2/q3/q7: demographic aggregates cover every customer cell") {
    assert(WalmartWorkload.q2Demographics(star).count() > 0)
    assert(WalmartWorkload.q3CategoryByOccupation(star).count() > 0)
    val avg = WalmartWorkload.q7AvgByStay(star)
    assert(avg.columns.contains("avg_purchase_amount"))
    assert(avg.count() > 0)
  }

  test("q4/q10: latest-year scalar filter picks 2018") {
    val q4 = WalmartWorkload.q4QuarterlyTrend(star)
    assert(q4.count() > 0)
    val q10 = WalmartWorkload.q10WeekendByAge(star).collect()
    assert(q10.nonEmpty)
    // 2018-06-30 and 2018-01-06 are Saturdays -> weekend buckets exist
    assert(q10.exists(_.getAs[Boolean]("is_weekend")))
  }

  test("q16: the 3-product basket yields exactly its 3 pairs") {
    val pairs = WalmartWorkload.q16BasketPairs(star)
      .select("product_a", "product_b").as[(String, String)].collect().toSet
    assert(pairs == Set(("P001", "P002"), ("P001", "P003"), ("P002", "P003")))
  }

  test("q17: rollup grand total equals latest-year fact total") {
    val rows = WalmartWorkload.q17Rollup(star).collect()
    val grand = rows.find(r =>
      r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)).get
      .getAs[java.math.BigDecimal]("yearly_revenue")
    val direct = star.sales
      .join(star.date.filter($"year" === 2018), Seq("date_id"))
      .agg(sum("sales_amount")).head().getDecimal(0)
    assert(grand.compareTo(direct) == 0)
  }

  test("q18: H1/H2 NULL semantics — product sold only in H2 has null h1") {
    val out = WalmartWorkload.q18H1H2(star)
      .filter($"product_id" === "P002").head()
    assert(out.isNullAt(out.fieldIndex("h1_revenue"))) // only sold 2018-07-02
    assert(!out.isNullAt(out.fieldIndex("h2_revenue")))
  }

  test("q9: growth is null on each category's first month") {
    val out = WalmartWorkload.q9MonthlyGrowth(star).collect()
    val firstPerCat = out.groupBy(_.getString(0)).map(_._2.minBy(_.getInt(1)))
    assert(firstPerCat.forall(_.isNullAt(3))) // prev_revenue null
  }

  test("q5/q8/q11/q12/q13/q14/q15/q19/q20 run and return sane shapes") {
    assert(WalmartWorkload.q5TopOccupations(star).count() > 0)
    assert(WalmartWorkload.q8TopCities(star).count() > 0)
    assert(WalmartWorkload.q11TopProductsPerCell(star, 2017).count() > 0)
    assert(WalmartWorkload.q12StoreQuarterlyGrowth(star, 2017).count() > 0)
    assert(WalmartWorkload.q13SupplierContribution(star).count() > 0)
    assert(WalmartWorkload.q14Seasonal(star).count() > 0)
    assert(WalmartWorkload.q15Volatility(star).count() > 0)
    assert(WalmartWorkload.q19Spikes(star).count() >= 0)
    assert(WalmartWorkload.q20StoreQuarterlyView(star).count() > 0)
    assert(WalmartWorkload.q6LastSixMonths(star).count() > 0)
  }

  test("dashboard panels: all six year-parameterized queries run non-empty") {
    val panels = Dashboard.allPanels(star, 2017)
    assert(panels.size == 6)
    panels.foreach { case (name, df) =>
      assert(df.count() > 0, s"panel $name empty for 2017")
    }
    // year scoping: 2019 has no fixture data -> all panels empty
    assert(Dashboard.demographics(star, 2019).isEmpty)
  }

  /** Each panel's presentation keys, `true` where the panel sorts desc. */
  private val panelOrder: Map[String, Seq[(String, Boolean)]] = Map(
    "top_products" -> Seq("month_num" -> false, "is_weekend" -> false, "rn" -> false),
    "demographics" -> Seq("city_category" -> false, "gender" -> false,
      "age_group" -> false),
    "category_by_occupation" -> Seq("product_category" -> false,
      "total_revenue" -> true, "occupation" -> false),
    "quarterly_trend" -> Seq("quarter_num" -> false, "gender" -> false,
      "age_group" -> false),
    "top_cities" -> Seq("product_category" -> false, "rn" -> false),
    "monthly_growth" -> Seq("product_category" -> false, "month_num" -> false))

  /** Row order by the given keys; the panels' keys are never null here
    * (the inner dimension joins drop unknown keys).
    */
  private def rowOrdering(keys: Seq[(String, Boolean)]): Ordering[Row] =
    (a, b) => keys.iterator.map { case (k, desc) =>
      val c = a.getAs[Comparable[AnyRef]](k).compareTo(b.getAs[AnyRef](k))
      if (desc) -c else c
    }.find(_ != 0).getOrElse(0)

  test("dashboard panels: rows come in each panel's presentation order") {
    // a fact spread over many partitions, so rows reach the final sort
    // from several shuffle blocks
    val spread = star.copy(sales = star.sales.repartition(7))
    assert(panelOrder.keySet == Dashboard.allPanels(spread, 2017).keySet)
    for (year <- Seq(2017, 2018);
         (name, df) <- Dashboard.allPanels(spread, year)) {
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, s"panel $name empty for $year")
      assert(rows == rows.sorted(rowOrdering(panelOrder(name))),
        s"panel $name for $year is out of order:\n${rows.mkString("\n")}")
    }
  }

  test("dashboard panels: no range-partitioning exchange (no sampling job)") {
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    def in(df: DataFrame) = noAqe.createDataFrame(df.collectAsList(), df.schema)
    val s = WalmartStar(in(star.sales), in(star.customer), in(star.product),
      in(star.store), in(star.supplier), in(star.date))
    Dashboard.allPanels(s, 2017).foreach { case (name, df) =>
      val ranged = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranged.isEmpty, s"panel $name plans a range exchange:\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("default-fill: unknown product gets price 0, supplier 1, store 1") {
    val r = star.sales.filter($"order_id" === 8L).head()
    assert(r.getAs[Int]("supplier_id") == 1 && r.getAs[Int]("store_id") == 1)
    assert(r.getAs[java.math.BigDecimal]("sales_amount")
      .compareTo(java.math.BigDecimal.ZERO) == 0)
  }
}
