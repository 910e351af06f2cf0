package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.etl.{Dimensions, FactBuilder, Normalize}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1/S4 end-to-end: header'd CSV files streaming into a parquet fact with
  * checkpointed exactly-once sink — the full HYBRIDJOIN pipeline shape
  * (CSV stream loader hybridjoin.py:220-233 → join → batched sink
  * hybridjoin.py:449-486), including master-CSV ingest with the pandas
  * index column.
  */
class CsvStreamE2ESpec extends SparkSpec {
  import spark.implicits._

  private val txSchema = StructType(Seq(
    StructField("orderID", StringType),
    StructField("Customer_ID", StringType),
    StructField("Product_ID", StringType),
    StructField("quantity", StringType),
    StructField("date", StringType)))

  test("CSV files -> streaming fact -> parquet, two files, exactly-once") {
    val dir = Files.createTempDirectory("graft_stream_src").toString
    val out = Files.createTempDirectory("graft_stream_out").toString + "/fact"
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString

    Files.writeString(java.nio.file.Paths.get(s"$dir/part1.csv"),
      """orderID,Customer_ID,Product_ID,quantity,date
        |1,1001,P1,2,2020-01-02
        |2,1002,P2,1,2020-02-03
        |3,9999,P1,2,2020-01-02
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$dir/part2.csv"),
      """orderID,Customer_ID,Product_ID,quantity,date
        |4,1001,PX,3,2020-03-04
        |5,1002,P1,1,05-03-2020
        |""".stripMargin)

    val customers = Seq(1001, 1002).toDF("customer_id")
    val products = Seq(("P1", "2.50", 9, 3), ("P2", "10.00", 13, 5))
      .toDF("product_id", "price", "supplier_id", "store_id")
      .withColumn("price", col("price").cast("decimal(12,2)"))

    val q = StreamingFact.runCsvToParquet(spark, dir, txSchema,
      customers, products, out, ckpt, maxFilesPerTrigger = 1)
    q.awaitTermination()

    val fact = spark.read.parquet(out)
    assert(fact.select("order_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 4L, 5L)) // 9999 dropped by the referential inner join
    assert(fact.filter($"order_id" === 5L).head().getAs[Int]("date_id")
      == 20200305) // dd-MM-yyyy parsed
    // two micro-batches (maxFilesPerTrigger=1) -> two batch_id partitions
    assert(fact.select("batch_id").distinct().count() == 2)
    // the commit log has one entry per micro-batch
    def commits = new java.io.File(s"$ckpt/commits")
      .listFiles().count(_.getName.forall(_.isDigit))
    assert(commits == 2, s"expected 2 committed batches, saw $commits")
    // restart with same checkpoint: nothing new to process, no duplicates
    val q2 = StreamingFact.runCsvToParquet(spark, dir, txSchema,
      customers, products, out, ckpt, maxFilesPerTrigger = 1)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 4)
    assert(commits == 2)
  }

  test("one parquet file per micro-batch, however many splits the batch scans") {
    // a cloned session whose scan cuts every ~170-byte CSV file into
    // 128-byte splits, so a micro-batch of three files reads several
    // input partitions
    val split = spark.newSession()
    split.conf.set("spark.sql.files.maxPartitionBytes", "128")
    split.conf.set("spark.sql.files.openCostInBytes", "128")
    val dir = Files.createTempDirectory("graft_stream_split_src").toString
    val out = Files.createTempDirectory("graft_stream_split_out").toString + "/fact"
    val ckpt = Files.createTempDirectory("graft_stream_split_ckpt").toString
    val dates = Seq("2020-01-02", "03-02-2020", "04/05/2020", "2020/06/07")
    val files = (0 until 6).map { f =>
      val rows = (0 until 5).map { i =>
        val n = f * 5 + i
        // every 7th row has an unknown customer, every 4th an unknown product
        val cust = if (n % 7 == 6) 9999 else 1001 + n % 3
        val prod = if (n % 4 == 3) "PX" else s"P${1 + n % 2}"
        s"$n,$cust,$prod,${1 + n % 3},${dates(n % 4)}"
      }
      val path = java.nio.file.Paths.get(s"$dir/part$f.csv")
      Files.writeString(path,
        ("orderID,Customer_ID,Product_ID,quantity,date" +: rows).mkString("", "\n", "\n"))
      path.toString
    }
    def csv(s: org.apache.spark.sql.SparkSession, paths: String*) =
      s.read.schema(txSchema).option("header", "true").csv(paths: _*)
    assert(csv(split, files.take(3): _*).rdd.getNumPartitions > 1,
      "sanity: a three-file batch must span several input splits")

    val customerRows = Seq(Tuple1(1001), Tuple1(1002), Tuple1(1003))
    val productRows = Seq(("P1", BigDecimal("2.50"), 9, 3),
      ("P2", BigDecimal("10.00"), 13, 5))
    def dims(s: org.apache.spark.sql.SparkSession) = (
      s.createDataFrame(customerRows).toDF("customer_id"),
      s.createDataFrame(productRows)
        .toDF("product_id", "price", "supplier_id", "store_id")
        .withColumn("price", col("price").cast("decimal(12,2)")))

    val (customers, products) = dims(split)
    val q = StreamingFact.runCsvToParquet(split, dir, txSchema,
      customers, products, out, ckpt, maxFilesPerTrigger = 3)
    q.awaitTermination()
    assert(q.exception.isEmpty)

    def names(d: java.nio.file.Path) =
      Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq
    val batchDirs = names(java.nio.file.Paths.get(out))
      .filter(_.startsWith("batch_id="))
    assert(batchDirs.size == 2) // six files, three per trigger
    batchDirs.foreach { b =>
      val parts = names(java.nio.file.Paths.get(out, b))
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.size == 1, s"$b holds ${parts.mkString(", ")}")
    }

    val (batchCustomers, batchProducts) = dims(spark)
    val expected = FactBuilder.buildFact(
      Normalize.normalizeTransactions(csv(spark, dir)),
      batchCustomers, batchProducts)
    val fact = spark.read.parquet(out).drop("batch_id")
    assert(fact.count() == expected.count() && expected.count() > 0)
    assert(graft.GoldenHash.tableHash(fact) == graft.GoldenHash.tableHash(expected))
  }

  test("readMasterCsv drops the pandas index column and keeps quoted fields") {
    val dir = Files.createTempDirectory("graft_master_csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/products.csv"),
      """,Product_ID,Product_Category,price$,storeID,supplierID,storeName,supplierName
        |0,P001,"Books, Movies & Music",5.25,2,13,Tech Haven,Samsung Electronics
        |1,P002,Electronics,10.00,1,9,Electro Mart,Canon Inc.
        |""".stripMargin)
    val df = Dimensions.readMasterCsv(spark, dir)
    assert(!df.columns.contains("_c0"))
    val prods = Dimensions.productDim(df).orderBy("product_id").collect()
    assert(prods.length == 2)
    assert(prods(0).getAs[String]("product_category") == "Books, Movies & Music")
    assert(prods(0).getAs[java.math.BigDecimal]("price")
      .compareTo(new java.math.BigDecimal("5.25")) == 0)
    assert(Dimensions.storeDim(df).count() == 2)
  }
}
