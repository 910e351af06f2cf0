package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{GoldenHash, SparkEntry, Tables}
import graft.etl.{Dimensions, FactBuilder, Normalize}
import graft.queries.{Dashboard, WalmartStar}
import graft.streaming.StreamingFact

/** What one run reports back to run.py: raw samples, per-layer numbers,
  * and every operation attempted with the ones that failed.
  */
final class Result {
  private val fields = mutable.LinkedHashMap[String, Any]()
  private val layers = mutable.LinkedHashMap[String, Double]()
  private val errors = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L

  def put(k: String, v: Any): Unit = synchronized { fields(k) = v }
  def layer(k: String, v: Double): Unit = synchronized { layers(k) = v }

  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; errors += what }
  }

  /** Run one operation; an exception counts it as failed. */
  def op[T](what: String)(body: => T): Option[T] =
    try { val v = body; check(ok = true, ""); Some(v) }
    catch { case NonFatal(e) => check(ok = false, s"$what: $e"); None }

  def json: String = synchronized {
    Json.obj(fields.toSeq ++ Seq("layers" -> layers.toMap,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq))
  }
}

/** The walmart star as the ETL layer builds it from the master CSVs. */
object Walmart {
  val TxSchema: StructType = StructType(
    Seq("_c0", "orderID", "Customer_ID", "Product_ID", "quantity", "date")
      .map(StructField(_, StringType)))

  final case class Dims(customer: DataFrame, product: DataFrame,
      store: DataFrame, supplier: DataFrame, date: DataFrame) {
    def all: Seq[DataFrame] = Seq(customer, product, store, supplier, date)
    def star(sales: DataFrame): WalmartStar =
      WalmartStar(sales, customer, product, store, supplier, date)
  }

  /** The Dimensions calls, materialized. The date dimension covers the
    * calendar the transactions are drawn from: `days` days from `firstDay`.
    */
  def dims(spark: SparkSession, masters: String, firstDay: String,
      days: Int): Dims = {
    val cm = Dimensions.readMasterCsv(spark, s"$masters/customer_master_data.csv")
    val pm = Dimensions.readMasterCsv(spark, s"$masters/product_master_data.csv")
    val calendar = spark.range(0, days)
      .select(expr(s"date_add(DATE'$firstDay', CAST(id AS INT))").as("d"))
    val d = Dims(Dimensions.customerDim(cm).cache(),
      Dimensions.productDim(pm).cache(), Dimensions.storeDim(pm).cache(),
      Dimensions.supplierDim(pm).cache(), Dimensions.dateDim(calendar, "d").cache())
    d.all.foreach(_.count())
    d
  }

  def txCsv(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("header", "true").schema(TxSchema).csv(dir)

  def batchFact(spark: SparkSession, dir: String, d: Dims): DataFrame =
    FactBuilder.buildFact(Normalize.normalizeTransactions(txCsv(spark, dir)),
      d.customer, d.product)

  def drain(spark: SparkSession, src: String, d: Dims, out: String,
      ckpt: String): Seq[StreamingQueryProgress] = {
    val q = StreamingFact.runCsvToParquet(spark, src, TxSchema, d.customer,
      d.product, out, ckpt)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq
  }

  /** file index -> batch ids holding its rows, read back from the fact;
    * order_id div `stride` is the index of the file a row came in.
    */
  def fileBatches(spark: SparkSession, out: String,
      stride: Long): Map[String, Seq[Long]] =
    spark.read.parquet(out)
      .select(expr(s"order_id div $stride").as("f"),
        col("batch_id").cast("long").as("b"))
      .distinct().collect().toSeq
      .groupBy(_.getLong(0)).map { case (f, rows) =>
        f.toString -> rows.map(_.getLong(1)).sorted }

  def batchRecord(p: StreamingQueryProgress, run: Int): Map[String, Any] = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    Map("id" -> p.batchId, "run" -> run, "start_ms" -> start,
      "end_ms" -> (start + dur.getOrElse("triggerExecution", 0L)),
      "rows" -> p.numInputRows, "durations" -> dur)
  }

  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    GoldenHash.tableHash(a) == GoldenHash.tableHash(b)
}

object Harness {
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    graft.LogHygiene.setLevelAndFilter(s.sparkContext, "ERROR")
    s
  }

  /** The JVM's resident-set high-water mark, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val trace = new Trace(a("trace") == "1")
    val r = new Result
    val spark = session(a("cores").toInt, work)
    val stats = new JobStats
    if (trace.on) spark.sparkContext.addSparkListener(stats)
    val bench = new Bench(spark, a, r, trace, stats)
    trace.span("bench.workload") {
      a("workload") match {
        case "warehouse_live" => bench.live()
        case "operator_suite" => bench.suite()
      }
    }
    spark.stop()
    if (trace.on && a("workload") == "warehouse_live") {
      // single-core baseline: every file drained again on a local[1] session
      val one = session(1, work)
      r.op("1-core drain") {
        val d = Walmart.dims(one, a("masters"), a("first-day"), a("days").toInt)
        val t0 = trace.nowMs()
        val ps = Walmart.drain(one, a("src"), d, s"$work/fact_1core", s"$work/ckpt_1core")
        val secs = (trace.nowMs() - t0) / 1000
        r.layer("streaming.rows_per_s_1core", ps.map(_.numInputRows).sum / secs)
      }
      one.stop()
    }
    trace.write(s"$work/spans.jsonl")
    Files.writeString(Paths.get(a("out")), r.json)
  }
}

/** The two workloads. Every timed window holds only calls a user of the
  * engine makes; result checks run after it.
  */
final class Bench(spark: SparkSession, a: Map[String, String], r: Result,
    trace: Trace, stats: JobStats) {
  private val work = a("work")
  private val seconds = a("seconds").toDouble
  private lazy val latestYear = a("latest-year").toInt
  private def dims(): Walmart.Dims =
    Walmart.dims(spark, a("masters"), a("first-day"), a("days").toInt)
  private def now() = trace.nowMs()

  /** Wall seconds of `body`, with its value. */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val v = body
    (v, (now() - t0) / 1000)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** Set-up, five times: the median is `setup_s`, so work moved into
    * set-up shows.
    */
  private def setUp[T](span: String)(build: => T)(release: T => Unit): T = {
    var last: Option[T] = None
    val secs = (1 to 5).map { _ =>
      last.foreach(release)
      val (v, s) = timed(trace.span(span)(build))
      last = Some(v)
      s
    }
    r.put("setup_s", secs)
    last.get
  }

  /** One loader run: an AvailableNow drain of whatever the source holds. */
  private def loaderRun(d: Walmart.Dims, src: String, out: String,
      ckpt: String): (Double, Double, Seq[StreamingQueryProgress], Int) = {
    val s = now()
    var span = 0
    val ps = trace.span("streaming.run") {
      span = trace.currentId
      Walmart.drain(spark, src, d, out, ckpt)
    }
    (s, now(), ps, span)
  }

  /** One analyst refresh: list and read the live fact, then every panel,
    * each written to the noop sink. Returns the read time and one sample
    * per panel that ran.
    */
  private def tick(d: Walmart.Dims, factDir: String): (Double, Seq[Map[String, Any]]) =
    trace.span("queries.tick") {
      val (fact, readS) = timed(trace.span("queries.fact_read")(
        spark.read.parquet(factDir).drop("batch_id")))
      val panels = Dashboard.allPanels(d.star(fact), latestYear).toSeq
        .sortBy(_._1).flatMap { case (name, df) =>
          spark.sparkContext.setJobGroup(s"bench/dashboard.$name", name)
          val t0 = now()
          var plan, exec = 0.0
          val ok = r.op(s"panel $name") {
            trace.span("queries.panel") {
              if (trace.on)
                plan = timed(trace.span("spark.plan")(df.queryExecution.executedPlan))._2
              exec = timed(trace.span("spark.exec")(noop(df)))._2
            }
          }
          spark.sparkContext.clearJobGroup()
          ok.map(_ => Map("panel" -> name, "s" -> (now() - t0) / 1000,
            "plan_s" -> plan, "exec_s" -> exec))
        }
      (readS, panels)
    }

  // --- warehouse_live --------------------------------------------------

  /** Catch up a backlog with no readers, then take files on a fixed
    * schedule while one analyst refreshes the dashboard; the live phase
    * runs on the last catch-up drain's checkpoint and fact directory.
    */
  def live(): Unit = {
    val src = a("src")
    // warm-up: the first dimension build, a drain of the backlog, then one
    // dashboard refresh over its fact
    trace.span("bench.warmup") {
      val d = dims()
      Walmart.drain(spark, src, d, s"$work/warm_fact", s"$work/warm_ckpt")
      tick(d, s"$work/warm_fact")
      d.all.foreach(_.unpersist())
    }
    val d = setUp("etl.dims")(dims())(
      _.all.foreach(_.unpersist()))
    val parent = trace.currentId
    val runs = new ConcurrentLinkedQueue[(Double, Double, Seq[StreamingQueryProgress], Int)]()

    // the backlog: every file already in the source directory, drained
    // several times, each into a fresh checkpoint and fact directory; the
    // last drain's checkpoint and fact carry on into the live phase
    val drains = (1 to a("drains").toInt).map { i =>
      r.op("backlog drain")(loaderRun(d, src, s"$work/fact_$i", s"$work/ckpt_$i"))
    }
    val out = s"$work/fact_${drains.size}"
    val ckpt = s"$work/ckpt_${drains.size}"
    val backlog = drains.last
    backlog.foreach(runs.add)
    val backlogFiles = a("backlog-files").toInt
    val backlogStart = backlog.map(_._1).getOrElse(now())
    r.put("bulk_s", drains.flatten.map(b => (b._2 - b._1) / 1000))
    r.put("backlog_rows", backlog.map(_._3.map(_.numInputRows).sum).getOrElse(0L))

    val staging = a("staging")
    val names = Files.list(Paths.get(staging)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val n = names.size
    val interval = 1000.0 / a("rate").toDouble
    val t0 = now() + 500
    val due = Array.tabulate(n)(i => t0 + i * interval)
    val renamed = new Array[Double](n)
    @volatile var genDone = false
    @volatile var analystStop = false
    @volatile var loaderStop = false
    val ticks = new ConcurrentLinkedQueue[(Double, Double, Seq[Map[String, Any]])]()

    // open loop: a file is renamed in when due, however far behind the
    // loader is
    val generator = new Thread(() => {
      for (i <- 0 until n) {
        val wait = due(i) - now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.move(Paths.get(staging, names(i)), Paths.get(src, names(i)),
          StandardCopyOption.ATOMIC_MOVE)
        renamed(i) = now()
      }
      genDone = true
    }, "bench-generator")

    // the scheduled loader: back-to-back AvailableNow runs, one checkpoint
    val loader = new Thread(() => {
      trace.adopt(parent)
      while (!loaderStop) {
        val caughtUp = genDone
        r.op("loader run")(loaderRun(d, src, out, ckpt)) match {
          case Some(run) => runs.add(run)
          case None => Thread.sleep(100)
        }
        if (caughtUp) loaderStop = true // this run started after the last rename
      }
    }, "bench-loader")

    // one analyst, closed loop
    val analyst = new Thread(() => {
      trace.adopt(parent)
      while (!analystStop) {
        val s = now()
        val (readS, panels) = tick(d, out)
        ticks.add(((now() - s) / 1000, readS, panels))
      }
    }, "bench-analyst")

    Seq(generator, loader, analyst).foreach(_.start())
    generator.join()
    analystStop = true
    analyst.join()
    loader.join(60000)
    if (loader.isAlive) { loaderStop = true; loader.join() }

    val runSeq = runs.asScala.toSeq.sortBy(_._1)
    val batches = runSeq.zipWithIndex.flatMap { case ((_, _, ps, span), i) =>
      val bs = ps.filter(_.numInputRows > 0).map(Walmart.batchRecord(_, i))
      bs.foreach { b =>
        trace.record("streaming.batch", span, b("start_ms").asInstanceOf[Double],
          b("end_ms").asInstanceOf[Double])
      }
      bs
    }
    // the timed windows end here; the checks below would raise the peak
    r.put("peak_rss_mb", Harness.peakRssMb())
    val tickSeq = ticks.asScala.toSeq
    r.put("fact_read_s", tickSeq.map(_._2))
    r.put("panels", tickSeq.flatMap(_._3))
    r.put("schedule", Map(
      "due_ms" -> (Seq.fill(backlogFiles)(backlogStart) ++ due.toSeq),
      "renamed_ms" -> (Seq.fill(backlogFiles)(backlogStart) ++ renamed.toSeq),
      "live_from" -> backlogFiles,
      "runs" -> runSeq.map { case (s, e, ps, _) =>
        Map("start_ms" -> s, "end_ms" -> e,
          "batches" -> ps.count(_.numInputRows > 0)) },
      "batches" -> batches))

    // outside the timed windows: the fact and the final panels must equal
    // a batch build of the same files
    val inputRows = Walmart.txCsv(spark, src).count()
    r.put("input_rows", inputRows)
    if (trace.on) {
      val (_, s) = timed(trace.span("etl.fact_build")(
        noop(Walmart.batchFact(spark, src, d))))
      r.layer("etl.fact_build_s", s)
    }
    r.op("read back fact") {
      r.put("file_batch", Walmart.fileBatches(spark, out, a("order-stride").toLong))
      val fact = spark.read.parquet(out).drop("batch_id").cache()
      val batch = Walmart.batchFact(spark, src, d).cache()
      r.check(Walmart.sameRows(fact, batch),
        "warehouse_live: streamed fact differs from FactBuilder.buildFact")
      val liveP = Dashboard.allPanels(d.star(fact), latestYear)
      val batchP = Dashboard.allPanels(d.star(batch), latestYear)
      // the panels are compared concurrently: Spark runs their jobs side by side
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val same = liveP.keys.toSeq.sorted.map { p =>
        p -> Future(Walmart.sameRows(liveP(p), batchP(p)))
      }
      same.foreach { case (p, f) =>
        r.check(Await.result(f, scala.concurrent.duration.Duration.Inf),
          s"warehouse_live: panel $p over the live fact differs from the batch fact")
      }
      r.layer("etl.kept_ratio", fact.count().toDouble / inputRows)
    }
  }

  // --- operator_suite --------------------------------------------------

  def suite(): Unit = {
    val dir = a("tables")
    val names = a("queries").split(",").toSeq
    setUp("tables.preload")(Tables.preloadAll(spark, dir))(
      _ => spark.catalog.clearCache())
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap

    // warm-up pass; its outputs are what the oracle check compares
    trace.span("bench.warmup") {
      names.foreach { n =>
        r.op(s"$n warm-up") {
          fns(n)(spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(s"$work/out/$n")
        }
      }
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$work/out/oracle_sql.json"),
      Json.value(names.map(n => n -> oracle(n)).toMap))

    val laps = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Double]()
    val gcs = mutable.ArrayBuffer[Double]()
    val spills = mutable.ArrayBuffer[Double]()
    val minPasses = a("min-passes").toInt
    val start = now()
    while (now() - start < seconds * 1000 || passes.size < minPasses) {
      val gc0 = gcMs()
      val spill0 = stats.get("all.spill_bytes")
      val (_, pass) = timed(trace.span("bench.pass") {
        names.foreach { n =>
          spark.sparkContext.setJobGroup(s"bench/$n", n)
          stats.active = n
          val t0 = now()
          var parts = Map.empty[String, Double]
          val ok = r.op(n) {
            trace.span("queries.query") {
              val (df, b) = timed(trace.span("queries.build")(fns(n)(spark, dir)))
              val p = if (trace.on)
                timed(trace.span("spark.plan")(df.queryExecution.executedPlan))._2
              else 0.0
              val (_, e) = timed(trace.span("spark.exec")(noop(df)))
              parts = Map("build_s" -> b, "plan_s" -> p, "exec_s" -> e)
            }
          }
          stats.active = "other"
          spark.sparkContext.clearJobGroup()
          if (ok.isDefined)
            laps += Map("query" -> n, "pass" -> passes.size,
              "s" -> (now() - t0) / 1000) ++ parts
        }
      })
      passes += pass
      gcs += (gcMs() - gc0) / 1000.0
      spills += (stats.get("all.spill_bytes") - spill0) / 1048576.0
    }
    r.put("peak_rss_mb", Harness.peakRssMb())
    r.put("passes_s", passes.toSeq)
    r.put("laps", laps.toSeq)
    r.put("gc_s", gcs.toSeq)
    r.put("spill_mb", spills.toSeq)
    if (trace.on) {
      names.foreach { n =>
        r.layer(s"$n.jobs", stats.get(s"$n.jobs").toDouble / passes.size)
        r.layer(s"$n.shuffle_mb",
          stats.get(s"$n.shuffle_bytes") / 1048576.0 / passes.size)
      }
    }
  }
}
