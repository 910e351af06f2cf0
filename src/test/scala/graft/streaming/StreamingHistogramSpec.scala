package graft.streaming

import graft.SparkSpec
import graft.operators.HistogramQuantile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming histogram's correctness story: with a FIXED bucket
  * layout, counts add — so the micro-batched fold must equal a one-shot
  * absorb under any batching, and (when the declared range equals the
  * data's true range) the readout must be VALUE-IDENTICAL to the oracled
  * batch sketch, because the estimate tree is shared verbatim.
  */
class StreamingHistogramSpec extends SparkSpec {
  import spark.implicits._

  private val values: Seq[Long] =
    Seq(3L, 17L, 17L, 42L, 99L, 250L, 251L, 252L, 700L, 701L,
      999L, 1000L, 5L, 444L, 803L)
  private val B = 16
  private val Pcts = Seq(25, 50, 75, 90, 99)

  private def histOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("micro-batched fold equals one-shot, under several batchings") {
    val oneShot = new StreamingHistogram.Maintainer("v", 3L, 1000L, B)
    oneShot.absorb(values.toDF("v"))
    val expect = histOf(oneShot.currentHistogram.get)
    assert(expect.values.sum == values.size.toLong)

    for (batching <- Seq(Seq(5, 5, 5), Seq(1, 14), Seq(15), Seq(7, 1, 7))) {
      val maint = new StreamingHistogram.Maintainer("v", 3L, 1000L, B)
      var rest = values
      for (n <- batching) {
        val (b, r) = rest.splitAt(n)
        maint.absorb(b.toDF("v"))
        rest = r
      }
      assert(histOf(maint.currentHistogram.get) == expect,
        s"batching $batching diverged from one-shot")
      assert(rowsOf(maint.quantiles(Pcts).get) ==
        rowsOf(oneShot.quantiles(Pcts).get))
    }
  }

  test("readout is value-identical to the batch sketch when the " +
    "declared range is the data's true range") {
    val df = values.toDF("v")
    val maint = new StreamingHistogram.Maintainer("v",
      values.min, values.max, B)
    maint.absorb(df)
    val batch = HistogramQuantile.percentiles(df, col("v"), B, Pcts)
    assert(rowsOf(maint.quantiles(Pcts).get) == rowsOf(batch),
      "streamed readout diverged from the batch sketch")
  }

  test("state is bounded at B rows regardless of input size") {
    val maint = new StreamingHistogram.Maintainer("v", 0L, 99L, 8)
    maint.absorb(spark.range(10000).select((col("id") % 100).as("v")))
    maint.absorb(spark.range(10000).select((col("id") % 97).as("v")))
    val h = maint.currentHistogram.get
    assert(h.count() <= 8L)
    assert(histOf(h).values.sum == 20000L)
  }

  test("out-of-range values clamp into the edge buckets; NULLs drop") {
    val maint = new StreamingHistogram.Maintainer("v", 100L, 199L, 10)
    maint.absorb(Seq[Option[Long]](Some(-5L), Some(50L), Some(150L),
      Some(500L), None).toDF("v"))
    val h = histOf(maint.currentHistogram.get)
    // two below-range rows → bucket 0; one above-range → bucket 9
    assert(h == Map(0L -> 2L, 5L -> 1L, 9L -> 1L))
    // n counts every absorbed non-null row, so interior rank targets
    // stay exact even with clamped tails
    val q = maint.quantiles(Seq(50)).get.collect().head
    assert(q.getAs[Long]("n") == 4L)
  }

  test("creation edge + guards") {
    val maint = new StreamingHistogram.Maintainer("v", 0L, 10L, 4)
    assert(maint.currentHistogram.isEmpty && maint.quantiles(Seq(50)).isEmpty)
    intercept[IllegalArgumentException] {
      new StreamingHistogram.Maintainer("v", 10L, 0L, 4)
    }
    intercept[IllegalArgumentException] {
      new StreamingHistogram.Maintainer("v", 0L, 10L, 0)
    }
    maint.absorb(Seq(1L).toDF("v"))
    intercept[IllegalArgumentException] { maint.quantiles(Seq(0)) }
  }

  test("end-to-end through a MemoryStream micro-batch drain") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val maint = new StreamingHistogram.Maintainer("v", 3L, 1000L, B)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_shist")
    try {
      val q = maint.run(mem.toDF().toDF("v"), ckptDir.toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(
        maint.absorb)
      mem.addData(values.take(8): _*)
      q.processAllAvailable()
      mem.addData(values.drop(8): _*)
      q.processAllAvailable()
      q.stop()
      val oneShot = new StreamingHistogram.Maintainer("v", 3L, 1000L, B)
      oneShot.absorb(values.toDF("v"))
      assert(histOf(maint.currentHistogram.get) ==
        histOf(oneShot.currentHistogram.get))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckptDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
