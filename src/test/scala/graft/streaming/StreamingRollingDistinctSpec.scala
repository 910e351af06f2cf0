package graft.streaming

import java.sql.Date

import graft.SparkSpec
import graft.operators.RollingDistinct
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Micro-batched fold ≡ one-shot: draining an event stream through
  * StreamingRollingDistinct.Maintainer must land on exactly the
  * occupancy a one-shot RollingDistinct.sketchOccupancy over the full
  * data produces — however the stream is batched, with late stale-day
  * rows and duplicates crossing batch boundaries (set union is
  * idempotent/commutative/associative, which is the claim under test).
  */
class StreamingRollingDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def d(day: Int): Date = Date.valueOf(f"2024-01-$day%02d")

  private val rows: Seq[(Date, Long)] = Seq(
    (d(1), 1L), (d(1), 2L), (d(2), 3L), (d(3), 1L),
    (d(5), 4L), (d(5), 4L),            // in-batch duplicate
    (d(2), 9L),                        // late: day-2 row in a later batch
    (d(8), 5L), (d(1), 7L),            // very late day-1 row, last batch
    (d(9), 6L))

  private def occOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap

  private val W = 3
  private val M = 64

  test("micro-batched fold equals one-shot sketchOccupancy, with late " +
    "rows and duplicates crossing batches") {
    val oneShot = occOf(RollingDistinct.sketchOccupancy(
      rows.toDF("day", "k"), "day", "k", W, M))

    for (batching <- Seq(Seq(3, 3, 4), Seq(1, 9), Seq(10), Seq(4, 1, 5))) {
      val maint = new StreamingRollingDistinct.Maintainer("day", "k", W, M)
      var rest = rows
      for (n <- batching) {
        val (b, r) = rest.splitAt(n)
        maint.absorb(b.toDF("day", "k"))
        rest = r
      }
      assert(occOf(maint.currentOccupancy.get) == oneShot,
        s"batching $batching diverged from one-shot")
    }
  }

  test("state stays the deduped (day, bucket) set — bounded by days*m") {
    val maint = new StreamingRollingDistinct.Maintainer("day", "k", W, M)
    maint.absorb(rows.toDF("day", "k"))
    maint.absorb(rows.toDF("day", "k")) // re-absorbing changes nothing
    val p = maint.currentPairs.get
    assert(p.count() == p.distinct().count())
    assert(p.count() <= rows.map(_._1).distinct.size.toLong * M)
    val oneShot = occOf(RollingDistinct.sketchOccupancy(
      rows.toDF("day", "k"), "day", "k", W, M))
    assert(occOf(maint.currentOccupancy.get) == oneShot)
  }

  test("creation edge: no state before the first batch") {
    val maint = new StreamingRollingDistinct.Maintainer("day", "k", W, M)
    assert(maint.currentPairs.isEmpty && maint.currentOccupancy.isEmpty)
  }

  test("end-to-end through a MemoryStream micro-batch drain") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Long)]
    val maint = new StreamingRollingDistinct.Maintainer("day", "k", W, M)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_srd")
    try {
      val stream = mem.toDF().toDF("dayNum", "k")
        .selectExpr("DATE '2023-12-31' + dayNum AS day", "k")
      // ProcessingTime(0L): AvailableNow snapshots the (empty) source at
      // start, so data added afterwards would never drain
      val q = maint.run(stream, ckptDir.toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(
        maint.absorb)
      mem.addData(rows.take(5).map { case (dt, k) =>
        (dt.toLocalDate.getDayOfMonth, k) }: _*)
      q.processAllAvailable()
      mem.addData(rows.drop(5).map { case (dt, k) =>
        (dt.toLocalDate.getDayOfMonth, k) }: _*)
      q.processAllAvailable()
      q.stop()
      val oneShot = occOf(RollingDistinct.sketchOccupancy(
        rows.toDF("day", "k"), "day", "k", W, M))
      assert(occOf(maint.currentOccupancy.get) == oneShot)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckptDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
