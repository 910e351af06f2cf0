package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.operators.CdcMerge
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Streaming ≡ one-shot for the maintained aggregate: draining a
  * changelog through StreamingMv.Maintainer in micro-batches (each batch
  * folding retract/insert deltas onto the HELD MV via
  * CdcMerge.maintainAggFrom) must land on exactly the aggregate a
  * from-scratch servingAgg over the one-shot compaction produces —
  * however the stream is batched, with late rows, tombstones, group
  * moves, and resurrections crossing batch boundaries. This is the
  * associativity claim a streaming MV rests on: each fold retracts
  * against the pre-merge snapshot it was computed over.
  */
class StreamingMvSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  private val cols = Seq("user_id", "event_type", "value", "ts", "event_id")

  private val rows = Seq(
    (1L, "click", 1.0, t(1), 10L),
    (2L, "view", 2.0, t(2), 11L),
    (3L, "error", 3.0, t(3), 12L),
    (1L, "purchase", 4.0, t(5), 13L),  // key 1 moves click -> purchase
    (4L, "click", 5.0, t(6), 14L),
    (2L, "error", 6.0, t(7), 15L),     // key 2 tombstoned cross-batch
    (3L, "view", 7.0, t(8), 16L),      // key 3 resurrected cross-batch
    (4L, "view", 8.0, t(6), 17L),      // same-ts tie, event_id breaks
    (1L, "view", 0.5, t(4), 18L),      // late: must be a net-zero fold
    (5L, "click", 9.0, t(9), 19L))

  private val key = Seq("user_id")
  private val ord = Seq("ts", "event_id")
  private def money = col("value").cast(DecimalType(18, 2))
  private def servingP = col("event_type") =!= "error"

  private def aggOf(df: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, BigDecimal)] =
    df.select(col("event_type"), col("n_keys"),
        col("total").cast(DecimalType(38, 2)))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2)))))
      .toMap

  test("micro-batched MV fold equals one-shot servingAgg over the full " +
    "changelog") {
    implicit val sqlCtx = spark.sqlContext
    val oneShot = aggOf(CdcMerge.servingAgg(
      CdcMerge.compact(rows.toDF(cols: _*), key, ord),
      "event_type", money, servingP))

    val mem = MemoryStream[(Long, String, Double, Timestamp, Long)]
    val mv = new StreamingMv.Maintainer(key, ord, "event_type", money,
      servingP)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_mv_ckpt")
    try {
      val q = mv.run(mem.toDF().toDF(cols: _*), ckptDir.toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(
        mv.absorb)
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      // mid-stream: the held MV must equal a recompute of the prefix
      val midWant = aggOf(CdcMerge.servingAgg(
        CdcMerge.compact(rows.take(4).toDF(cols: _*), key, ord),
        "event_type", money, servingP))
      assert(aggOf(mv.currentAgg.get) === midWant)
      mem.addData(rows.slice(4, 8): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(8): _*)
      q.processAllAvailable()
      q.stop()

      assert(aggOf(mv.currentAgg.get) === oneShot)
      // and the snapshot kept pace (it feeds the next retraction)
      val snapAgg = aggOf(CdcMerge.servingAgg(mv.currentSnapshot.get,
        "event_type", money, servingP))
      assert(snapAgg === oneShot)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckptDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a reader mid-batch sees the snapshot and the aggregate of one " +
    "batch") {
    import StreamingMvSpec.{Armed, Entered, Release}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // the value column parks its tasks while armed, so batch 2's
    // aggregate job (the only job that evaluates it) holds the step open
    val parked = udf { (v: Double) =>
      if (Armed.get) {
        Entered.countDown()
        Release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      v
    }
    val mv = new StreamingMv.Maintainer(key, ord, "event_type",
      parked(col("value")).cast(DecimalType(18, 2)), servingP)
    mv.absorb(rows.take(4).toDF(cols: _*))

    Armed.set(true)
    val batch2 = Future(mv.absorb(rows.slice(4, 8).toDF(cols: _*)))
    val (snap, agg) =
      try {
        assert(Entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "batch 2's aggregate job never ran the value column")
        (mv.currentSnapshot.get, mv.currentAgg.get)
      } finally {
        Armed.set(false)
        Release.countDown()
      }
    Await.result(batch2, 2.minutes)

    assert(aggOf(agg) === aggOf(CdcMerge.servingAgg(snap, "event_type",
      money, servingP)))
  }
}

object StreamingMvSpec {
  // local-mode tasks run in the test JVM, so a UDF reaches these directly
  val Armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val Entered = new java.util.concurrent.CountDownLatch(1)
  val Release = new java.util.concurrent.CountDownLatch(1)
}
