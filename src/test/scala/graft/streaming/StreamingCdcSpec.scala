package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.operators.CdcMerge
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming ≡ one-shot for the CDC compactor: draining a changelog
  * through StreamingCdc.Compactor in micro-batches (foreachBatch folding
  * each batch via CdcMerge.merge) must land on EXACTLY the table a
  * single CdcMerge.compact over the whole changelog produces — however
  * the stream happens to be batched, and even when later batches carry
  * LATE (older-timestamp) rows. This pins the associativity claim the
  * incremental merge rests on: base is the ordering-max of what it has
  * seen, so folding batch-by-batch equals folding everything at once.
  */
class StreamingCdcSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  private val cols = Seq("user_id", "event_type", "value", "ts", "event_id")

  // key 1: updated across batches (late row in batch 3 must NOT win);
  // key 2: tombstoned last — erased in the served view;
  // key 3: tombstone overwritten by a LATER write — resurrected;
  // key 4: same-ts tie broken by event_id;
  // key 5: appears only in the final batch
  private val rows = Seq(
    (1L, "click", 1.0, t(1), 10L),
    (2L, "view", 2.0, t(2), 11L),
    (3L, "error", 3.0, t(3), 12L),
    (1L, "purchase", 4.0, t(5), 13L),
    (4L, "click", 5.0, t(6), 14L),
    (2L, "error", 6.0, t(7), 15L),
    (3L, "view", 7.0, t(8), 16L),
    (4L, "view", 8.0, t(6), 17L),
    (1L, "view", 0.5, t(4), 18L), // late: older ts than key 1's max
    (5L, "click", 9.0, t(9), 19L))

  private val key = Seq("user_id")
  private val ord = Seq("ts", "event_id")

  test("micro-batched compaction equals one-shot compaction, late rows " +
    "and tombstones included") {
    implicit val sqlCtx = spark.sqlContext
    val oneShot = CdcMerge.compact(rows.toDF(cols: _*), key, ord)
      .orderBy("user_id").collect().map(_.toSeq).toSeq

    val mem = MemoryStream[(Long, String, Double, Timestamp, Long)]
    val compactor = new StreamingCdc.Compactor(key, ord)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt")
    try {
      // long-running trigger + addData/processAllAvailable interleaving
      // so the three uneven batches are DETERMINISTIC micro-batches
      // (AvailableNow would capture the end offset at start and serve
      // everything as one batch — never exercising the merge path)
      val q = compactor.run(mem.toDF().toDF(cols: _*), ckptDir.toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(
        compactor.absorb)
      // three uneven batches; the third is entirely late-or-new data
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      assert(compactor.current.isDefined) // batch 1 took the compact branch
      mem.addData(rows.slice(4, 8): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(8): _*)
      q.processAllAvailable()
      q.stop()

      val streamed = compactor.current.get
        .orderBy("user_id").collect().map(_.toSeq).toSeq
      assert(streamed == oneShot)

      // served view: tombstoned key 2 gone, resurrected key 3 present
      val served = compactor.current.get
        .filter($"event_type" =!= "error")
        .select("user_id").as[Long].collect().toSet
      assert(served == Set(1L, 3L, 4L, 5L))
      // and the late row did not displace key 1's newest write
      val k1 = streamed.find(_.head == 1L).get
      assert(k1(1) == "purchase" && k1(4) == 13L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckptDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a fresh compactor refuses a checkpoint whose batches it never " +
    "absorbed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, Timestamp, Long)]
    val first = new StreamingCdc.Compactor(key, ord)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_cdc_restart")
    val trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    try {
      val q = first.run(mem.toDF().toDF(cols: _*), ckptDir.toString,
        trigger)(first.absorb)
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      q.stop()

      // batch 0 is committed, but its rows live only in `first`: a new
      // compactor resuming the checkpoint would never see them
      val fresh = new StreamingCdc.Compactor(key, ord)
      val err = intercept[IllegalStateException] {
        fresh.run(mem.toDF().toDF(cols: _*), ckptDir.toString,
          trigger)(fresh.absorb).stop()
      }
      assert(err.getMessage.contains(ckptDir.toString))
      assert(fresh.current.isEmpty)

      // the compactor that absorbed batch 0 still resumes its checkpoint
      val resumed = first.run(mem.toDF().toDF(cols: _*), ckptDir.toString,
        trigger)(first.absorb)
      mem.addData(rows.drop(4): _*)
      resumed.processAllAvailable()
      resumed.stop()
      assert(first.current.get.orderBy("user_id").collect().map(_.toSeq)
        .toSeq == CdcMerge.compact(rows.toDF(cols: _*), key, ord)
        .orderBy("user_id").collect().map(_.toSeq).toSeq)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckptDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
