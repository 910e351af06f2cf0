package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The crawl-frontier maintainer's correctness story: per-URL
  * (count, min-doc) are associative + commutative, so the micro-batched
  * fold must equal the one-shot groupBy under any batching; and the
  * per-batch NEWLY-SEEN readouts must partition the distinct URL set
  * (every URL reported new exactly once, in its first-arrival batch).
  */
class StreamingCrawlFrontierSpec extends SparkSpec {
  import spark.implicits._

  // (doc_id, url): u1 seen in three docs across batches, u2 twice, u3 once
  private val rows: Seq[(Long, String)] = Seq(
    (10L, "u1"), (11L, "u2"), (12L, "u1"), (13L, "u3"),
    (14L, "u2"), (15L, "u1"), (16L, "u4"), (17L, "u4"))

  private def df(xs: Seq[(Long, String)]): DataFrame =
    xs.toDF("doc_id", "url")

  private def frontier(d: DataFrame): Map[String, (Long, Long)] =
    d.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private val oneShot: Map[String, (Long, Long)] =
    Map("u1" -> (3L, 10L), "u2" -> (2L, 11L), "u3" -> (1L, 13L),
      "u4" -> (2L, 16L))

  test("micro-batched fold equals the one-shot groupBy under several " +
    "batchings; newly-seen readouts partition the URL set") {
    for (batching <- Seq(Seq(8), Seq(3, 3, 2), Seq(1, 7), Seq(4, 4))) {
      val m = new StreamingCrawlFrontier.Maintainer
      var rest = rows
      val fresh = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
      for (n <- batching) {
        val (b, r) = rest.splitAt(n)
        fresh += m.absorb(df(b)).select("url").collect()
          .map(_.getString(0)).toSet
        rest = r
      }
      assert(frontier(m.currentFrontier.get
        .select("url", "n_docs", "first_doc")) == oneShot,
        s"batching $batching diverged from the one-shot groupBy")
      assert(fresh.map(_.size).sum == oneShot.size &&
        fresh.reduce(_ ++ _) == oneShot.keySet,
        s"batching $batching newly-seen sets do not partition the URLs")
    }
  }

  test("newly-seen is the batch's first-arrival set, not its content") {
    val m = new StreamingCrawlFrontier.Maintainer
    assert(m.currentFrontier.isEmpty)
    val f1 = m.absorb(df(rows.take(4)))
    assert(f1.select("url").collect().map(_.getString(0)).toSet ==
      Set("u1", "u2", "u3"))
    // u1/u2 recur in batch 2: only u4 is new
    val f2 = m.absorb(df(rows.drop(4)))
    assert(f2.select("url").collect().map(_.getString(0)).toSet == Set("u4"))
    // a fresh frame stays correct even though state advanced after it
    assert(f1.count() == 3L)
  }

  test("end-to-end through a MemoryStream micro-batch drain") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val m = new StreamingCrawlFrontier.Maintainer
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_scf")
    try {
      val q = m.run(mem.toDF().toDF("doc_id", "url"), ckptDir.toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(
        m.absorb)
      mem.addData(rows.take(5): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(5): _*)
      q.processAllAvailable()
      q.stop()
      assert(frontier(m.currentFrontier.get
        .select("url", "n_docs", "first_doc")) == oneShot)
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(ckptDir.toFile)
    }
  }
}
