package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.operators.CdcMerge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ≡ one-shot for the maintained JOIN view: draining TWO
  * changelogs through StreamingJoinMv.Maintainer in interleaved
  * micro-batches must land on exactly the join a from-scratch
  * compaction of both full changelogs produces — however the two
  * streams' batches interleave, with join-column moves, tombstones,
  * late rows and dim upserts crossing batch boundaries and sides. Also
  * pins the creation edge: the view is None until both sides exist,
  * then equals the prefix join.
  */
class StreamingJoinMvSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  private val aCols = Seq("aid", "j", "av", "ts")
  private val bCols = Seq("j", "bv", "ver", "del")

  // A-side changelog: user rows keyed by aid, join col j can MOVE
  private val aRows = Seq(
    (1L, 10L, "a1", t(1)),
    (2L, 20L, "a2", t(2)),
    (3L, 10L, "a3", t(3)),
    (1L, 20L, "a1v2", t(5)),  // join-col move 10 → 20, cross-batch
    (2L, 20L, "DEL", t(6)),   // tombstone
    (3L, 10L, "stale", t(2)), // LATE: older than base — must lose
    (4L, 30L, "a4", t(7)))    // joins a dim row that arrives later

  // B-side changelog: dim rows keyed by j, versioned
  private val bRows = Seq(
    (10L, "b10", 1L, false),
    (20L, "b20", 1L, false),
    (20L, "b20v2", 2L, false), // dim upsert, cross-batch
    (10L, "b10", 2L, true),    // dim tombstone
    (30L, "b30", 1L, false))   // late-arriving dim for a4

  private val aServ = col("av") =!= "DEL"
  private val bServ = !col("del")

  private def viewRows(df: DataFrame): Set[(Long, Long, String, String)] =
    df.select(col("j"), col("aid"), col("av"), col("bv"))
      .as[(Long, Long, String, String)].collect().toSet

  private def scratch(a: Seq[(Long, Long, String, Timestamp)],
      b: Seq[(Long, String, Long, Boolean)]): Set[(Long, Long, String, String)] =
    viewRows(CdcMerge.compact(a.toDF(aCols: _*), Seq("aid"), Seq("ts"))
      .filter(aServ)
      .join(CdcMerge.compact(b.toDF(bCols: _*), Seq("j"), Seq("ver"))
        .filter(bServ), Seq("j")))

  test("interleaved two-stream fold equals one-shot join of both " +
    "full changelogs") {
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Long, Long, String, Timestamp)]
    val memB = MemoryStream[(Long, String, Long, Boolean)]
    val mv = new StreamingJoinMv.Maintainer(
      Seq("aid"), Seq("ts"), aServ, Seq("j"), Seq("ver"), bServ, Seq("j"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_jmv_ckpt")
    try {
      val qa = mv.run(memA.toDF().toDF(aCols: _*),
        s"$ckpt/a", org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(
        mv.absorbA)
      val qb = mv.run(memB.toDF().toDF(bCols: _*),
        s"$ckpt/b", org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(
        mv.absorbB)

      // A arrives first: no view until B exists
      memA.addData(aRows.take(3): _*)
      qa.processAllAvailable()
      assert(mv.currentView.isEmpty, "view must wait for both sides")

      // B's first batch creates the view from the prefix
      memB.addData(bRows.take(2): _*)
      qb.processAllAvailable()
      assert(viewRows(mv.currentView.get) ==
        scratch(aRows.take(3), bRows.take(2)))

      // interleave: A move+tombstone, then B upsert+delete, then tails
      memA.addData(aRows.slice(3, 5): _*)
      qa.processAllAvailable()
      assert(viewRows(mv.currentView.get) ==
        scratch(aRows.take(5), bRows.take(2)))

      memB.addData(bRows.slice(2, 4): _*)
      qb.processAllAvailable()
      assert(viewRows(mv.currentView.get) ==
        scratch(aRows.take(5), bRows.take(4)))

      memA.addData(aRows.drop(5): _*)
      qa.processAllAvailable()
      memB.addData(bRows.drop(4): _*)
      qb.processAllAvailable()
      qa.stop(); qb.stop()

      val want = scratch(aRows, bRows)
      assert(viewRows(mv.currentView.get) == want)
      // the one-shot truth spot-checked: move landed, tombstones gone,
      // late row lost, late dim joined
      assert(want.contains((20L, 1L, "a1v2", "b20v2")))
      assert(!want.exists(_._2 == 2L) && !want.exists(_._1 == 10L))
      assert(want.contains((30L, 4L, "a4", "b30")))
      // side tables kept pace (they feed the next batch's fold)
      assert(viewRows(mv.currentA.get.filter(aServ)
        .join(mv.currentB.get.filter(bServ), Seq("j"))) == want)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
