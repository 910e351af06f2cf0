package graft.streaming

import graft.SparkSpec
import graft.operators.HeavyHitters
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming heavy-hitter maintainer's correctness story: per-key
  * counting is associative + commutative, so the micro-batched fold must
  * equal a one-shot absorb under any batching, and the threshold readout
  * must equal HeavyHitters.exact on the concatenated input.
  */
class StreamingHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  // (kind, user): u1/a hot (4), u2/a warm (2), u3/b hot (3), u1/b one
  private val rows: Seq[(String, Long)] = Seq(
    ("a", 1L), ("a", 1L), ("a", 2L), ("b", 3L), ("a", 1L),
    ("b", 3L), ("a", 2L), ("b", 1L), ("a", 1L), ("b", 3L))

  private def df(xs: Seq[(String, Long)]): DataFrame =
    xs.toDF("kind", "uid")

  private def counts(d: DataFrame): Map[(String, Long), Long] =
    d.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("micro-batched fold equals one-shot and HeavyHitters.exact, " +
    "under several batchings") {
    val exact = counts(HeavyHitters.exact(df(rows), Seq("kind", "uid"), 1L))
    for (batching <- Seq(Seq(10), Seq(3, 3, 4), Seq(1, 9), Seq(5, 5))) {
      val m = new StreamingHeavyHitters.Maintainer(Seq("kind", "uid"))
      var rest = rows
      for (n <- batching) {
        val (b, r) = rest.splitAt(n)
        m.absorb(df(b))
        rest = r
      }
      assert(counts(m.currentCounts.get) == exact,
        s"batching $batching diverged from one-shot exact counts")
      assert(counts(m.heavyHitters(3L).get) ==
        exact.filter(_._2 >= 3L),
        s"batching $batching threshold readout diverged")
    }
  }

  test("empty-state accessors and empty batches") {
    val m = new StreamingHeavyHitters.Maintainer(Seq("kind"))
    assert(m.currentCounts.isEmpty && m.heavyHitters(1L).isEmpty)
    intercept[IllegalArgumentException] {
      new StreamingHeavyHitters.Maintainer(Nil)
    }
    m.absorb(df(rows).select("kind").limit(0))
    assert(m.currentCounts.get.count() == 0L)
    m.absorb(df(rows).select("kind"))
    assert(counts(m.currentCounts.get.withColumn("uid", lit(0L))
      .select("kind", "uid", "n_events")) ==
      Map(("a", 0L) -> 6L, ("b", 0L) -> 4L))
  }

  test("end-to-end through a MemoryStream micro-batch drain") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val m = new StreamingHeavyHitters.Maintainer(Seq("kind", "uid"))
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_shh")
    try {
      val q = m.run(mem.toDF().toDF("kind", "uid"), ckptDir.toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(
        m.absorb)
      mem.addData(rows.take(6): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(6): _*)
      q.processAllAvailable()
      q.stop()
      assert(counts(m.currentCounts.get) ==
        counts(HeavyHitters.exact(df(rows), Seq("kind", "uid"), 1L)))
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete()
      }
      rm(ckptDir.toFile)
    }
  }
}
