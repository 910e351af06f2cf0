package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.HistogramQuantile

/** Streaming steady-state of the histogram quantile sketch
  * ([[HistogramQuantile]]): live approximate percentiles — the p50/p95
  * latency/value panel a near-real-time dashboard serves — maintained
  * under an event stream.
  *
  * The batch sketch derives its bucket layout from the data's (min, max);
  * a stream cannot (a later batch extending the range would invalidate
  * every count already folded, and the raw rows are gone). The streaming
  * form therefore FIXES the layout up front — (mn, mx, buckets) are
  * declared at creation, the production discipline of HDR/Prometheus-
  * style histograms — and out-of-range values CLAMP into the edge
  * buckets (rank targets stay exact because n still counts every row;
  * only tail estimates degrade, and only when the declared range was
  * wrong). With the layout fixed, bucket counts ADD: the fold is
  * associative and commutative, so micro-batched fold ≡ one-shot under
  * any batching, late rows need no special path, and per-day or
  * per-partition histograms roll up losslessly — the mergeability that
  * GK-summary sketches (built-in `approx_percentile`) have only
  * approximately and non-deterministically.
  *
  * State is the (bucket, count) frame — ≤ `buckets` rows no matter the
  * stream length or value cardinality — driver-held and
  * localCheckpoint'ed one batch deep (the StreamingCdc discipline); a
  * deployment persists it to a transactional sink as an ordinary
  * 2-column table. The quantile readout shares the batch operator's
  * estimate tree verbatim ([[HistogramQuantile.estimateFrom]]), so when
  * the declared range equals the data's true range the streamed
  * estimates are VALUE-IDENTICAL to the oracled batch sketch
  * (`StreamingHistogramSpec` pins exactly that, plus fold ≡ one-shot
  * under several batchings, the state bound, clamping, and a
  * MemoryStream end-to-end drain).
  */
object StreamingHistogram {

  private def idiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** The declared layout's guards: a non-empty range, at least one
    * bucket, and (r9 advice) (v - mn) * buckets within BIGINT — here the
    * range is DECLARED, so the guard is a cheap construction-time require
    * rather than the batch form's in-plan assert.
    */
  private def checkLayout(mn: Long, mx: Long, buckets: Int): Unit = {
    require(buckets >= 1, s"buckets=$buckets must be >= 1")
    require(mx >= mn, s"declared range [$mn, $mx] is empty")
    require(java.lang.Long.compareUnsigned(mx - mn,
        Long.MaxValue / buckets - 1) <= 0,
      s"declared range [$mn, $mx] too wide: (mx - mn + 1) must be <= " +
        s"Long.MaxValue/$buckets = ${Long.MaxValue / buckets} so the " +
        s"bucket expression (v - mn) * $buckets stays within BIGINT")
  }

  /** One batch's (__b, __c) bucket counts under the declared layout —
    * clamped at the edges, NULLs dropped. Shared by the maintainer's
    * fold and by reference-histogram construction
    * ([[StreamingDrift]]): comparing two histograms is only meaningful
    * when both were bucketed by exactly this arithmetic.
    */
  def bucketCounts(df: DataFrame, valueCol: String, mn: Long, mx: Long,
      buckets: Int): DataFrame = {
    checkLayout(mn, mx, buckets)
    val v0 = col(valueCol).cast(LongType)
    // clamp to the declared layout: below-range → bucket 0,
    // above-range → bucket B−1; NULLs drop (they carry no value)
    val v = greatest(lit(mn), least(lit(mx), v0))
    df.filter(v0.isNotNull)
      .select(idiv((v - mn) * buckets, lit(mx - mn + 1)).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__c"))
  }

  /** Not final: [[StreamingDrift.Monitor]] is this maintainer plus a
    * fixed reference histogram.
    */
  class Maintainer(valueCol: String, mn: Long, mx: Long, buckets: Int)
      extends Fold[DataFrame] {
    checkLayout(mn, mx, buckets)

    /** The held sketch state: (__b, __c) bucket counts — ≤ `buckets`
      * rows at any stream length.
      */
    def currentHistogram: Option[DataFrame] = current

    def absorb(batch: DataFrame): Unit = advance { prior =>
      val b = bucketCounts(batch, valueCol, mn, mx, buckets)
      val next = prior match {
        case None => b
        case Some(h) =>
          h.union(b).groupBy("__b").agg(sum(col("__c")).as("__c"))
      }
      next.localCheckpoint(true)
    }

    /** Percentile readout from held state: same output shape and same
      * estimate arithmetic as [[HistogramQuantile.percentiles]]. None
      * until the first batch is absorbed.
      */
    def quantiles(pcts: Seq[Int]): Option[DataFrame] = current.map { h =>
      require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
        s"pcts=$pcts must be percentages in 1..100")
      // the running-count window runs over the ≤ B-row held state —
      // the same bounded __b/__c frame as the batch plan's
      val w = Window.orderBy(col("__b"))
      val cum = h.withColumn("__cb",
        coalesce(sum(col("__c")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val stats = h.agg(sum(col("__c")).as("__n"))
        .select(lit(mn).as("__mn"), lit(mx).as("__mx"), col("__n"))
      HistogramQuantile.estimateFrom(cum, stats, Nil, buckets, pcts)
    }
  }
}
