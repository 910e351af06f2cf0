package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Live distribution-drift monitor — the streaming composition of the
  * batch drift query (etl_dist_drift's smoothed chi-square contribution)
  * over the streamed histogram state ([[StreamingHistogram.Maintainer]]):
  * "is today's traffic still shaped like the reference period?" as a
  * dashboard panel that updates per micro-batch.
  *
  * The reference histogram is FIXED at creation and MUST be built on the
  * same (mn, mx, buckets) layout ([[StreamingHistogram.bucketCounts]] —
  * enforced by sharing the construction); the observed side is the
  * maintainer's held (__b, __c) state, so the monitor's whole working set
  * is two ≤ B-row frames regardless of stream length or value
  * cardinality. The report inherits the maintainer's fold-invariance:
  * any batching of the same rows yields the same histogram, hence the
  * same drift report. Per-bucket contribution, smoothing, and the 3.84
  * flag threshold are exactly the batch query's (see
  * `EtlQueries.distDrift` for the arithmetic's cross-engine rationale);
  * the total is likewise deliberately not summed.
  */
object StreamingDrift {

  final class Monitor(valueCol: String, mn: Long, mx: Long, buckets: Int,
      reference: DataFrame)
      extends StreamingHistogram.Maintainer(valueCol, mn, mx, buckets) {
    // materialize the reference ONCE (it is ≤ B rows) — and validate the
    // layout contract early: a bucket id outside [0, B) means the
    // reference was built under a different layout
    private val ref = reference.localCheckpoint(true)
    require(ref.filter(col("__b") < 0 || col("__b") >= buckets).isEmpty,
      s"reference histogram has bucket ids outside [0, $buckets) — " +
        "built under a different layout?")

    /** Per-bucket drift report against the reference: (bucket, ref_n,
      * obs_n, contrib, flagged) — buckets present on EITHER side appear
      * (full outer over two ≤ B-row frames), absent sides count 0.
      */
    def driftReport(): Option[DataFrame] = currentHistogram.map {
      obs =>
        val o = obs.select(col("__b"), col("__c").as("obs_n"))
        val r = ref.select(col("__b"), col("__c").as("ref_n"))
        val joined = o.join(r, Seq("__b"), "full_outer")
          .select(col("__b").cast(IntegerType).as("bucket"),
            coalesce(col("ref_n"), lit(0L)).as("ref_n"),
            coalesce(col("obs_n"), lit(0L)).as("obs_n"))
        val totals = joined.agg(sum(col("ref_n")).as("n_ref"),
          sum(col("obs_n")).as("n_obs"))
        joined.crossJoin(broadcast(totals))
          .withColumn("d",
            col("obs_n").cast(DoubleType) / col("n_obs").cast(DoubleType) -
              (col("ref_n") + 1).cast(DoubleType) /
              (col("n_ref") + buckets).cast(DoubleType))
          .withColumn("contrib",
            col("d") * col("d") *
              (col("n_ref") + buckets).cast(DoubleType) /
              (col("ref_n") + 1).cast(DoubleType))
          .select(col("bucket"), col("ref_n").cast(LongType).as("ref_n"),
            col("obs_n").cast(LongType).as("obs_n"), col("contrib"),
            (col("contrib") > 3.84).as("flagged"))
          .orderBy("bucket")
    }
  }
}
