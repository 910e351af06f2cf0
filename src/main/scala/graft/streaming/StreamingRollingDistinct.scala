package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.RollingDistinct

/** Streaming steady-state of the rolling-distinct sketch
  * ([[RollingDistinct]]): a live "rolling N-day active users" panel — the
  * DAU/WAU number a near-real-time dashboard serves — maintained under an
  * event stream. Per micro-batch the batch collapses to its distinct
  * (day, bucket) pairs and unions into the held pair set; the occupancy
  * view recomputes from state.
  *
  * Why this is the STREAMING-shaped form: the held state is the sketch's
  * OCCUPIED-BUCKET SET per day — bounded at days·m rows no matter the
  * user cardinality or stream length (the reason to stream the sketch
  * rather than the exact rung, whose state would grow with distinct
  * users). Late rows need no special path: a stale-day event folds into
  * that day's bucket set and every window containing the day reads the
  * union — set union is idempotent, commutative, and associative, which
  * is the whole correctness story (`StreamingRollingDistinctSpec` pins
  * fold ≡ one-shot under arbitrary batching with cross-batch late rows
  * and duplicates). State is driver-held and localCheckpoint'ed one
  * batch deep (the StreamingCdc discipline); a deployment persists the
  * pair set to a transactional sink — it is an ordinary 2-column table.
  */
object StreamingRollingDistinct {

  final class Maintainer(dayCol: String, keyCol: String,
      windowDays: Int, m: Int) extends Fold[DataFrame] {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    require(m >= 1, s"m must be >= 1, got $m")

    /** The held sketch state: distinct (day, bucket) — ≤ days·m rows. */
    def currentPairs: Option[DataFrame] = current

    /** (day, z_occupied) for each day seen so far: the trailing-window
      * occupancy the dashboard serves (estimate = −m·ln(1−z/m)
      * downstream).
      */
    def currentOccupancy: Option[DataFrame] =
      current.map(p =>
        RollingDistinct.rolledFromDeduped(p, "day", "b", windowDays,
          "z_occupied"))

    def absorb(batch: DataFrame): Unit = advance { prior =>
      val b = batch.select(col(dayCol).as("day"),
        RollingDistinct.bucket(col(keyCol), m).as("b")).distinct()
      val next = prior match {
        case None => b
        case Some(p) => p.union(b).distinct()
      }
      next.localCheckpoint(true)
    }
  }
}
