package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming steady-state of EXACT heavy-hitter detection
  * (operators/HeavyHitters.exact): per-key counts maintained under an
  * event stream, thresholded on demand — the live "who is hammering
  * us" panel.
  *
  * Exactness is what makes the twin discipline work: per-key counting
  * is associative AND commutative, so micro-batched fold ≡ one-shot
  * under any batching (late rows need no special path) and the
  * maintainer can share the batch query's oracle verbatim. The
  * order-DEPENDENT bounded-state summaries (Misra-Gries, SpaceSaving)
  * deliberately do not live here: their surviving-key sets depend on
  * arrival order, so no batch replay could pin them — the fixed-state
  * rung of this ladder is instead the mergeable Count-Min sketch
  * (HeavyHitters.sketch), whose counters also add.
  *
  * State is the (keys…, n_events) frame — one row per DISTINCT key
  * seen, the exact form's irreducible state (dimension-bounded for
  * typed keys like (event_type, user); for genuinely unbounded key
  * domains switch to the CMS rung and accept ε·N slack). Driver-held
  * and localCheckpoint'ed one batch deep (the StreamingCdc
  * discipline); each absorb pre-aggregates the batch before touching
  * state, so the union+regroup runs over |state| + |batch-distinct|
  * rows, never raw events.
  */
object StreamingHeavyHitters {

  final class Maintainer(keys: Seq[String]) extends Fold[DataFrame] {
    require(keys.nonEmpty, "heavy-hitter keys must be non-empty")

    /** The held per-key counts — one row per distinct key seen. */
    def currentCounts: Option[DataFrame] = current

    def absorb(batch: DataFrame): Unit = advance { prior =>
      val b = batch.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_events"))
      val next = prior match {
        case None => b
        case Some(s) => s.union(b).groupBy(keys.map(col): _*)
          .agg(sum(col("n_events")).as("n_events"))
      }
      next.localCheckpoint(true)
    }

    /** Threshold readout from held state; None before the first batch.
      * Same output shape as HeavyHitters.exact.
      */
    def heavyHitters(minCount: Long): Option[DataFrame] =
      current.map(_.filter(col("n_events") >= minCount))
  }
}
