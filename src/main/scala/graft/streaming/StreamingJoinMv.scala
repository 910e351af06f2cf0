package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import graft.operators.{CdcMerge, JoinMv}

/** Streaming steady-state of incremental JOIN-view maintenance
  * (operators/JoinMv): TWO changelog streams continuously folded into
  * compacted side tables and their materialized equi-join view — the
  * "enriched serving table stays fresh" contract (user state ⋈ dim)
  * beside StreamingMv's aggregate MV. Per micro-batch the view absorbs
  * only the affected join keys J (old + new version of every touched
  * row, both sides — batch-sized broadcast); untouched view rows pass
  * through a map-side anti join, and the side tables advance via
  * CdcMerge.merge — so per-batch cost scales with the batch and the
  * touched join groups' fanout, never the tables. State is driver-held
  * and localCheckpoint'ed one batch deep (the StreamingCdc discipline);
  * `StreamingJoinMvSpec` pins the fold equal to a one-shot from-scratch
  * join of both full changelogs regardless of how batches interleave
  * across the two sides.
  *
  * Batches for the two sides arrive independently (two streams, or one
  * stream demultiplexed); [[Maintainer.absorbA]]/[[Maintainer.absorbB]]
  * are two steps of one [[Fold]] and serialize on its lock, which is the
  * same single-writer assumption every foreachBatch sink makes.
  */
object StreamingJoinMv {

  /** [[current]] holds (A snapshot, B snapshot, view), each None until
    * it exists, published together by every step.
    */
  final class Maintainer(aKey: Seq[String], aOrd: Seq[String],
      aServing: Column, bKey: Seq[String], bOrd: Seq[String],
      bServing: Column, joinCols: Seq[String])
      extends Fold[
        (Option[DataFrame], Option[DataFrame], Option[DataFrame])] {

    /** The maintained join view (A's columns ++ B's non-join columns);
      * None until both sides have seen at least one batch.
      */
    def currentView: Option[DataFrame] = current.flatMap(_._3)

    def currentA: Option[DataFrame] = current.flatMap(_._1)
    def currentB: Option[DataFrame] = current.flatMap(_._2)

    /** One side's compacted snapshot after `batch`. r17 note: a LAZY
      * snapshot checkpoint here (materialized by the view fold) was A/B'd
      * and REVERTED — measured neutral-to-worse (stream_join_mv 3.4–3.9 s
      * eager vs 4.0–4.2 s lazy at sf0.1); the deferred final stage just
      * moved into the view job's critical path.
      */
    private def side(prior: Option[DataFrame], batch: DataFrame,
        key: Seq[String], ord: Seq[String]): DataFrame =
      (prior match {
        case None => CdcMerge.compact(batch, key, ord)
        case Some(base) => CdcMerge.merge(base, batch, key, ord)
      }).localCheckpoint(true)

    /** The view after one side advanced. `aBase`/`bBase` are the
      * PRE-merge snapshots JoinMv folds against (the advanced side's
      * merged snapshot when that side was empty before); `a`/`b` are
      * the merged snapshots, passed as JoinMv's current side tables so
      * maintain() does not rerun the table-sized CdcMerge a second time
      * per batch (r16). The untouched side's snapshot IS its merge with
      * an empty batch (anti join of nothing, recompact of nothing).
      */
    private def nextView(view: Option[DataFrame], aBase: Option[DataFrame],
        bBase: Option[DataFrame], a: Option[DataFrame],
        b: Option[DataFrame], aBatch: Option[DataFrame],
        bBatch: Option[DataFrame]): Option[DataFrame] = {
      val empty: DataFrame => DataFrame = df => df.limit(0)
      (aBase, bBase) match {
        case (Some(a0), Some(b0)) =>
          val v = view match {
            case Some(v0) =>
              JoinMv.maintainMerged(v0,
                a0, a.get, aBatch.getOrElse(empty(a0)), aKey, aServing,
                b0, b.get, bBatch.getOrElse(empty(b0)), bKey, bServing,
                joinCols)
            case None =>
              // first moment both sides exist: from-scratch join of the
              // compacted snapshots (MV creation) — batches already
              // merged into them
              a0.filter(aServing).join(b0.filter(bServing), joinCols)
          }
          Some(v.localCheckpoint(true))
        case _ => view // one side still empty: no view to maintain yet
      }
    }

    /** Fold one micro-batch of the A-side changelog. */
    def absorbA(batch: DataFrame): Unit = advance { prior =>
      val (a0, b, view) = prior.getOrElse((None, None, None))
      val a = Some(side(a0, batch, aKey, aOrd))
      (a, b, a0 match {
        case Some(_) => nextView(view, a0, b, a, b, Some(batch), None)
        case None => nextView(view, a, b, a, b, None, None)
      })
    }

    /** Fold one micro-batch of the B-side changelog. */
    def absorbB(batch: DataFrame): Unit = advance { prior =>
      val (a, b0, view) = prior.getOrElse((None, None, None))
      val b = Some(side(b0, batch, bKey, bOrd))
      (a, b, b0 match {
        case Some(_) => nextView(view, a, b0, a, b, None, Some(batch))
        case None => nextView(view, a, b, a, b, None, None)
      })
    }
  }
}
