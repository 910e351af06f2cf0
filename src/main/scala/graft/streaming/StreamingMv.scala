package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import graft.operators.CdcMerge

/** Streaming steady-state of incremental MV maintenance
  * (CdcMerge.maintainAggFrom): a changelog stream continuously folded
  * into BOTH a compacted snapshot and its serving aggregate — the
  * "dashboard numbers stay fresh between full loads" contract of a
  * near-real-time warehouse. Per micro-batch the aggregate is updated by
  * retract/insert deltas over the batch's broadcast touched keys; the
  * only snapshot access is the key-pruned semi join that fetches the old
  * rows to retract, and the held MV is a |groups|-row frame — so
  * per-batch cost scales with the batch, never the table or the stream
  * length. Like StreamingCdc, state is driver-held and localCheckpoint'ed
  * (lineage one batch deep); a deployment writes both tables to a
  * transactional sink, and `StreamingMvSpec` pins the FOLD equal to a
  * one-shot recompute of the full changelog regardless of batching.
  */
object StreamingMv {

  /** [[current]] holds the compacted snapshot (tombstones retained)
    * and its serving aggregate as one (snapshot, aggregate) pair, so a
    * reader never pairs one batch's snapshot with another's aggregate.
    */
  final class Maintainer(keyCols: Seq[String], orderCols: Seq[String],
      groupCol: String, valueCol: Column, isServing: Column)
      extends Fold[(DataFrame, DataFrame)] {

    /** The maintained serving aggregate (groupCol, n_keys, total). */
    def currentAgg: Option[DataFrame] = current.map(_._2)

    /** The compacted snapshot (tombstones retained). */
    def currentSnapshot: Option[DataFrame] = current.map(_._1)

    def absorb(batch: DataFrame): Unit = advance {
      case None =>
        val s = CdcMerge.compact(batch, keyCols, orderCols)
          .localCheckpoint(true)
        (s, CdcMerge.servingAgg(s, groupCol, valueCol, isServing)
          .localCheckpoint(true))
      case Some((base, agg)) =>
        val a = CdcMerge.maintainAggFrom(agg, base, batch,
          keyCols, orderCols, groupCol, valueCol, isServing)
        // the aggregate fold must read the PRE-merge snapshot; the
        // snapshot then advances for the next batch's retractions
        (CdcMerge.merge(base, batch, keyCols, orderCols)
          .localCheckpoint(true), a.localCheckpoint(true))
    }
  }
}
