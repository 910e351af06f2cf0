package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.CdcMerge

/** Streaming steady-state of the CDC merge (operators.CdcMerge): a
  * changelog STREAM continuously folded into a compacted table via
  * `foreachBatch` — each micro-batch is "today's batch" of the
  * `etl_cdc_apply_incremental` shape, so per-batch cost scales with the
  * batch, not the table. This is the upsert half of the reference's
  * HYBRIDJOIN sink contract (hybridjoin.py:449-486: buffer w tuples,
  * apply as one batched write, commit) run forever.
  *
  * State here is a driver-held DataFrame refreshed per batch and
  * `localCheckpoint`ed — lineage stays one batch deep instead of growing
  * with stream length. A production deployment would write the merged
  * table to a transactional sink (the overwrite-by-batch-id discipline
  * StreamingFact uses) rather than hold it; the MERGE PLAN is the part
  * that carries to 100 TB, and `StreamingCdcSpec` pins it equal to
  * one-shot compaction of the full changelog regardless of how the
  * stream is batched.
  */
object StreamingCdc {

  /** Accumulates micro-batches into a compacted table: [[current]] is
    * the compacted table so far (tombstones retained), if any batch has
    * arrived.
    */
  final class Compactor(keyCols: Seq[String], orderCols: Seq[String])
      extends Fold[DataFrame] {

    def absorb(batch: DataFrame): Unit = advance { prior =>
      val next = prior match {
        case None => CdcMerge.compact(batch, keyCols, orderCols)
        case Some(base) => CdcMerge.merge(base, batch, keyCols, orderCols)
      }
      next.localCheckpoint(true)
    }
  }
}
