package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Similarity

/** Streaming steady-state of the IVF-ANN index's inverted-list
  * maintenance ([[Similarity.ivfAssign]]): an embedding stream folded
  * into the per-cell index profile — (centroid_id, n_vectors,
  * first_vec) — the occupancy panel an ANN serving tier watches to
  * decide when lists need splitting/re-training. Cell assignment is a
  * PURE per-row function of (vector, broadcast centroids), so each
  * micro-batch pre-aggregates to its per-cell (count, min) BEFORE
  * touching state, and the fold merges by cell with sum/min — both
  * associative and commutative, which is the whole correctness story
  * (`StreamingAnnIvfSpec` pins fold ≡ one-shot under arbitrary
  * batching; the driver twin `stream_ann_ivf_cells` shares the batch
  * row's DuckDB oracle verbatim).
  *
  * Why this is the STREAMING-shaped form: held state is ONE ROW PER
  * OCCUPIED CELL (≤ nlist) no matter the stream length — the index
  * postings themselves live in the sink; the maintainer tracks the
  * profile that drives operational decisions. Zero-norm vectors are
  * excluded by ivfAssign on each batch, identically to the batch path.
  * State is driver-held and localCheckpoint'ed one batch deep (the
  * StreamingCdc discipline).
  */
object StreamingAnnIvf {

  /** [[current]] holds (cells, inverted lists), published together. */
  final class Maintainer(centArr: Array[(Long, Array[Double])])
      extends Fold[(DataFrame, DataFrame)] {
    require(centArr.nonEmpty, "centroid table must be non-empty")

    /** (centroid_id, n_vectors, first_vec) per occupied cell. */
    def currentCells: Option[DataFrame] = current.map(_._1)

    /** The accumulated INVERTED LISTS (centroid_id, neighbor_id, cv) —
      * the index itself, O(corpus) rows held as a localCheckpoint'd
      * DISTRIBUTED frame (executor blocks, the sink's role in a real
      * serving tier; never driver-collected). Feeds the freshness
      * measurement: [[Similarity.ivfSearchLists]] over these lists is
      * the exact batch search plan, so recall-vs-brute after any
      * batching folds to the one-shot number
      * (`stream_ann_recall_ivf` shares llm_ann_recall_ivf's oracle
      * verbatim; StreamingAnnIvfSpec pins the fold).
      */
    def currentLists: Option[DataFrame] = current.map(_._2)

    def absorb(batch: DataFrame): Unit = advance { prior =>
      val assigned = Similarity.ivfAssign(batch, centArr)
        .localCheckpoint(true)
      val lists = prior match {
        case None => assigned
        case Some((_, ls)) => ls.unionByName(assigned).localCheckpoint(true)
      }
      val b = assigned
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n_vectors"),
          min(col("neighbor_id")).as("first_vec"))
      val next = prior match {
        case None => b
        case Some((st, _)) => st.unionByName(b)
          .groupBy("centroid_id")
          .agg(sum(col("n_vectors")).as("n_vectors"),
            min(col("first_vec")).as("first_vec"))
      }
      (next.localCheckpoint(true), lists)
    }
  }
}
