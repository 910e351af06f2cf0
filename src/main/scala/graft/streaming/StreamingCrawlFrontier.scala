package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming steady-state of crawl-frontier dedup by CANONICAL URL —
  * the live form of llm_crawl_dedup's batch groupBy (normalize →
  * canonical key → first-seen): URLs arrive in discovery batches, the
  * maintainer tracks every canonical URL seen with its occurrence count
  * and first discovering doc, and answers the frontier question "which
  * of this batch's URLs are NEW" — the decision a crawler's scheduler
  * makes per cycle.
  *
  * The twin discipline (StreamingHeavyHitters): per-URL (count, min)
  * are associative + commutative, so micro-batched fold ≡ one-shot
  * under any batching and the maintainer shares the batch query's
  * oracle verbatim. State is one row per DISTINCT canonical URL —
  * frontier state is irreducible at exactly that size (a crawler MUST
  * remember what it has fetched; the fixed-memory relaxation is a
  * bloom/KMV front like etl_bloom_prefilter's, which trades false
  * "seen" for bounded state). Driver-held, localCheckpoint'd one batch
  * deep; each absorb pre-aggregates the batch before touching state, so
  * the union+regroup runs over |state| + |batch-distinct| rows, never
  * raw arrivals.
  */
object StreamingCrawlFrontier {

  final class Maintainer extends Fold[DataFrame] {

    /** The held frontier — (url, n_docs, first_doc), one row per
      * distinct canonical URL seen; None before the first batch.
      */
    def currentFrontier: Option[DataFrame] = current

    /** Absorb a discovery batch of (doc_id, url) rows and return the
      * batch's NEWLY SEEN canonical URLs (the rows a crawl scheduler
      * would enqueue this cycle): batch-distinct anti-joined against
      * the pre-absorb state.
      */
    def absorb(batch: DataFrame): DataFrame = advanceWith { prior =>
      val b = batch.groupBy(col("url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .localCheckpoint(true)
      val fresh = prior match {
        case None => b
        case Some(s) => b.join(s.select(col("url")), Seq("url"), "left_anti")
      }
      val next = prior match {
        case None => b
        case Some(s) => s.union(b).groupBy(col("url"))
          .agg(sum(col("n_docs")).as("n_docs"),
            min(col("first_doc")).as("first_doc"))
      }
      (next.localCheckpoint(true), fresh)
    }
  }
}
