package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.etl.{FactBuilder, Normalize}

/** Near-real-time fact builder — the HYBRIDJOIN replacement
  * (SURVEY.md §2.1; /root/reference/hybridjoin.py:267-487).
  *
  * The reference's entire machinery — bounded stream buffer, FIFO service
  * order, anti-membership drop, index-ordered partition sweep of the
  * dimension, batched INSERT + commit cadence — collapses into a
  * stream-static broadcast join inside Structured Streaming:
  *
  *  - micro-batch  = the "pull w tuples, then probe" cycle;
  *  - broadcast hash join against the dim = the customer cache + partition
  *    sweep (stream-static joins are stateless; the static side re-resolves
  *    per micro-batch, so a refreshed dim snapshot is picked up);
  *  - inner-join semantics = the anti-membership discard (unmatched stream
  *    tuples never null-extend, they vanish — hybridjoin.py:342-362);
  *  - foreachBatch + checkpoint = the batched sink with commit cadence,
  *    upgraded from at-least-once-ish to exactly-once file output.
  *
  * The same `FactBuilder.buildFact` plan serves batch and streaming — the
  * batch≡stream equivalence test (StreamingFactSpec) pins HYBRIDJOIN parity.
  */
object StreamingFact {

  /** The streaming plan over an already-constructed streaming DataFrame
    * (file source, Kafka, or MemoryStream in tests).
    */
  def plan(txStream: DataFrame, customerDim: DataFrame,
      productDim: DataFrame): DataFrame =
    FactBuilder.buildFact(
      Normalize.normalizeTransactions(txStream), customerDim, productDim)

  /** End-to-end: CSV directory stream → normalized → joined → parquet fact.
    * Trigger.AvailableNow drains the existing backlog then stops — the
    * analog of the reference's finite-stream-then-drain termination
    * (hybridjoin.py:301-315).
    *
    * Exactly-once, properly: each micro-batch OVERWRITES its own
    * `batch_id=N` directory. A blind `append` is only at-least-once — a
    * crash between the write and the checkpoint commit would duplicate the
    * batch on replay; overwrite-by-batch-id makes replays idempotent, the
    * file-sink equivalent of the reference's commit cadence
    * (hybridjoin.py:460-464) with strictly stronger semantics.
    *
    * One parquet file per micro-batch: `batch_id=N` holds exactly one
    * `part-*.parquet` however many input splits the CSV scan cut the batch
    * into. Every reader of the growing fact pays per file — a listing
    * entry, footer read and scan task each — so a live dashboard refresh
    * scans one file per batch instead of one per split. The file stays
    * bounded because the batch is: `maxFilesPerTrigger` (the HYBRIDJOIN
    * `w`) caps the input files one batch takes, so callers with very large
    * input files narrow `w`. `repartition(1)`, not `coalesce(1)`: the CSV
    * parse, normalization and joins stay parallel over the batch's splits
    * and only the joined rows move to the one writer task, where
    * `coalesce(1)` would run the whole batch in that task.
    */
  def runCsvToParquet(spark: SparkSession, sourceDir: String,
      sourceSchema: StructType, customerDim: DataFrame, productDim: DataFrame,
      outPath: String, checkpoint: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val raw = spark.readStream
      .schema(sourceSchema)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // the w-analog
      .csv(sourceDir)
    plan(raw, customerDim, productDim).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.repartition(1).write.mode("overwrite")
          .parquet(s"$outPath/batch_id=$id")
      }
      .start()
  }
}
