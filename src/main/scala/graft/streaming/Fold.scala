package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one home of a stateful streaming maintainer's plumbing: where the
  * folded state lives, how a step is serialized, how a reader sees it, and
  * how a stream is attached. A maintainer extends `Fold[S]` and keeps only
  * its per-batch steps (each one [[advance]] or [[advanceWith]] call) and
  * its read-outs over [[current]].
  *
  * State is ONE immutable value `S` in one `@volatile` field, written once
  * per step after every job the step runs has finished. A maintainer whose
  * state has several frames (a snapshot and its aggregate, two join sides
  * and their view) therefore publishes them together: a dashboard reading
  * [[current]] mid-step sees the state before the step or after it, never
  * a mix of the two.
  *
  * Each step is one cycle of the HYBRIDJOIN sink contract
  * (hybridjoin.py:449-486: buffer w tuples, apply one batched write,
  * commit). The state lives in driver memory only, each frame
  * `localCheckpoint`ed by the step that builds it so lineage stays one
  * batch deep. The streaming checkpoint, by contrast, is durable, so
  * [[run]] refuses to resume a checkpoint whose committed batches this
  * instance never absorbed.
  */
abstract class Fold[S] {
  @volatile private var state: Option[S] = None

  /** The folded state; None until the first step completes. */
  def current: Option[S] = state

  /** One step under the maintainer's lock: `f` maps the held state to the
    * next one, which is published when `f` returns.
    */
  protected final def advance(f: Option[S] => S): Unit =
    advanceWith(s => (f(s), ()))

  /** [[advance]] for a step that also returns a result. */
  protected final def advanceWith[R](f: Option[S] => (S, R)): R =
    synchronized {
      val (next, out) = f(state)
      state = Some(next)
      out
    }

  /** Attach `absorb`, one of this maintainer's steps, to a stream: each
    * micro-batch folds into the state. Defaults to Trigger.AvailableNow
    * (drain the backlog and stop — the finite-drain analog StreamBench
    * uses); pass a processing-time trigger for a long-running query whose
    * batch boundaries the caller controls.
    *
    * Throws IllegalStateException when `checkpoint` already commits a
    * batch and this instance holds no state: Spark would skip those
    * batches, and their rows would be missing from the fold without a
    * trace.
    */
  def run(stream: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())(
      absorb: DataFrame => Any): StreamingQuery = {
    if (state.isEmpty && hasCommits(stream, checkpoint))
      throw new IllegalStateException(s"checkpoint $checkpoint already " +
        "commits batches that this maintainer never absorbed; its state " +
        "is held in driver memory only, so resuming would drop their rows. " +
        "Attach a new maintainer to a new checkpoint.")
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: Dataset[Row], _: Long) => { absorb(b.toDF()); () })
      .start()
  }

  /** Whether the checkpoint's commit log names at least one batch. */
  private def hasCommits(stream: DataFrame, checkpoint: String): Boolean = {
    val commits = new Path(checkpoint, "commits")
    val fs = commits.getFileSystem(
      stream.sparkSession.sparkContext.hadoopConfiguration)
    fs.exists(commits) &&
      fs.listStatus(commits).exists(_.getPath.getName.forall(_.isDigit))
  }
}
