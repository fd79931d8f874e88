package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Temporal

/** Streaming event-rate anomaly monitor — the always-on form of
  * [[Temporal.rateAnomaly]]: each micro-batch folds its (event_type,
  * hour) counts into a parquet hourly-state table, and scoring re-runs
  * the batch operator's trailing-window z over that table.
  *
  * Stream/batch parity is the correctness contract (spec-asserted):
  * after any partition of the event feed into batches, the maintained
  * state equals `Temporal.hourlyOf(allEvents)` — counts merge by sum —
  * so the scores equal the batch operator's output over the union.
  *
  * Replay safety: `foreachBatch` is at-least-once after a crash, so the
  * state commit must be atomic WITH its batch-id record — batch B's
  * hourly table is written to a fresh [[StateCommit]] snapshot dir and
  * published by one pointer swap, so a crash anywhere mid-batch leaves
  * the previous state intact and the replay re-applies cleanly: effects
  * converge because the SINK dedupes, not because the transport
  * promises exactly-once.
  *
  * Why this object stays beside [[Temporal]]: [[applyBatch]] is a state
  * fold with a batch-id guard, which no operator call provides. A stream
  * passes `applyBatch(statePath, _, _)` to [[AvailableNow.foreachBatch]].
  *
  * Scale posture: the ONLY state is the hourly table — bounded by
  * types × hours, independent of event volume; each batch's fold is one
  * combinable count plus a merge over that small table. The raw events
  * are never retained.
  */
object StreamingMonitor {

  /** Fold one micro-batch of raw events into the hourly state.
    * Idempotent per `batchId`: a replay of an already-applied batch id
    * leaves the state untouched, and a replay of a batch that crashed
    * before its pointer swap converges (the partial snapshot dir is
    * unreferenced and gets overwritten). */
  def applyBatch(statePath: String, batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (StateCommit.applied(spark, statePath, batchId)) return
    val inc = Temporal.hourlyOf(batch)
    // reads snap-<prev>, writes snap-<batchId> — never its own input
    val merged = StateCommit.readTable(spark, statePath, "hourly") match {
      case Some(prev) => prev.unionByName(inc)
        .groupBy("event_type", "hour").agg(sum("n").as("n"))
      case None => inc
    }
    merged.write.mode("overwrite")
      .parquet(StateCommit.tableDir(statePath, batchId, "hourly"))
    StateCommit.commit(spark, statePath, batchId)
  }

  /** The committed hourly state — (event_type, hour, n). */
  def hourlyState(spark: SparkSession, statePath: String): DataFrame =
    StateCommit.readTable(spark, statePath, "hourly").getOrElse(
      sys.error(s"no committed monitor state at $statePath"))

  /** Current anomaly scores over the maintained state — identical output
    * contract to [[Temporal.rateAnomaly]]. */
  def scores(spark: SparkSession, statePath: String,
      trailing: Int = 24): DataFrame =
    Temporal.rateAnomalyFromHourly(hourlyState(spark, statePath), trailing)
}
