package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{HistSpec, IncrementalAgg}

/** Streaming maintenance of an [[IncrementalAgg]] table: each
  * micro-batch folds its partial aggregate into the persisted per-key
  * state. The stream's own batch id drives the replay guard —
  * Structured Streaming re-delivers a failed batch UNDER THE SAME ID,
  * and `ingest(batchId)` refuses ids at or below the committed
  * version, so exactly-once state maintenance falls out of the
  * at-least-once transport plus the idempotence check (the
  * [[StreamingMonitor]] discipline, without a custom merge plan).
  *
  * Why not `groupBy().agg()` with Spark's own streaming state? That
  * state lives inside the checkpoint, keyed to one query — this state
  * is a TABLE: batch jobs, other queries, and post-hoc readers query
  * it directly ([[IncrementalAgg.view]]/[[IncrementalAgg.viewHist]]), it
  * survives checkpoint surgery, and its merge algebra (BIGINT sums,
  * HLL union, histogram vector-add) is the documented, spec-gated one.
  *
  * Stream batch ids start at 0 but ingest versions are positive, so
  * batch B commits as version B+1.
  */
object StreamingAgg {

  /** Start an AvailableNow maintenance pass of `rows` into the
    * aggregate table at `root`. */
  def start(rows: DataFrame, root: String, checkpoint: String,
      keys: Seq[String], values: Seq[String],
      distincts: Seq[String] = Nil,
      hists: Seq[HistSpec] = Nil): StreamingQuery =
    AvailableNow.foreachBatch(rows, checkpoint) { (batch, batchId) =>
      IncrementalAgg.ingest(batch.sparkSession, root, batch,
        keys, values, batchId + 1, distincts, hists)
    }

  /** The maintained view (derived averages included) — read-side
    * convenience over [[IncrementalAgg.view]]. */
  def view(spark: SparkSession, root: String,
      values: Seq[String]): DataFrame =
    IncrementalAgg.view(spark, root, values)
}
