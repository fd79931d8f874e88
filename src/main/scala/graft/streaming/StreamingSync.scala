package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sync.SyncEngine

/** Streaming ingestion into the delta-sync engine — the reference's
  * real-time indexing story (lifecycle hook → immediate re-index) as a
  * Structured Streaming sink: each micro-batch of normalized product
  * rows (product_id, site_id, sku, text) runs ONE idempotent sync pass
  * via `foreachBatch`.
  *
  * Exactly-once EFFECTS on an at-least-once feed come from the engine's
  * own semantics, not the transport: the product-sha short-circuit turns
  * replayed unchanged rows into zero-write skips, and store writes are
  * id-keyed merge rewrites — re-running a batch converges to the same
  * store state and does not advance its version. The checkpoint location
  * makes batch replay itself bounded after restarts.
  *
  * Scale posture: everything inside the batch pass is the batch engine's
  * plan (sha short-circuit before chunk/embed, bucketed id-keyed store
  * merge); state outside the engine is only the stream's offset log.
  */
object StreamingSync {

  /** Start an AvailableNow pass of `normalized` through `engine`.
    * `onSummary` receives each batch's per-action summary rows (the
    * same DataFrame `SyncEngine.sync` returns in batch mode). */
  def start(engine: SyncEngine, normalized: DataFrame, checkpoint: String,
      onSummary: Seq[Row] => Unit = _ => ()): StreamingQuery =
    AvailableNow.foreachBatch(normalized, checkpoint) { (batch, _) =>
      onSummary(engine.sync(batch).collect().toSeq)
    }
}
