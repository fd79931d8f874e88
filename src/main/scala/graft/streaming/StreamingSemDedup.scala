package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CdcBatch, SemDedupIndex, Stage}

/** Streaming ingest into the persisted SEMANTIC dedup index — the
  * embedding-space twin of [[StreamingDedup]], closing the round-14
  * verdict's amortization gap end to end: each micro-batch of vectors
  * is PROBED against the accumulated corpus (one verdict row per
  * vector: n_candidates / max_cos / is_dup — the drop/keep signal a
  * curation pass thresholds on) and then folded into the index, so the
  * next batch dedups against everything before it. The batch pays one
  * quantizer-assignment pass over its OWN rows plus a cell-mate probe;
  * the corpus is never rescanned and the quantizer NEVER retrains
  * per batch ([[SemDedupIndex]]'s contract — the in-query operator's
  * O(corpus) Lloyd pass per call is exactly what this path amortizes).
  *
  * Replay safety, the [[StreamingDedup]] stance verbatim: verdicts for
  * batch B land in a PER-BATCH partition (`out/batch_id=B`) written
  * with overwrite, so an at-least-once replay rewrites its own
  * partition instead of duplicating rows — and because
  * [[SemDedupIndex.probe]] excludes the batch's own ids from the
  * candidate side, a replayed batch (whose first delivery already
  * upserted its rows) gets IDENTICAL verdicts, not self-matches at
  * cos 1.0. The re-upsert appends a generation whose predecessor the
  * replay's own tombstones mask; visible state converges and
  * [[SemDedupIndex.compact]] folds the redundancy away. */
object StreamingSemDedup {

  /** Ingest-only: fold each micro-batch into the index at `root`
    * (which must already be built — possibly over a seed corpus).
    * `seqCol` names the feed's CDC ordering column so two versions of
    * one vector inside a trigger window collapse to the recent one. */
  def start(vectors: DataFrame, root: String,
      checkpoint: String, seqCol: String = ""): StreamingQuery =
    AvailableNow.foreachBatch(vectors, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        SemDedupIndex.upsert(batch.sparkSession, root, batch,
          seqCol = seqCol)
    }

  /** Probe-then-ingest: verdicts for batch B land at `out/batch_id=B`
    * BEFORE the batch joins the index (a vector is never its own
    * near-dup), then the batch upserts. The trigger window CDC-collapses
    * ONCE, and the same collapsed frame feeds both probe and upsert —
    * so when a window carries two versions of one vec_id, the verdict
    * row describes exactly the version that lands in the index (probing
    * the raw batch would aggregate candidates/max_cos across the
    * superseded version's embedding). */
  def startProbed(vectors: DataFrame, root: String,
      checkpoint: String, out: String, threshold: Double = 0.35,
      seqCol: String = ""): StreamingQuery =
    AvailableNow.foreachBatch(vectors, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val collapsed = Stage.snap(
          CdcBatch.collapse(batch, "vec_id", seqCol),
          materialize = true)
        SemDedupIndex.probe(spark, root, collapsed, threshold)
          .write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
        SemDedupIndex.upsertCollapsed(spark, root, collapsed)
      }
    }

  /** All batches' verdicts, with the `batch_id` partition column
    * recovered from the directory layout. */
  def probed(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)
}
