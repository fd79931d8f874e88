package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.DedupIndex

/** Streaming ingest into the persisted dedup index — dedup-at-ingest:
  * each micro-batch of documents is CLASSIFIED against the accumulated
  * corpus (new / near_dup / likely_exact, one row per doc — the
  * verdict a curation pass thresholds on) and then folded into the
  * index, so the next batch dedups against everything before it. The
  * batch pays one signature pass + a broadcast probe; the corpus is
  * never rescanned ([[DedupIndex]]'s contract).
  *
  * Replay safety, the [[StreamingIndex]] stance adapted to an
  * append-only index: verdicts land in a PER-BATCH partition
  * (`out/batch_id=B`) written with overwrite, so an at-least-once
  * replay of batch B rewrites its own partition byte-for-byte instead
  * of duplicating rows; the index upsert re-appends an identical
  * generation whose predecessor the replay's own tombstones mask —
  * visible state converges, and [[DedupIndex.compact]] folds the
  * redundancy away. Within-batch duplicates are each other's problem
  * only at batch boundaries by design: intra-batch pairs are
  * [[graft.operators.Dedup.minhashLshPairs]]' job, the index answers
  * "seen before this batch?".
  */
object StreamingDedup {

  /** Ingest-only: fold each micro-batch into the index at `root`
    * (which must already be built, possibly over an empty corpus).
    * `seqCol` names the feed's CDC ordering column (offset /
    * modified-at) so two versions of one doc inside a trigger window
    * collapse to the RECENT one — without it the last-wins collapse
    * falls back to a deterministic-but-arbitrary payload order
    * (round-11 review). */
  def start(documents: DataFrame, root: String,
      checkpoint: String, seqCol: String = ""): StreamingQuery =
    AvailableNow.foreachBatch(documents, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        DedupIndex.upsert(batch.sparkSession, root, batch,
          seqCol = seqCol)
    }

  /** Classify-then-ingest: verdicts for batch B land at
    * `out/batch_id=B` BEFORE the batch joins the index (a doc is never
    * its own near-dup), then the batch upserts. */
  def startClassified(documents: DataFrame, root: String,
      checkpoint: String, out: String,
      seqCol: String = ""): StreamingQuery =
    AvailableNow.foreachBatch(documents, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        DedupIndex.classifyBatch(spark, root, batch)
          .write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
        DedupIndex.upsert(spark, root, batch, seqCol = seqCol)
      }
    }

  /** All batches' verdicts, with the `batch_id` partition column
    * recovered from the directory layout. */
  def classified(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)
}
