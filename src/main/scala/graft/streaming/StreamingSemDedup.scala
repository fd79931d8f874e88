package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SemDedupIndex

/** Streaming ingest into the persisted SEMANTIC dedup index — the
  * embedding-space twin of [[StreamingDedup]]: each micro-batch of
  * vectors is folded into the index, so a later [[SemDedupIndex.probe]]
  * dedups against everything before it. The batch pays one
  * quantizer-assignment pass over its OWN rows; the corpus is never
  * rescanned and the quantizer NEVER retrains per batch
  * ([[SemDedupIndex]]'s contract).
  *
  * Replay safety, the [[StreamingDedup]] stance verbatim: the
  * re-upsert of a replayed batch appends a generation whose
  * predecessor the replay's own tombstones mask; visible state
  * converges and [[SemDedupIndex.compact]] folds the redundancy away. */
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
}
