package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.DedupIndex

/** Streaming ingest into the persisted dedup index: each micro-batch
  * of documents is folded into the index, so a later
  * [[DedupIndex.classifyBatch]] dedups against everything before it.
  * The batch pays one signature pass; the corpus is never rescanned
  * ([[DedupIndex]]'s contract).
  *
  * Replay safety, the [[StreamingIndex]] stance adapted to an
  * append-only index: the upsert of a replayed batch re-appends an
  * identical generation whose predecessor the replay's own tombstones
  * mask — visible state converges, and [[DedupIndex.compact]] folds
  * the redundancy away.
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
}
