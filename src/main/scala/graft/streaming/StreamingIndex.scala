package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.AnnIndex

/** Streaming ingest into the persisted ANN index — the online form of
  * [[graft.operators.AnnIndex.upsert]]: each micro-batch of (vec_id,
  * embedding) rows assigns against the index's FIXED persisted
  * centroids and rewrites only its touched cell partitions.
  *
  * Replay safety: upsert is id-keyed and assignment is deterministic
  * against fixed centroids, so an at-least-once replay of any batch
  * converges to the same index — no batch-id bookkeeping needed (the
  * [[StreamingSync]] stance: idempotent effects beat transactional
  * transport). The checkpoint bounds replay after restarts.
  *
  * Scale posture: per batch, one broadcast assignment pass plus a
  * rewrite of at most the batch's cells; the index never re-trains on
  * this path — the retrain side is [[AnnIndex.build]], and it now has
  * an actual trigger instead of a schedule: every upsert logs its
  * batch's mean assignment cosine into the snapshot, and
  * [[AnnIndex.driftReport]] recommends a rebuild when recent batches
  * assign materially worse than the build-time corpus did
  * (StreamingIndexSpec pins fires-on-shift / quiet-when-stationary).
  */
object StreamingIndex {

  /** Start an AvailableNow ingest of `vectors` (vec_id, embedding)
    * into the index at `root` (which must already be built). `seqCol`
    * names the feed's CDC ordering column so two versions of one
    * vec_id inside a trigger window collapse to the RECENT embedding
    * (round-11 review: without it the fallback order compares the
    * embedding arrays — deterministic, but not recency). */
  def start(vectors: DataFrame, root: String,
      checkpoint: String, seqCol: String = ""): StreamingQuery =
    AvailableNow.foreachBatch(vectors, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        AnnIndex.upsert(batch.sparkSession, root, batch, seqCol = seqCol)
    }
}
