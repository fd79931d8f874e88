package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.LexIndex

/** Streaming maintenance of the [[LexIndex]] inverted index: each
  * micro-batch of NEW documents lands as one immutable generation with
  * algebraically-merged df/corpus stats, so the searchable index stays
  * current without ever rescanning the corpus.
  *
  * Exactly-once state from at-least-once delivery: the stream's batch
  * id is the replay guard, and it is recorded INSIDE the index
  * snapshot ([[LexIndex.ingestBatch]]) — committed atomically with the
  * generation it guards, so a re-delivered batch is a converged no-op.
  * Because the guard is the batch WATERMARK rather than version
  * arithmetic over a remembered base, it stays correct when other
  * writers mutate the index between stream runs: a takedown
  * [[LexIndex.delete]] or a [[LexIndex.compactGenerations]] bumps the
  * committed version, and the next resumed batch still applies instead
  * of being mistaken for a replay (the round-10 review finding that
  * retired the checkpoint-anchored base of the first design — and with
  * it this file's hand-rolled copy of the StateCommit pointer I/O).
  *
  * [[LexIndex.build]] resets the watermark: resuming a stream across a
  * rebuild requires a fresh checkpoint (a new stream era). That rule is
  * ENFORCED, not just documented (round-10 advice): on first start the
  * checkpoint records the index's [[LexIndex.buildEra]] in a marker
  * file, and a resume whose recorded era no longer matches the index
  * fails loudly BEFORE any batch applies — an old checkpoint resumed
  * after a rebuild could otherwise re-deliver a crashed in-flight batch
  * whose documents the rebuild corpus already contains (the watermark
  * alone cannot catch it, because build resets the watermark to None).
  */
object StreamingLex {

  private val EraMarker = "graft-build-era"

  /** The era handshake: first start records the index's current build
    * era inside the checkpoint; any later start from the same
    * checkpoint refuses to proceed if the index has been rebuilt
    * since. */
  private def guardEra(docs: DataFrame, root: String,
      checkpoint: String): Unit = {
    val spark = docs.sparkSession
    val era = LexIndex.buildEra(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = s"$checkpoint/$EraMarker"
    StateCommit.readSmallFile(conf, marker).map(_.trim.toLong) match {
      case Some(recorded) =>
        require(recorded == era,
          s"checkpoint $checkpoint was created against build era $recorded " +
            s"but the index at $root is now era $era — it was rebuilt; " +
            "resume with a FRESH checkpoint (replaying this one could " +
            "double-count documents the rebuild corpus already contains)")
      case None =>
        // A marker-less checkpoint that ALREADY holds Spark streaming
        // state predates this guard — its true era is unknown, so
        // anchoring it to the CURRENT era would let a pre-rebuild
        // checkpoint sail through (the exact replay double-count the
        // guard exists to stop). Only a genuinely fresh checkpoint (no
        // offsets yet) may adopt the current era.
        val offsets = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
        val fs = offsets.getFileSystem(conf)
        require(!fs.exists(offsets) || fs.listStatus(offsets).isEmpty,
          s"checkpoint $checkpoint has streaming offsets but no recorded " +
            s"build era — it predates the era guard, and the index at $root " +
            "may have been rebuilt since it was written; resume with a " +
            "FRESH checkpoint")
        StateCommit.writeSmallFile(conf, marker, era.toString)
    }
  }

  /** Start an AvailableNow maintenance pass of `docs` (batches of new
    * documents with `doc_id`/`text`) into the index at `root`, which
    * must already be built. `seqCol` names the feed's CDC ordering
    * column so a doc re-delivered within one trigger window collapses
    * to its recent version. */
  def start(docs: DataFrame, root: String,
      checkpoint: String, seqCol: String = ""): StreamingQuery = {
    guardEra(docs, root, checkpoint)
    AvailableNow.foreachBatch(docs, checkpoint) { (batch, batchId) =>
      LexIndex.ingestBatch(batch.sparkSession, batch, root, batchId,
        seqCol = seqCol)
    }
  }

  /** Read-side convenience: BM25 top-k over the maintained index. */
  def search(spark: SparkSession, root: String, terms: Seq[String],
      k: Int = 10): DataFrame = LexIndex.search(spark, root, terms, k)
}
