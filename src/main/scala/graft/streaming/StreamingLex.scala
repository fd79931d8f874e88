package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.LexIndex

/** Streaming maintenance of the [[LexIndex]] inverted index: each
  * micro-batch of new or changed documents goes through
  * [[LexIndex.upsertBatch]], which lands it as one immutable generation
  * with algebraically-merged df/corpus stats and records the stream's
  * batch id inside the snapshot as its replay watermark.
  *
  * Why this is a sink and not a bare `foreachBatch` over the operator:
  * [[LexIndex.build]] resets the watermark, so an old checkpoint
  * resumed after a rebuild could re-deliver a crashed in-flight batch
  * whose documents the rebuild corpus already contains, and the
  * watermark alone cannot catch it. [[start]] enforces the rule: on
  * first start the checkpoint records the index's [[LexIndex.buildEra]]
  * in a marker file, and a resume whose recorded era no longer matches
  * the index fails loudly BEFORE any batch applies. That handshake
  * needs the checkpoint, which no operator sees.
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

  /** Start an AvailableNow maintenance pass of `docs` (batches of new or
    * changed documents with `doc_id`/`text`) into the index at `root`,
    * which must already be built. `seqCol` names the feed's CDC ordering
    * column so a doc re-delivered within one trigger window collapses
    * to its recent version. */
  def start(docs: DataFrame, root: String,
      checkpoint: String, seqCol: String = ""): StreamingQuery = {
    guardEra(docs, root, checkpoint)
    AvailableNow.foreachBatch(docs, checkpoint) { (batch, batchId) =>
      LexIndex.upsertBatch(batch.sparkSession, batch, root, batchId,
        seqCol = seqCol)
    }
  }
}
