package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** Streaming ingestion FILTER — online dedup at ingest: each micro-batch
  * of documents gets an exact/near-dup verdict against the corpus state
  * accumulated so far ([[Dedup.incrementalDedupAgainstKeys]]), then its
  * own keys fold into that state. The production shape of "don't let a
  * crawler re-ingest what the corpus already holds" — the corpus never
  * exists here as raw documents, only as its sha / band-signature key
  * sets.
  *
  * Batch semantics are [[Dedup.incrementalDedup]]'s: a batch is judged
  * against the state BEFORE it, so duplicates WITHIN one micro-batch are
  * not flagged against each other (they fold into state together; the
  * batch-local pass is [[Dedup.exact]]'s job at release time).
  *
  * Replay safety: `foreachBatch` is at-least-once, so the two key
  * tables and the batch-id record must move together — batch B's sha +
  * signature sets are written to a fresh [[StateCommit]] snapshot dir
  * and published by one atomic pointer swap, so a crash anywhere
  * mid-batch leaves the prior state intact and the replay re-applies
  * cleanly; verdicts write to a per-batch-id directory with overwrite,
  * so a replayed partial write converges instead of duplicating (the
  * [[StreamingMonitor]] design).
  *
  * Why this object stays beside [[Dedup]]: [[applyBatch]] is a state
  * fold, not a forward to one operator call. It owns the key-set state
  * and the batch-id guard that makes an at-least-once redelivery a
  * no-op. A stream passes `applyBatch(statePath, _, _)` to
  * [[AvailableNow.foreachBatch]].
  *
  * Scale posture: state is the distinct key sets — bounded by corpus
  * CONTENT diversity, not ingest volume (a re-crawl adds nothing); each
  * batch pays two narrow left-semi joins keyed on hashes plus one
  * union-distinct state merge. Raw text never enters the state.
  */
object StreamingCuration {

  private def verdictsPath(p: String) = s"$p/verdicts"

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private val ShaSchema = StructType(Seq(StructField("h", StringType)))
  private val SigSchema = StructType(Seq(
    StructField("band", LongType), StructField("sig", StringType)))

  /** The committed sha key set — (h). Empty before the first commit. */
  def shaState(spark: SparkSession, statePath: String): DataFrame =
    StateCommit.readTable(spark, statePath, "shas")
      .getOrElse(emptyOf(spark, ShaSchema))

  /** The committed band-signature set — (band, sig). */
  def sigState(spark: SparkSession, statePath: String): DataFrame =
    StateCommit.readTable(spark, statePath, "sigs")
      .getOrElse(emptyOf(spark, SigSchema))

  /** Judge one micro-batch against the accumulated state, record its
    * verdicts, fold its keys in. Idempotent per `batchId`: an applied id
    * is a no-op; a batch that crashed before its pointer swap replays
    * cleanly (its partial snapshot dir was never referenced). */
  def applyBatch(statePath: String, batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (StateCommit.applied(spark, statePath, batchId)) return
    val curSha = shaState(spark, statePath)
    val curSigs = sigState(spark, statePath)
    Dedup.incrementalDedupAgainstKeys(batch, curSha, curSigs)
      .write.mode("overwrite")
      .parquet(s"${verdictsPath(statePath)}/batch_id=$batchId")
    // both tables land in the unreferenced snap-<batchId> dir (reading
    // snap-<prev>, never their own output), then ONE pointer swap
    // publishes them together
    curSha.unionByName(Dedup.contentShas(batch).select("h")).distinct()
      .write.mode("overwrite")
      .parquet(StateCommit.tableDir(statePath, batchId, "shas"))
    curSigs.unionByName(Dedup.lshBands(batch).select("band", "sig")).distinct()
      .write.mode("overwrite")
      .parquet(StateCommit.tableDir(statePath, batchId, "sigs"))
    StateCommit.commit(spark, statePath, batchId)
  }

  /** All recorded verdicts (doc_id, status, batch_id). */
  def verdicts(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(verdictsPath(statePath))
}
