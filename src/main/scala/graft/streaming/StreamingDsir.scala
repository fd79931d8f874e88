package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CdcBatch, DsirModel}

/** Streaming DSIR scoring — importance-weight every incoming micro-batch
  * against a FROZEN [[DsirModel]]: the production shape of
  * selection-at-ingest, where the model was fit once (on samples) and
  * the 100 TB firehose is scored as it lands rather than re-read later.
  *
  * Model pinning: [[start]] resolves the model version ONCE and every
  * batch of that sweep scores against it ([[DsirModel.scoreAt]]) — a
  * refit landing mid-sweep must not silently switch scoring regimes
  * between batch N and N+1. Each score row records its `model_v` so a
  * downstream selection can prove which regime produced it (and a new
  * sweep picks up the new version by restarting).
  *
  * Replay safety ([[StreamingCuration]] / [[StreamingMonitor]] design):
  * `foreachBatch` is at-least-once, so scores write to a per-batch-id
  * directory with overwrite (a replayed partial write converges) and
  * the applied-batch watermark advances by one atomic [[StateCommit]]
  * pointer swap AFTER the write — a crash between the two replays
  * cleanly. A CDC batch carrying several versions of one doc collapses
  * last-wins BEFORE scoring ([[CdcBatch.collapse]]) — without it the
  * two versions' gram bags merge into a chimera document whose weight
  * belongs to neither version.
  *
  * Scale posture: per batch, one hashed-gram pass over the batch plus a
  * broadcast join against the ≤buckets-row model — nothing corpus-sized
  * moves, no state grows beyond the applied-batch pointer.
  *
  * Why this is a sink and not a bare `foreachBatch` over
  * [[DsirModel.scoreAt]]: [[start]] pins the model version in the
  * checkpoint and pairs the checkpoint with `statePath` through a sweep
  * id, and it refuses a mismatched pair or an expired pin before any
  * batch applies. Both refusals need the checkpoint, which no operator
  * sees. */
object StreamingDsir {

  private def scoresPath(p: String) = s"$p/scores"

  /** Score one micro-batch against the pinned model version; idempotent
    * per `batchId`. `seqCol` names the batch's CDC ordering column when
    * the feed carries one (recency, not payload order, picks the
    * surviving version of a doc edited twice in one trigger window). */
  def applyBatch(modelRoot: String, statePath: String, batch: DataFrame,
      batchId: Long, modelVersion: Long, seqCol: String = ""): Unit = {
    val spark = batch.sparkSession
    if (StateCommit.applied(spark, statePath, batchId)) return
    val collapsed = CdcBatch.collapse(batch, "doc_id", seqCol)
    DsirModel.scoreAt(spark, modelRoot, collapsed, modelVersion)
      .withColumn("model_v", lit(modelVersion))
      .write.mode("overwrite")
      .parquet(s"${scoresPath(statePath)}/batch_id=$batchId")
    StateCommit.commit(spark, statePath, batchId)
  }

  /** All recorded scores (doc_id, n_grams, micro_logw, model_v,
    * batch_id). */
  def scores(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(scoresPath(statePath))

  private val PinMarker = "graft-dsir-model-pin"
  private val SweepMarker = "graft-dsir-sweep-id"

  /** Guard the checkpoint↔statePath pairing (round-12 review): the
    * applied-batch watermark lives in `statePath` while batch ids come
    * from the CHECKPOINT — a fresh checkpoint restarts ids at 0, so
    * pairing it with a reused statePath made [[applyBatch]] silently
    * skip every batch at or under the old watermark (new documents
    * never scored, nothing failed). A sweep id minted once per
    * checkpoint lifetime is recorded in BOTH places; a mismatch — or a
    * statePath that carries a watermark but no sweep id — fails loudly
    * instead. A checkpoint that has already run (its model pin is
    * recorded) but carries no sweep id predates the pairing guard and
    * is refused before anything is minted, as [[StreamingLex]] refuses
    * a checkpoint with no era marker. */
  private def requirePairing(spark: org.apache.spark.sql.SparkSession,
      statePath: String, checkpoint: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ckptMarker = s"$checkpoint/$SweepMarker"
    val stateMarker = s"$statePath/$SweepMarker"
    val ckptId = StateCommit.readSmallFile(conf, ckptMarker).map(_.trim)
    if (ckptId.isEmpty) {
      val pin = new org.apache.hadoop.fs.Path(checkpoint, PinMarker)
      if (pin.getFileSystem(conf).exists(pin)) throw StateCommit.staleLayout(
        checkpoint, "a DSIR sweep checkpoint with a model pin but no sweep id")
    }
    val stateId = StateCommit.readSmallFile(conf, stateMarker).map(_.trim)
    stateId match {
      case Some(sid) if !ckptId.contains(sid) =>
        throw new IllegalStateException(
          s"statePath $statePath belongs to sweep $sid but checkpoint " +
            s"$checkpoint carries ${ckptId.fold("none")(c => s"sweep $c")}" +
            " — a fresh checkpoint restarts batch ids at 0 and the " +
            "existing watermark would silently skip every new batch; " +
            "resume the original checkpoint or point the sweep at a " +
            "fresh statePath")
      case None if StateCommit.currentVersion(spark, statePath).nonEmpty =>
        throw new IllegalStateException(
          s"statePath $statePath already carries an applied-batch " +
            s"watermark but no sweep id pairing it with checkpoint " +
            s"$checkpoint — batch ids restart at 0 and every new batch " +
            "would be silently skipped; resume the sweep's original " +
            "checkpoint or use a fresh statePath")
      case _ =>
    }
    val id = ckptId.getOrElse {
      val minted = java.util.UUID.randomUUID().toString
      StateCommit.writeSmallFile(conf, ckptMarker, minted)
      minted
    }
    if (stateId.isEmpty) StateCommit.writeSmallFile(conf, stateMarker, id)
  }

  /** The sweep's model pin, persisted in the CHECKPOINT on first start
    * (the [[StreamingLex]] era-marker pattern): a crash-recovery restart
    * of the same checkpoint re-reads the recorded pin instead of
    * re-resolving CURRENT — a refit landing while the stream was down
    * must not switch scoring regimes mid-sweep (round-11 review: the
    * in-memory pin alone only survived within one process). */
  private def resolvePin(documents: DataFrame, modelRoot: String,
      checkpoint: String): Long = {
    val spark = documents.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = s"$checkpoint/$PinMarker"
    StateCommit.readSmallFile(conf, marker).map(_.trim.toLong) match {
      case Some(pin) =>
        // round-12 review: with the default fit(retain = 2), two refits
        // landing mid-sweep expire the pinned snapshot — scoreAt would
        // fail on some arbitrary batch deep in the sweep. Surface the
        // retention problem AT RESTART with the remedy in the message.
        val retained = StateCommit.versions(spark, modelRoot)
        if (!retained.contains(pin))
          throw new IllegalStateException(
            s"pinned DSIR model v$pin at $modelRoot has been " +
              s"retention-expired (retained: ${retained.mkString(", ")}) — " +
              "raise DsirModel.fit(retain = ...) so sweeps outlive refits, " +
              "or restart the sweep with a fresh checkpoint to re-pin")
        pin
      case None =>
        val v = DsirModel.version(spark, modelRoot)
        StateCommit.writeSmallFile(conf, marker, v.toString)
        v
    }
  }

  /** Start an AvailableNow scoring pass of `documents` (doc_id + text
    * rows) against the model at `modelRoot`, pinned for the whole sweep
    * — including across crash-recovery restarts of the same checkpoint
    * — to the version that was CURRENT at first start. */
  def start(documents: DataFrame, modelRoot: String, statePath: String,
      checkpoint: String, seqCol: String = ""): StreamingQuery = {
    requirePairing(documents.sparkSession, statePath, checkpoint)
    val pinned = resolvePin(documents, modelRoot, checkpoint)
    AvailableNow.foreachBatch(documents, checkpoint) { (batch, batchId) =>
      applyBatch(modelRoot, statePath, batch, batchId, pinned, seqCol)
    }
  }
}
