package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{DsirModel, TextAnalysis}
import graft.streaming.StreamingDsir

/** Streaming DSIR scoring: batch scores equal the batch operator against
  * the frozen model, replays are no-ops, a mid-sweep refit does not
  * switch regimes, and multi-version CDC batches collapse last-wins
  * before scoring. */
class StreamingDsirSpec extends SparkSpec {

  import spark.implicits._

  private val legal = "whereas the party of the first part hereby agrees " +
    "to indemnify and hold harmless the aforementioned party"
  private val recipe = "whisk the eggs with sugar then fold in flour and " +
    "bake the batter until golden and fragrant"

  private def fitModel(): String = {
    val root = Files.createTempDirectory("dsir_sm_").toString
    DsirModel.fit(
      Seq((50L, legal), (51L, recipe)).toDF("doc_id", "text"),
      Seq((100L, legal)).toDF("doc_id", "text"), root)
    root
  }

  test("per-batch scores equal DsirModel.score, idempotent per batch id") {
    val modelRoot = fitModel()
    val state = Files.createTempDirectory("dsir_state_").toString
    val b0 = Seq((1L, legal), (2L, recipe)).toDF("doc_id", "text")
    val b1 = Seq((3L, legal + " pursuant")).toDF("doc_id", "text")
    StreamingDsir.applyBatch(modelRoot, state, b0, 0L, 1L)
    StreamingDsir.applyBatch(modelRoot, state, b1, 1L, 1L)
    val got = StreamingDsir.scores(spark, state).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val want = DsirModel.score(spark, modelRoot, b0.unionByName(b1))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    got.foreach { case (id, (w, mv)) =>
      assert(w == want(id) && mv == 1L, s"doc $id: $w/$mv vs ${want(id)}")
    }
    // replay of an applied batch id changes nothing
    val before = StreamingDsir.scores(spark, state).collect().toSet
    StreamingDsir.applyBatch(modelRoot, state,
      Seq((9L, recipe)).toDF("doc_id", "text"), 0L, 1L)
    assert(StreamingDsir.scores(spark, state).collect().toSet == before)
  }

  test("a mid-sweep refit does not switch the pinned regime") {
    val modelRoot = fitModel()
    val state = Files.createTempDirectory("dsir_state2_").toString
    val doc = Seq((1L, legal)).toDF("doc_id", "text")
    StreamingDsir.applyBatch(modelRoot, state, doc, 0L, 1L)
    // refit toward the other domain between batches
    DsirModel.fit(
      Seq((50L, legal), (51L, recipe)).toDF("doc_id", "text"),
      Seq((200L, recipe)).toDF("doc_id", "text"), modelRoot)
    StreamingDsir.applyBatch(modelRoot, state,
      Seq((2L, legal)).toDF("doc_id", "text"), 1L, 1L)
    val got = StreamingDsir.scores(spark, state).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // same text, same pinned model version -> identical weight either
    // side of the refit
    assert(got(1L) == got(2L), s"regime switched mid-sweep: $got")
    assert(got(1L)._2 == 1L)
  }

  test("multi-version CDC batch collapses last-wins before scoring") {
    val modelRoot = fitModel()
    val state = Files.createTempDirectory("dsir_state3_").toString
    val cdc = Seq((1L, recipe, 10L), (1L, legal, 20L))
      .toDF("doc_id", "text", "seq")
    StreamingDsir.applyBatch(modelRoot, state, cdc, 0L, 1L, seqCol = "seq")
    val rows = StreamingDsir.scores(spark, state).collect()
    assert(rows.length == 1, s"chimera rows: ${rows.toSeq}")
    val wantLegal = DsirModel.score(spark, modelRoot,
      Seq((1L, legal)).toDF("doc_id", "text")).head().getLong(2)
    assert(rows.head.getLong(2) == wantLegal,
      "winner is not the highest-seq version")
  }

  test("checkpoint restart after a refit keeps the ORIGINAL pin") {
    val modelRoot = fitModel()
    val state = Files.createTempDirectory("dsir_state5_").toString
    val ckpt = Files.createTempDirectory("dsir_ckpt5_").toString
    val ms = MemoryStream[(Long, String)](spark)
    ms.addData((1L, legal))
    StreamingDsir.start(ms.toDF().toDF("doc_id", "text"),
      modelRoot, state, ckpt).awaitTermination(60000)
    // the model refits while the stream is DOWN…
    DsirModel.fit(
      Seq((50L, legal), (51L, recipe)).toDF("doc_id", "text"),
      Seq((200L, recipe)).toDF("doc_id", "text"), modelRoot)
    // …and a crash-recovery restart of the SAME checkpoint must score
    // new batches under the ORIGINAL pin (v1), not the new CURRENT
    ms.addData((2L, legal))
    StreamingDsir.start(ms.toDF().toDF("doc_id", "text"),
      modelRoot, state, ckpt).awaitTermination(60000)
    val got = StreamingDsir.scores(spark, state).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == Set(1L, 2L), got.toString)
    assert(got(1L) == got(2L) && got(1L)._2 == 1L,
      s"restart re-pinned to the refit model: $got")
  }

  test("end-to-end stream: every source doc scored once, pinned") {
    val modelRoot = fitModel()
    val state = Files.createTempDirectory("dsir_state4_").toString
    val ckpt = Files.createTempDirectory("dsir_ckpt_").toString
    val ms = MemoryStream[(Long, String)](spark)
    ms.addData((1L, legal), (2L, recipe), (3L, legal + " " + recipe))
    val q = StreamingDsir.start(
      ms.toDF().toDF("doc_id", "text"), modelRoot, state, ckpt)
    q.awaitTermination(60000)
    val got = StreamingDsir.scores(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = TextAnalysis.dsirWeights(
      Seq((1L, legal), (2L, recipe), (3L, legal + " " + recipe))
        .toDF("doc_id", "text"),
      Seq((100L, legal)).toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // the stream scores against the FROZEN model (fit corpus 50/51), the
    // batch operator refits on its own raw corpus — same target, so the
    // on-target doc tops both rankings (sum-form weights: the MIXED doc
    // carries the off-domain mass too, so it does not interpolate)
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) > got(2L) && got(1L) > got(3L),
      s"stream scores misordered: $got (batch reference order: $want)")
    assert(want(1L) > want(2L) && want(1L) > want(3L),
      s"batch reference misordered: $want")
  }

  test("fresh checkpoint against a reused statePath fails loudly instead of silently skipping batches") {
    val modelRoot = fitModel()
    val state = Files.createTempDirectory("dsir_state7_").toString
    val ckpt = Files.createTempDirectory("dsir_ckpt7_").toString
    val ms = MemoryStream[(Long, String)](spark)
    ms.addData((1L, legal))
    StreamingDsir.start(ms.toDF().toDF("doc_id", "text"),
      modelRoot, state, ckpt).awaitTermination(60000)
    // a NEW checkpoint restarts batch ids at 0; pairing it with the
    // used statePath would make the old watermark swallow every batch
    // (round-12 review: new documents silently never scored)
    val freshCkpt = Files.createTempDirectory("dsir_ckpt7b_").toString
    val ms2 = MemoryStream[(Long, String)](spark)
    ms2.addData((2L, recipe))
    val e = intercept[IllegalStateException] {
      StreamingDsir.start(ms2.toDF().toDF("doc_id", "text"),
        modelRoot, state, freshCkpt).awaitTermination(60000)
    }
    assert(e.getMessage.contains("fresh") ||
      e.getMessage.contains("sweep"), e.getMessage)
    // the ORIGINAL pairing still resumes fine after the refusal
    ms.addData((3L, recipe))
    StreamingDsir.start(ms.toDF().toDF("doc_id", "text"),
      modelRoot, state, ckpt).awaitTermination(60000)
    val got = StreamingDsir.scores(spark, state).collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L), s"original sweep broken after refusal: $got")
  }

  test("restart whose pinned model version was retention-expired fails with the remedy, not mid-sweep") {
    val modelRoot = fitModel() // v1, retain = 2
    val state = Files.createTempDirectory("dsir_state8_").toString
    val ckpt = Files.createTempDirectory("dsir_ckpt8_").toString
    val ms = MemoryStream[(Long, String)](spark)
    ms.addData((1L, legal))
    StreamingDsir.start(ms.toDF().toDF("doc_id", "text"),
      modelRoot, state, ckpt).awaitTermination(60000)
    // two refits expire v1 under the default retain=2
    DsirModel.fit(Seq((50L, legal)).toDF("doc_id", "text"),
      Seq((200L, recipe)).toDF("doc_id", "text"), modelRoot)
    DsirModel.fit(Seq((51L, recipe)).toDF("doc_id", "text"),
      Seq((201L, legal)).toDF("doc_id", "text"), modelRoot)
    ms.addData((2L, recipe))
    val e = intercept[IllegalStateException] {
      StreamingDsir.start(ms.toDF().toDF("doc_id", "text"),
        modelRoot, state, ckpt).awaitTermination(60000)
    }
    assert(e.getMessage.contains("retention-expired") &&
      e.getMessage.contains("retain"), e.getMessage)
  }

  /** Strip the sweep-id markers from a checkpoint/state pair — the
    * on-disk shape of a sweep that ran BEFORE the pairing-guard upgrade
    * (PinMarker and commits present, no SweepMarker). */
  private def stripSweepMarkers(dirs: String*): Unit = dirs.foreach { d =>
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(d, "graft-dsir-sweep-id"))
  }

  test("pre-upgrade checkpoint + WRONG pre-existing statePath is rejected, not silently adopted") {
    val modelRoot = fitModel()
    // sweep A: one batch -> checkpoint A's last committed batch id is 0
    val stateA = Files.createTempDirectory("dsir_stateA_").toString
    val ckptA = Files.createTempDirectory("dsir_ckptA_").toString
    val msA = MemoryStream[(Long, String)](spark)
    msA.addData((1L, legal))
    StreamingDsir.start(msA.toDF().toDF("doc_id", "text"),
      modelRoot, stateA, ckptA).awaitTermination(60000)
    // sweep B: three restarts -> statePath B's watermark reaches 2
    val stateB = Files.createTempDirectory("dsir_stateB_").toString
    val ckptB = Files.createTempDirectory("dsir_ckptB_").toString
    val msB = MemoryStream[(Long, String)](spark)
    (10 to 12).foreach { i =>
      msB.addData((i.toLong, recipe))
      StreamingDsir.start(msB.toDF().toDF("doc_id", "text"),
        modelRoot, stateB, ckptB).awaitTermination(60000)
    }
    // the pre-upgrade on-disk state: a checkpoint that has run (its
    // model pin is recorded) but carries no sweep id. Paired with a
    // foreign statePath (round-12 advice: watermark 2 would have
    // swallowed every batch at or under it) or with its own, it is
    // refused before any marker is minted, as StreamingLex refuses a
    // checkpoint with no era marker
    stripSweepMarkers(ckptA, stateA, ckptB, stateB)
    for (state <- Seq(stateB, stateA)) {
      val msC = MemoryStream[(Long, String)](spark)
      msC.addData((20L, legal))
      assertRefused(ckptA, stateA, stateB) {
        StreamingDsir.start(msC.toDF().toDF("doc_id", "text"),
          modelRoot, state, ckptA).awaitTermination(60000)
      }
    }
  }
}
