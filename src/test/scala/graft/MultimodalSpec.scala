package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  test("frameSamplePlan covers the FULL stream span when maxFrames < n_frames < 2*maxFrames") {
    import spark.implicits._
    // round-11 review: the floor stride was 1 for n_frames = 15 with
    // maxFrames = 8, and the pos cap then kept frames 0..7 only — the
    // whole second half of the asset was never sampled. Ceil stride = 2
    // samples 0,2,..,14: even coverage to the last frame.
    val doc = Seq((1L, "x" * 14500)).toDF("doc_id", "text") // n_frames = 15
    val rows = Multimodal.frameSamplePlan(doc).collect()
      .map(r => (r.getInt(2), r.getLong(3))).toSeq
    assert(rows.map(_._2) == Seq(0L, 2L, 4L, 6L, 8L, 10L, 12L, 14L),
      s"expected even full-span coverage, got $rows")
    assert(rows.map(_._1) == (0 until 8).toSeq)
  }
}
