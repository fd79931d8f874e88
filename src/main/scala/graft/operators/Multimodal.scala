package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata, derived by pure expressions so the `mm_*` queries stay
  * oracle-checkable. Binary payloads never shuffle — metadata is projected
  * out in the scan stage and all downstream ops run on the narrow
  * metadata columns.
  */
object Multimodal {

  /** Column-level metadata extraction over a binary column — pure
    * expressions, oracle-checkable. */
  def binaryMeta(documents: DataFrame): DataFrame = {
    val bin = col("text").cast("binary")
    val nBytes = octet_length(col("text")).cast("bigint")
    documents.select(
      col("doc_id"),
      nBytes.as("n_bytes"),
      sha2(bin, 256).as("sha"),
      (nBytes % 640).cast("int").as("width"),
      (nBytes % 480).cast("int").as("height"),
      when(nBytes % 3 === 0, "png").when(nBytes % 3 === 1, "jpeg")
        .otherwise("webp").as("format"))
      .orderBy("doc_id")
  }

  /** Video frame-sampling plan over a binary column: derive the stream's
    * frame count from its metadata (here: bytes/1000 + 1 at a nominal
    * 24 fps — a real container parser slots in at the same column), pick
    * an even sampling stride targeting ≤ `maxFrames` samples, and emit
    * one row per sampled frame with its index and timestamp. This is the
    * PLAN side of frame extraction: the offsets a decoder would seek.
    *
    * Scale posture: pure expressions + one `posexplode` whose fan-out is
    * capped at `maxFrames` rows per asset; binary payloads stay in place. */
  def frameSamplePlan(documents: DataFrame, maxFrames: Int = 8,
      fps: Double = 24.0): DataFrame =
    documents
      .select(col("doc_id"),
        expr("CAST(octet_length(text) AS BIGINT) DIV 1000 + 1").as("n_frames"))
      // CEIL stride, not floor (round-11 review): floor gave stride 1
      // for maxFrames < n_frames < 2*maxFrames, and the pos cap then
      // kept only the PREFIX of the stream — the second half of the
      // asset was never sampled. Ceil covers the full span evenly.
      .select(col("doc_id"), col("n_frames"),
        greatest(lit(1L),
          expr(s"(n_frames + $maxFrames - 1) DIV $maxFrames")).as("stride"))
      .select(col("doc_id"), col("n_frames"), col("stride"),
        posexplode(sequence(lit(0L), col("n_frames") - 1, col("stride"))))
      .where(col("pos") < maxFrames)
      .select(col("doc_id"), col("n_frames"),
        col("pos").cast("int").as("sample_idx"),
        col("col").as("frame_idx"),
        round(col("col") / lit(fps), 3).as("ts_sec"))
      .orderBy("doc_id", "sample_idx")
}
