package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg
import graft.streaming.AvailableNow

/** Streaming aggregate maintenance: multi-batch state equals the
  * all-at-once aggregate, and a replayed batch (same stream batch id)
  * cannot double-count. The stream is [[IncrementalAgg.ingest]] per
  * micro-batch, run by [[AvailableNow.foreachBatch]]; stream batch ids
  * start at 0 but ingest versions are positive, so batch B commits as
  * version B+1.
  */
class StreamingAggSpec extends SparkSpec {
  import spark.implicits._

  private def mkStream() = {
    implicit val ctx = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val rows = input.toDF().select(col("_1").as("k"), col("_2").as("v"))
    (input, rows)
  }

  private def maintain(rows: org.apache.spark.sql.DataFrame, root: String,
      ckpt: String): Unit =
    AvailableNow.foreachBatch(rows, ckpt) { (batch, batchId) =>
      IncrementalAgg.ingest(batch.sparkSession, root, batch,
        Seq("k"), Seq("v"), batchId + 1)
      ()
    }.awaitTermination()

  private def state(root: String): Seq[(String, Long, Long, Long, Long)] =
    IncrementalAgg.read(spark, root).get
      .select("k", "cnt", "sum_v", "min_v", "max_v")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq

  test("two micro-batches fold into the exact all-at-once aggregate") {
    val root = Files.createTempDirectory("graft_sa_root").toString
    val ckpt = Files.createTempDirectory("graft_sa_ck").toString
    val (input, rows) = mkStream()
    input.addData(Seq(("A", 10L), ("B", 5L)))
    maintain(rows, root, ckpt)
    input.addData(Seq(("A", 1L), ("C", 7L)))
    maintain(rows, root, ckpt)
    assert(state(root) == Seq(
      ("A", 2L, 11L, 1L, 10L), ("B", 1L, 5L, 5L, 5L), ("C", 1L, 7L, 7L, 7L)))
    assert(IncrementalAgg.lastBatch(spark, root) == 2L,
      "stream batch 1 should have committed as version 2")
  }

  test("a replayed stream batch is refused by the version guard") {
    val root = Files.createTempDirectory("graft_sa2_root").toString
    val ckpt1 = Files.createTempDirectory("graft_sa2_ck1").toString
    val (in1, rows1) = mkStream()
    in1.addData(Seq(("A", 10L)))
    maintain(rows1, root, ckpt1)
    val before = state(root)
    // lost checkpoint => the same data re-delivers as batch 0 again
    val ckpt2 = Files.createTempDirectory("graft_sa2_ck2").toString
    val (in2, rows2) = mkStream()
    in2.addData(Seq(("A", 10L)))
    maintain(rows2, root, ckpt2)
    assert(state(root) == before, "replayed batch double-counted")
  }
}
