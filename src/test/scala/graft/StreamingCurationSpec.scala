package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{AvailableNow, StreamingCuration}

/** Streaming ingestion filter: per-batch verdicts match the batch
  * operator run against the documents accumulated before that batch, a
  * replayed batch id is a no-op, and state size is bounded by content
  * diversity (a re-crawl adds nothing).
  */
class StreamingCurationSpec extends SparkSpec {

  import spark.implicits._

  private val t1 = "alpha beta gamma delta epsilon zeta eta theta"
  private val t2 = "one two three four five six seven eight nine ten"
  private val t3 = "totally different words nothing shared here at all today"

  private def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  test("per-batch verdicts equal the batch operator against the prior corpus") {
    val dir = Files.createTempDirectory("graft_curation").toString
    val b1 = Seq((1L, t1), (2L, t2))
    val b2 = Seq((3L, t1), (4L, t3), (5L, t2 + " eleven")) // exact, new, near
    StreamingCuration.applyBatch(dir, docsDf(b1), 0L)
    StreamingCuration.applyBatch(dir, docsDf(b2), 1L)
    val got = StreamingCuration.verdicts(spark, dir).collect()
      // batch_id is a discovered partition column -> inferred INT
      .map(r => r.getLong(0) -> (r.getString(1), r.get(2).toString.toLong)).toMap
    // batch 0 judged against empty state: everything new
    assert(got(1L) == (("new", 0L)) && got(2L) == (("new", 0L)))
    // batch 1 judged against batch 0's corpus — equals the batch operator
    val want = Dedup.incrementalDedup(docsDf(b2), docsDf(b1)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(want == Map(3L -> "exact_dup", 4L -> "new", 5L -> "near_dup"),
      s"fixture drifted: $want")
    b2.map(_._1).foreach { id =>
      assert(got(id) == ((want(id), 1L)), s"doc $id: ${got(id)} vs ${want(id)}")
    }
  }

  test("replayed batch id is a no-op; re-crawl grows no state") {
    val dir = Files.createTempDirectory("graft_curation2").toString
    StreamingCuration.applyBatch(dir, docsDf(Seq((1L, t1), (2L, t2))), 0L)
    val shaCount = StreamingCuration.shaState(spark, dir).count()
    val before = StreamingCuration.verdicts(spark, dir).collect().toSet
    // replay the same batch id — nothing may change
    StreamingCuration.applyBatch(dir, docsDf(Seq((1L, t1), (2L, t2))), 0L)
    assert(StreamingCuration.verdicts(spark, dir).collect().toSet == before)
    assert(StreamingCuration.shaState(spark, dir).count() == shaCount)
    // a NEW batch re-ingesting the same content: flagged, state unchanged
    StreamingCuration.applyBatch(dir, docsDf(Seq((10L, t1), (11L, t2))), 1L)
    val v = StreamingCuration.verdicts(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(10L) == "exact_dup" && v(11L) == "exact_dup")
    assert(StreamingCuration.shaState(spark, dir).count() == shaCount,
      "re-crawled content must not grow the sha state")
  }

  test("edge: empty batch and null-text docs never throw; null text is always 'new'") {
    val dir = Files.createTempDirectory("graft_curation4").toString
    StreamingCuration.applyBatch(dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L)
    assert(StreamingCuration.verdicts(spark, dir).count() == 0)
    val nulls = Seq((1L, null.asInstanceOf[String]), (2L, t1))
      .toDF("doc_id", "text")
    StreamingCuration.applyBatch(dir, nulls, 1L)
    StreamingCuration.applyBatch(dir,
      Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text"), 2L)
    val v = StreamingCuration.verdicts(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // NULL sha never equi-matches (SQL null semantics): null-text docs
    // stay 'new' rather than colliding with each other
    assert(v == Map(1L -> "new", 2L -> "new", 3L -> "new"), v.toString)
  }

  test("AvailableNow stream drive records the same verdicts") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_curation3")
    val state = dir.resolve("state").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    def pass(): Unit = AvailableNow.foreachBatch(docs, dir.resolve("c1").toString)(
      StreamingCuration.applyBatch(state, _, _)).awaitTermination()
    input.addData(Seq((1L, t1), (2L, t2)))
    pass()
    input.addData(Seq((3L, t1)))
    pass()
    val v = StreamingCuration.verdicts(spark, state).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v == Map(1L -> "new", 2L -> "new", 3L -> "exact_dup"), v.toString)
  }
}
