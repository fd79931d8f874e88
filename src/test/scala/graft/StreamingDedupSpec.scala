package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.DedupIndex

/** Dedup-at-ingest: batches classify against everything BEFORE them,
  * and an at-least-once replay converges (a replayed batch gets the
  * same verdicts; index state masks the superseded generation). The
  * stream is [[DedupIndex.upsert]] per micro-batch, driven by
  * [[drain]].
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val T1 = "alpha beta gamma delta epsilon zeta"
  private val T2 = "one two three four five six seven"

  private def docsDF(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text").withColumn("source", lit("s"))

  /** One MemoryStream per test; each `addData` + start(AvailableNow)
    * round is one micro-batch against a shared checkpoint (the
    * StreamingIndexSpec feed pattern). */
  private def mkStream() = {
    implicit val ctx = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docs = input.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("s").as("source"))
    (input, docs)
  }

  /** One classify-then-ingest micro-batch: the verdicts `rows` get
    * against the index BEFORE they join it (pinned eagerly), then one
    * [[drain]] pass under a fresh checkpoint folds them
    * in — a fresh checkpoint per call is the lost-checkpoint replay
    * shape when the same rows come again. */
  private def classifyThenIngest(root: String,
      rows: (Long, String)*): DataFrame = {
    val verdicts = DedupIndex.classifyBatch(spark, root, docsDF(rows: _*))
      .localCheckpoint()
    val (input, docs) = mkStream()
    input.addData(rows)
    drain(docs, Files.createTempDirectory("graft_sd_ck").toString)(
      DedupIndex.upsert(spark, root, _))
    verdicts
  }

  test("a later batch classifies against the earlier batch's docs") {
    val root = Files.createTempDirectory("graft_sd_root").toString
    // index starts over an EMPTY corpus: the stream builds it up
    DedupIndex.build(docsDF().limit(0), root)
    val first = classifyThenIngest(root, (1L, T1), (2L, T2))
    val second = classifyThenIngest(root,
      (3L, T1), (4L, "nothing like the others here at all"))
    val verdicts = first.unionByName(second)
      .select("doc_id", "verdict")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(verdicts(1L) == "new" && verdicts(2L) == "new",
      s"first batch docs must be new: $verdicts")
    assert(verdicts(3L) == "likely_exact",
      s"doc 3 repeats doc 1's text verbatim: $verdicts")
    assert(verdicts(4L) == "new", s"doc 4 matches nothing: $verdicts")
    val best3 = second.where(col("doc_id") === 3)
      .select("best_dup_id").as[Long].head()
    assert(best3 == 1L, s"doc 3's best candidate should be doc 1, got $best3")
  }

  test("replay of the whole stream converges: verdicts overwrite, index state masks") {
    val root = Files.createTempDirectory("graft_sd2_root").toString
    DedupIndex.build(docsDF().limit(0), root)
    val rows = Seq((1L, T1), (2L, T2))
    val verdictsBefore = classifyThenIngest(root, rows: _*)
      .collect().map(_.toString).sorted.toSeq
    val probeBefore = DedupIndex.queryNearDups(spark, root, docsDF((9L, T1)))
      .collect().map(_.toString).sorted.toSeq
    // crash-and-lose-the-checkpoint replay: the same batch re-delivers
    // under a FRESH checkpoint, after its first delivery was ingested
    val verdictsAfter = classifyThenIngest(root, rows: _*)
      .collect().map(_.toString).sorted.toSeq
    assert(verdictsAfter == verdictsBefore,
      "replay duplicated or changed verdict rows")
    val probeAfter = DedupIndex.queryNearDups(spark, root, docsDF((9L, T1)))
      .collect().map(_.toString).sorted.toSeq
    assert(probeAfter == probeBefore, "replay changed visible index state")
    // compaction folds the replay's redundant generation away
    DedupIndex.compact(spark, root)
    val probeCompacted = DedupIndex.queryNearDups(spark, root, docsDF((9L, T1)))
      .collect().map(_.toString).sorted.toSeq
    assert(probeCompacted == probeBefore, "compaction changed probe results")
  }

  test("intra-batch twins stay `new` on replay (own-batch ids excluded from candidates)") {
    val root = Files.createTempDirectory("graft_sd4_root").toString
    DedupIndex.build(docsDF().limit(0), root)
    val twins = Seq((5L, T1), (6L, T1)) // identical text, same batch
    def verdicts = classifyThenIngest(root, twins: _*)
      .select("doc_id", "verdict").as[(Long, String)].collect().sorted.toSeq
    val before = verdicts
    assert(before == Seq((5L, "new"), (6L, "new")),
      s"intra-batch twins are the band join's job, not the index's: $before")
    // replay the batch — the index now CONTAINS the twins, but their
    // verdicts must not flip
    val after = verdicts
    assert(after == before, s"replay flipped twin verdicts: $after")
  }

  test("ingest-only form: the index accumulates without verdict output") {
    val root = Files.createTempDirectory("graft_sd3_root").toString
    val ckpt = Files.createTempDirectory("graft_sd3_ck").toString
    DedupIndex.build(docsDF((1L, T1)), root)
    implicit val ctx = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docs = input.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("s").as("source"))
    input.addData(Seq((2L, T1)))
    drain(docs, ckpt)(DedupIndex.upsert(spark, root, _))
    val got = DedupIndex.queryNearDups(spark, root, docsDF((9L, T1)))
      .select("dup_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L), s"streamed doc not probeable: $got")
  }

  test("seqCol reaches the stream's upsert: a re-edited doc inside one trigger window keeps the RECENT version") {
    // round-11 review: the streaming wrappers could not pass seqCol, so
    // the intra-batch collapse fell back to payload order and a STALE
    // version could win permanently (here v1's text sorts after v2's)
    val root = Files.createTempDirectory("graft_sd4_root").toString
    val ckpt = Files.createTempDirectory("graft_sd4_ck").toString
    DedupIndex.build(docsDF((1L, T1)), root)
    implicit val ctx = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val docs = input.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("seq"),
        col("_3").as("text"), lit("s").as("source"))
    // both versions of doc 2 in ONE batch: v1 near-dups T1 and sorts
    // LAST lexicographically ("zz..."), v2 (the seq winner) is T2
    input.addData(Seq((2L, 1L, "zz " + T1), (2L, 2L, T2)))
    drain(docs, ckpt)(DedupIndex.upsert(spark, root, _, seqCol = "seq"))
    val viaOld = DedupIndex.queryNearDups(spark, root, docsDF((9L, T1)))
      .select("dup_id").as[Long].collect().toSet
    assert(!viaOld.contains(2L),
      "the stale version won the intra-batch collapse")
    val viaNew = DedupIndex.queryNearDups(spark, root, docsDF((9L, T2)))
      .select("dup_id").as[Long].collect().toSet
    assert(viaNew.contains(2L),
      "the seq-winning version is not probeable")
  }
}
