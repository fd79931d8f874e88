package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.LexIndex
import graft.streaming.StreamingLex

/** Streaming index maintenance: streamed generations answer exactly
  * like a from-scratch rebuild over the union; a replayed batch (same
  * stream batch id after a lost checkpoint) is refused by the
  * in-snapshot batch watermark — never double-counted — and an
  * out-of-band index mutation between stream runs does not swallow
  * the next batch. */
class StreamingLexSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = catalog.Catalog.documents(spark, sfDir)

  private def mkStream() = {
    implicit val ctx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    (input, input.toDF().select(col("_1").as("doc_id"), col("_2").as("text")))
  }

  private def rows(root: String, terms: Seq[String]) =
    LexIndex.search(spark, root, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  test("streamed batches answer exactly like a rebuild over the union") {
    val root = Files.createTempDirectory("slex_root").toString
    val ckpt = Files.createTempDirectory("slex_ckpt").toString
    val seed = docs.where(col("doc_id") % 3 === 0).select("doc_id", "text")
    LexIndex.build(spark, seed, root)

    val later = docs.where(col("doc_id") % 3 =!= 0)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    val (in, stream) = mkStream()
    in.addData(later.take(later.length / 2).toSeq)
    in.addData(later.drop(later.length / 2).toSeq)
    StreamingLex.start(stream, root, ckpt).awaitTermination()

    val full = Files.createTempDirectory("slex_full").toString
    LexIndex.build(spark, docs.select("doc_id", "text"), full)
    val terms = Seq("vector", "merge", "spark")
    assert(rows(root, terms) == rows(full, terms),
      "streamed index diverged from the rebuild")
  }

  test("a resumed checkpoint keeps ingesting: continuing batch ids clear the snapshot watermark") {
    // round-9 advisory, round-10 design: with a RESUMED checkpoint,
    // batch ids continue where they left off — the in-snapshot batch
    // watermark (not version arithmetic) decides replay-vs-new, so the
    // restart just applies the next batch.
    val root = Files.createTempDirectory("slex3_root").toString
    val ckpt = Files.createTempDirectory("slex3_ckpt").toString
    val srcDir = Files.createTempDirectory("slex3_src").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 3 === 0)
      .select("doc_id", "text"), root)

    docs.where(col("doc_id") % 3 === 1).select("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def pass(): Unit = StreamingLex.start(
      spark.readStream.schema(schema).parquet(srcDir), root, ckpt)
      .awaitTermination()
    pass() // first start: anchors and persists the base

    docs.where(col("doc_id") % 3 === 2).select("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    pass() // RESUME: same checkpoint, continuing batch ids

    val full = Files.createTempDirectory("slex3_full").toString
    LexIndex.build(spark, docs.select("doc_id", "text"), full)
    val terms = Seq("vector", "merge", "spark")
    assert(rows(root, terms) == rows(full, terms),
      "resumed maintenance diverged from the rebuild")
  }

  test("a replayed stream batch is refused by the version guard") {
    val root = Files.createTempDirectory("slex2_root").toString
    LexIndex.build(spark, docs.where(col("doc_id") < 100)
      .select("doc_id", "text"), root)

    val batch = docs.where(col("doc_id") >= 100 && col("doc_id") < 150)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq

    val ck1 = Files.createTempDirectory("slex2_ck1").toString
    val (in1, s1) = mkStream()
    in1.addData(batch)
    StreamingLex.start(s1, root, ck1).awaitTermination()
    val before = rows(root, Seq("vector", "merge"))

    // lost checkpoint => the same data re-delivers as batch 0 again;
    // the watermark inside the snapshot refuses it
    val ck2 = Files.createTempDirectory("slex2_ck2").toString
    val (in2, s2) = mkStream()
    in2.addData(batch)
    StreamingLex.start(s2, root, ck2).awaitTermination()
    assert(rows(root, Seq("vector", "merge")) == before,
      "replayed batch double-counted")
  }

  test("CDC upsert batches: document UPDATES converge to the updated-corpus rebuild; replayed batch ids refused") {
    val root = Files.createTempDirectory("slex6_root").toString
    LexIndex.build(spark, docs.select("doc_id", "text"), root)

    // batch 0: update a third of the corpus in place (live-doc updates —
    // the shape plain ingest would double-count); batch 1: update
    // another slice AND introduce brand-new ids
    val batches = Seq(
      docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" cdc rev one")).as("text")),
      docs.where(col("doc_id") % 3 === 1)
        .select(col("doc_id"), concat(col("text"), lit(" cdc rev two")).as("text"))
        .unionByName(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))))
    // each call returns the committed version after it
    def pass(): Seq[Long] = batches.zipWithIndex.map { case (b, id) =>
      LexIndex.upsertBatch(spark, b, root, id.toLong)
    }
    val v = pass().last

    val want = Files.createTempDirectory("slex6_want").toString
    LexIndex.build(spark,
      docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" cdc rev one")))
          .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" cdc rev two")))
          .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))),
      want)
    val terms = Seq("vector", "merge", "spark")
    assert(rows(root, terms) == rows(want, terms),
      "CDC upsert batches diverged from the updated-corpus rebuild")

    // at-least-once re-delivery of both batch ids: the in-snapshot
    // watermark refuses them, nothing double-counts
    assert(pass() == Seq(v, v), "a replayed batch committed")
    assert(rows(root, terms) == rows(want, terms),
      "replayed upsert batches drifted the index")
  }

  test("resuming an old checkpoint across a REBUILD fails loudly (era guard)") {
    // round-10 advice: build() resets the batch watermark, so an old
    // checkpoint resumed after a rebuild could re-apply a crashed
    // in-flight batch whose docs the rebuild corpus already contains.
    // The checkpoint's recorded build era makes that a loud refusal
    // instead of operator discipline.
    val root = Files.createTempDirectory("slex5_root").toString
    val ckpt = Files.createTempDirectory("slex5_ckpt").toString
    val srcDir = Files.createTempDirectory("slex5_src").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 3 === 0)
      .select("doc_id", "text"), root)

    docs.where(col("doc_id") % 3 === 1).select("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def pass(): Unit = StreamingLex.start(
      spark.readStream.schema(schema).parquet(srcDir), root, ckpt)
      .awaitTermination()
    pass() // anchors the checkpoint to the current build era

    // REBUILD: new era; the index already contains everything
    LexIndex.build(spark, docs.select("doc_id", "text"), root)
    val before = rows(root, Seq("vector", "merge", "spark"))

    docs.where(col("doc_id") % 3 === 2).select("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    val e = intercept[IllegalArgumentException] { pass() }
    assert(e.getMessage.contains("era"), e.getMessage)
    assert(rows(root, Seq("vector", "merge", "spark")) == before,
      "the refused resume still mutated the index")

    // a FRESH checkpoint against the rebuilt index works
    val ckpt2 = Files.createTempDirectory("slex5_ckpt2").toString
    StreamingLex.start(
      spark.readStream.schema(schema).parquet(srcDir), root, ckpt2)
      .awaitTermination()
  }

  test("a marker-less checkpoint with existing offsets is refused — it cannot adopt the current era") {
    // round-11 review: a checkpoint born BEFORE the era guard has
    // streaming offsets but no marker file; silently anchoring it to
    // the CURRENT era would let a pre-rebuild checkpoint replay a
    // crashed batch against the rebuild corpus. Only a genuinely fresh
    // checkpoint (no offsets) may adopt the era.
    val root = Files.createTempDirectory("slex6_root").toString
    val ckpt = Files.createTempDirectory("slex6_ckpt").toString
    val srcDir = Files.createTempDirectory("slex6_src").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 3 === 0)
      .select("doc_id", "text"), root)
    docs.where(col("doc_id") % 3 === 1).select("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def pass(): Unit = StreamingLex.start(
      spark.readStream.schema(schema).parquet(srcDir), root, ckpt)
      .awaitTermination()
    pass() // writes both streaming offsets and the era marker
    // age the checkpoint back to the pre-guard layout: delete the marker
    val fs = new org.apache.hadoop.fs.Path(ckpt).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(ckpt, "graft-build-era"), false))
    val before = rows(root, Seq("vector", "merge", "spark"))
    val e = intercept[IllegalArgumentException] { pass() }
    assert(e.getMessage.contains("predates the era guard"), e.getMessage)
    assert(rows(root, Seq("vector", "merge", "spark")) == before,
      "the refused marker-less resume still mutated the index")
  }

  test("an out-of-band delete between stream runs does not swallow the next batch") {
    // the round-10 review finding: version arithmetic over a remembered
    // base mistook the first post-mutation batch for a replay and
    // silently dropped it — the in-snapshot watermark does not
    val root = Files.createTempDirectory("slex4_root").toString
    val ckpt = Files.createTempDirectory("slex4_ckpt").toString
    val srcDir = Files.createTempDirectory("slex4_src").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 3 === 0)
      .select("doc_id", "text"), root)

    docs.where(col("doc_id") % 3 === 1).select("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def pass(): Unit = StreamingLex.start(
      spark.readStream.schema(schema).parquet(srcDir), root, ckpt)
      .awaitTermination()
    pass()

    // OUT-OF-BAND mutation: a takedown delete bumps the committed
    // version between stream runs
    LexIndex.delete(spark, root,
      docs.where(col("doc_id") % 30 === 0).select("doc_id"))

    docs.where(col("doc_id") % 3 === 2).select("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    pass() // the resumed batch MUST apply, not be mistaken for a replay

    val want = Files.createTempDirectory("slex4_want").toString
    LexIndex.build(spark,
      docs.where(col("doc_id") % 30 =!= 0).select("doc_id", "text"), want)
    val terms = Seq("vector", "merge", "spark")
    assert(rows(root, terms) == rows(want, terms),
      "post-delete stream batch was swallowed or double-counted")
  }
}
