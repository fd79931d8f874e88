package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.operators.{Dedup, DedupIndex}
import graft.streaming.StateCommit

/** Persisted dedup index: probe parity with the in-flight band join,
  * mutation semantics (upsert replaces, delete tombstones, re-upsert
  * resurrects, compact folds), and atomic publication (a reader never
  * sees an uncommitted generation).
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory("graft_ddidx_spec_").toString

  private def docs: DataFrame = Catalog.documents(spark, sfDir)
  private def corpus: DataFrame = docs.where(col("doc_id") % 10 < 8)
  private def batch: DataFrame = docs.where(col("doc_id") % 10 >= 8)

  /** The expected candidate pairs computed WITHOUT the index: the same
    * band join run in-flight over the two sides. */
  private def expectedPairs(b: DataFrame, c: DataFrame): Seq[(Long, Long)] =
    Dedup.lshBands(b).select(col("doc_id"), col("band"), col("sig"))
      .join(Dedup.lshBands(c).select(col("doc_id").as("dup_id"),
        col("band"), col("sig")), Seq("band", "sig"))
      .where(col("doc_id") =!= col("dup_id"))
      .select("doc_id", "dup_id").distinct()
      .as[(Long, Long)].collect().sorted.toSeq

  test("probe parity: queryNearDups equals the in-flight band join") {
    val root = freshRoot()
    DedupIndex.build(corpus, root)
    val got = DedupIndex.queryNearDups(spark, root, batch)
      .select("doc_id", "dup_id").as[(Long, Long)].collect().sorted.toSeq
    val want = expectedPairs(batch, corpus)
    assert(got == want, s"index probe diverged: ${got.length} vs ${want.length} pairs")
    assert(want.nonEmpty, "fixture produced no near-dup candidates — parity is vacuous")
  }

  test("n_sig_match counts agreeing minhashes (bounded by k, self-consistent)") {
    val root = freshRoot()
    DedupIndex.build(corpus, root)
    val rows = DedupIndex.queryNearDups(spark, root, batch)
      .as[(Long, Long, Long)].collect()
    assert(rows.forall { case (_, _, m) => m >= 1 && m <= 16 },
      "n_sig_match outside [1, k]")
    // sharing a band of 4 minhashes implies >= 4 matches... only for the
    // banded positions; globally >= 4 holds because a shared band IS 4
    // equal adjacent minhashes
    assert(rows.forall(_._3 >= 4), "banded candidate with fewer than r matching minhashes")
  }

  test("upsert equivalence: build(part) + upsert(rest) probes like build(all)") {
    val all = freshRoot(); val inc = freshRoot()
    val part1 = corpus.where(col("doc_id") % 3 =!= 0)
    val part2 = corpus.where(col("doc_id") % 3 === 0)
    DedupIndex.build(corpus, all)
    DedupIndex.build(part1, inc)
    DedupIndex.upsert(spark, inc, part2)
    def probe(root: String) =
      DedupIndex.queryNearDups(spark, root, batch)
        .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(probe(inc) == probe(all), "incremental index diverged from full build")
  }

  // identical text => identical signatures => every band matches; a
  // merely-similar fixture would make band membership a property of the
  // hash constants instead of the semantics under test
  private val T = "alpha beta gamma delta epsilon zeta"

  test("upsert REPLACES: a re-upserted doc sheds its old signatures") {
    val root = freshRoot()
    val a = Seq((1L, T), (2L, T))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    DedupIndex.build(a, root)
    // doc 2 rewritten to something unrelated: the old near-dup pair must die
    val a2 = Seq((2L, "completely different words now appear here instead"))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    DedupIndex.upsert(spark, root, a2)
    val probe = Seq((10L, T))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    val got = DedupIndex.queryNearDups(spark, root, probe)
      .select("dup_id").as[Long].collect().toSet
    assert(got.contains(1L), "unchanged doc lost its signatures")
    assert(!got.contains(2L), "replaced doc still matches through its OLD text")
  }

  test("a CDC batch with TWO versions of one doc signs the LAST version, never a chimera") {
    // round-11 review: duplicate doc_ids in one upsert batch fed the
    // per-doc minhash groupBy the union of both texts' shingles — a
    // chimera signature matching neither version
    val root = freshRoot()
    DedupIndex.build(
      Seq((1L, T)).toDF("doc_id", "text").withColumn("source", lit("s")), root)
    // both versions of doc 2 in ONE batch: v1 is a near-dup of T, the
    // seq-ordered winner v2 is unrelated text
    val dup = Seq(
      (2L, 1L, T),
      (2L, 2L, "completely different words now appear here instead"))
      .toDF("doc_id", "seq", "text").withColumn("source", lit("s"))
    DedupIndex.upsert(spark, root, dup, seqCol = "seq")
    val probe = Seq((10L, T))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    val got = DedupIndex.queryNearDups(spark, root, probe)
      .select("dup_id").as[Long].collect().toSet
    assert(!got.contains(2L),
      "the losing version's shingles leaked into doc 2's signature")
    // and the signature equals a reference index built with v2 alone
    val ref = freshRoot()
    DedupIndex.build(
      Seq((1L, T),
        (2L, "completely different words now appear here instead"))
        .toDF("doc_id", "text").withColumn("source", lit("s")), ref)
    def sigsOf(r: String) = DedupIndex.sigs(spark, r).drop("gen")
      .collect().map(_.toString).sorted.toSeq
    assert(sigsOf(root) == sigsOf(ref),
      "dup-batch signatures diverged from the last-version-only build")
  }

  test("delete tombstones; re-upsert resurrects") {
    val root = freshRoot()
    val a = Seq((1L, T), (2L, T))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    DedupIndex.build(a, root)
    val probe = Seq((10L, T))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    DedupIndex.delete(spark, root, Seq(2L).toDF("doc_id"))
    val afterDelete = DedupIndex.queryNearDups(spark, root, probe)
      .select("dup_id").as[Long].collect().toSet
    assert(afterDelete == Set(1L), s"delete did not mask doc 2: $afterDelete")
    DedupIndex.upsert(spark, root,
      Seq((2L, T)).toDF("doc_id", "text").withColumn("source", lit("s")))
    val afterRevive = DedupIndex.queryNearDups(spark, root, probe)
      .select("dup_id").as[Long].collect().toSet
    assert(afterRevive == Set(1L, 2L), s"re-upsert did not resurrect doc 2: $afterRevive")
  }

  test("compact folds to one generation, clears tombstones, preserves probes") {
    val root = freshRoot()
    val part1 = corpus.where(col("doc_id") % 3 =!= 0)
    val part2 = corpus.where(col("doc_id") % 3 === 0)
    DedupIndex.build(part1, root)
    DedupIndex.upsert(spark, root, part2)
    DedupIndex.delete(spark, root, Seq(3L).toDF("doc_id"))
    val before = DedupIndex.queryNearDups(spark, root, batch)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    DedupIndex.compact(spark, root)
    val after = DedupIndex.queryNearDups(spark, root, batch)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(after == before, "compaction changed probe results")
    val v = DedupIndex.version(spark, root)
    val gens = StateCommit.metaTable(spark, root, v, DedupIndex.metaSchema, "manifest")
      .collect().map(_.getLong(0)).toSeq
    assert(gens == Seq(v), s"compaction left multiple live generations: $gens")
    val tombs = StateCommit.metaTable(spark, root, v, DedupIndex.metaSchema,
      "tombstones").count()
    assert(tombs == 0, s"compaction left $tombs tombstones")
  }

  test("publication is atomic: an unreferenced generation is invisible to readers") {
    val root = freshRoot()
    DedupIndex.build(corpus, root)
    val v = DedupIndex.version(spark, root)
    val before = DedupIndex.queryNearDups(spark, root, batch)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    // simulate a crash mid-upsert: the generation data lands, but the
    // snapshot pointer never swings
    Dedup.lshBands(batch).write.parquet(s"$root/gen-${v + 1}/bands")
    Dedup.minhashWide(batch).write.parquet(s"$root/gen-${v + 1}/sigs")
    assert(DedupIndex.version(spark, root) == v,
      "uncommitted mutation changed the visible version")
    val after = DedupIndex.queryNearDups(spark, root, batch)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(after == before, "reader saw rows from an uncommitted generation")
  }

  test("scheme mismatch is locked at build: probes use the index's k and r") {
    val root = freshRoot()
    DedupIndex.build(corpus, root, k = 8, r = 2)
    assert(DedupIndex.scheme(spark, root) == ((8, 2)))
    // the probe derives its signature pass from the stored scheme — the
    // max n_sig_match observable is the stored k
    val rows = DedupIndex.queryNearDups(spark, root, batch)
      .select("n_sig_match").as[Long].collect()
    assert(rows.forall(m => m >= 2 && m <= 8), "probe ignored the stored scheme")
  }

  test("classifyBatchAt: a retained pre-delete snapshot still flags the deleted doc's dups") {
    val root = freshRoot()
    DedupIndex.build(corpus, root)
    val v1 = DedupIndex.version(spark, root)
    val before = DedupIndex.classifyBatch(spark, root, batch)
      .collect().map(_.toString).toSeq
    // take down every indexed doc that matched anything in the batch —
    // a probe against the CURRENT index must lose those verdicts
    val dupIds = DedupIndex.queryNearDups(spark, root, batch)
      .select(col("dup_id").as("doc_id")).distinct()
    assert(dupIds.count() > 0, "fixture too weak: no near-dups to take down")
    DedupIndex.delete(spark, root, dupIds)
    val now = DedupIndex.classifyBatch(spark, root, batch)
      .collect().map(_.toString).toSeq
    assert(now != before, "fixture too weak: delete did not change verdicts")
    // time travel: the pre-delete curation decision reproduces exactly
    val atV1 = DedupIndex.classifyBatchAt(spark, root, batch, v1)
      .collect().map(_.toString).toSeq
    assert(atV1 == before, "pre-delete classify drifted")
    intercept[IllegalArgumentException] {
      DedupIndex.classifyBatchAt(spark, root, batch, v1 + 100)
    }
  }
}
