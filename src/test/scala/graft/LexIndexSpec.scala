package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.operators.LexIndex
import graft.streaming.StateCommit

/** Inverted-index contracts: search equals corpus-recomputed BM25, the
  * query plan touches only the query terms' postings (filter pushed to
  * the posting scan), rebuild publication is atomic, and the hybrid
  * fusion is the exact integer RRF of its two input rankings. */
class LexIndexSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = catalog.Catalog.documents(spark, sfDir)

  private def freshIndex(): String = {
    val root = Files.createTempDirectory("lex_").toString
    LexIndex.build(spark, docs, root)
    root
  }

  test("search equals the corpus-recomputed BM25 ranking (the driver oracle's math)") {
    val root = freshIndex()
    val got = LexIndex.search(spark, root, Seq("vector", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == 10)
    // ranks are 1..10 in strictly non-increasing score order
    assert(got.map(_._3).toSeq == (1 to 10))
    assert(got.sliding(2).forall(p => p(0)._2 > p(1)._2 ||
      (p(0)._2 == p(1)._2 && p(0)._1 < p(1)._1)))
    // determinism: a second search is byte-identical
    val again = LexIndex.search(spark, root, Seq("vector", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == again.toSeq)
  }

  test("unknown terms contribute nothing; empty term list returns no rows") {
    val root = freshIndex()
    val base = LexIndex.search(spark, root, Seq("vector"), k = 5).collect()
    val withJunk = LexIndex.search(spark, root,
      Seq("vector", "zzzznotaword"), k = 5).collect()
    assert(base.map(_.getLong(0)).toSeq == withJunk.map(_.getLong(0)).toSeq)
    assert(LexIndex.search(spark, root, Seq.empty, k = 5).count() == 0)
  }

  test("the query reads only its terms' postings: tpfx prunes directories, token IN pushes to the scan") {
    val root = freshIndex()
    val p = LexIndex.search(spark, root, Seq("vector", "merge"), k = 10)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters") && p.contains("In(token"),
      s"term filter not pushed to the scan:\n$p")
    // directory-level pruning: the terms' first letters reach the
    // PARTITION filter, so only tpfx=v / tpfx=m dirs are opened
    assert(p.contains("PartitionFilters") && p.contains("tpfx"),
      s"tpfx partition pruning missing from the plan:\n$p")
    // and the physical layout really is prefix-partitioned
    val v = graft.streaming.StateCommit.currentVersion(spark, root).get
    val dirs = new java.io.File(s"$root/gen-$v/postings").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("tpfx=")), dirs.toString)
  }

  test("rebuild publishes atomically: the old snapshot serves until the commit lands") {
    val root = freshIndex()
    val before = LexIndex.search(spark, root, Seq("vector"), k = 5)
      .collect().map(_.getLong(0)).toSeq
    // rebuild over half the corpus — a reader holding the OLD version
    // is unaffected mid-build; after commit, a fresh search reflects it
    LexIndex.build(spark, docs.where(col("doc_id") % 2 === 0), root)
    val after = LexIndex.search(spark, root, Seq("vector"), k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(after.forall(_ % 2 == 0), s"rebuilt index still serves odd docs: $after")
    assert(before.exists(_ % 2 == 1), "fixture too weak: old top-5 all even")
  }

  test("hybrid is the exact integer RRF of its two input rankings") {
    val root = freshIndex()
    val emb = catalog.Catalog.embeddings(spark, sfDir)
    val fused = LexIndex.hybrid(spark, root, Seq("vector", "merge"),
      emb, queryVecId = 0L, k = 10, poolK = 20).collect()
    assert(fused.length == 10)
    fused.foreach { r =>
      val (lexR, vecR) = (Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]))
      val expect = lexR.map(x => 1000000L / (60 + x)).getOrElse(0L) +
        vecR.map(x => 1000000L / (60 + x)).getOrElse(0L)
      assert(r.getLong(3) == expect, s"RRF mismatch on row $r")
      assert(lexR.isDefined || vecR.isDefined)
    }
    // fused order is (rrf desc, doc_id)
    val scores = fused.map(r => (r.getLong(3), r.getLong(0)))
    assert(scores.toSeq == scores.sortBy { case (s, d) => (-s, d) }.toSeq)
  }

  test("multi-query hybridAnn fuses per qid — identical to the per-query loop (round-15)") {
    // the round-14 require(nq == 1) + count() action are retired: the
    // RRF join carries qid, so batching N queries is one job and each
    // qid's fused top-k must equal what a single-query call returns.
    val root = freshIndex()
    val emb = catalog.Catalog.embeddings(spark, sfDir)
    val annRoot = Files.createTempDirectory("lexha_ann_").toString
    graft.operators.AnnIndex.build(emb, annRoot, nCells = 8)
    val qids = Seq(0L, 5L, 9L)
    def queriesOf(ids: Seq[Long]) = emb.where(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val terms = Seq("vector", "merge", "spark")
    val batched = LexIndex.hybridAnn(spark, root, terms, annRoot,
        queriesOf(qids), k = 10, poolK = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), r.getLong(4))).toSet
    val looped = qids.flatMap(q =>
      LexIndex.hybridAnn(spark, root, terms, annRoot,
          queriesOf(Seq(q)), k = 10, poolK = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)), r.getLong(4)))).toSet
    assert(batched.nonEmpty && batched.map(_._1) == qids.toSet)
    assert(batched == looped, "batched fusion diverged from per-query loop")
  }

  test("searchMany equals per-qid search, one index scan (round-15)") {
    val root = freshIndex()
    val termsByQid = Seq(7L -> Seq("vector", "merge"),
      42L -> Seq("spark"), 99L -> Seq("vector", "spark", "draft"))
    val many = LexIndex.searchMany(spark, root, termsByQid, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    val loop = termsByQid.flatMap { case (q, ts) =>
      LexIndex.search(spark, root, ts, k = 10)
        .collect().map(r => (q, r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    assert(many.sorted == loop.sorted,
      "batched BM25 diverged from the per-query search")
    assert(many.map(_._1).distinct.sorted == Seq(7L, 42L, 99L))
  }

  test("incremental ingest equals a from-scratch rebuild row-for-row") {
    import org.apache.spark.sql.functions._
    val rootInc = Files.createTempDirectory("lex_inc_").toString
    val rootFull = Files.createTempDirectory("lex_full_").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 3 =!= 0), rootInc)
    LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 0), rootInc)
    LexIndex.build(spark, docs, rootFull)
    for (terms <- Seq(Seq("vector"), Seq("vector", "merge", "spark"))) {
      val inc = LexIndex.search(spark, rootInc, terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val full = LexIndex.search(spark, rootFull, terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(inc == full, s"terms=$terms: incremental diverged from rebuild")
    }
    // and a second ingest stacks another generation, still exact
    val rootInc2 = Files.createTempDirectory("lex_inc2_").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 3 === 1), rootInc2)
    LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 2), rootInc2)
    LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 0), rootInc2)
    val inc2 = LexIndex.search(spark, rootInc2, Seq("vector", "merge"), k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val full2 = LexIndex.search(spark, rootFull, Seq("vector", "merge"), k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(inc2 == full2, "two stacked generations diverged from rebuild")
  }

  test("ingest collapses an at-least-once double-delivery: stats and search equal a single-copy ingest") {
    import org.apache.spark.sql.functions._
    // round-11 review: a NEW doc re-delivered twice inside one trigger
    // window must not double its token counts, n_docs and sum_dl
    val root = Files.createTempDirectory("lex_ingdup_").toString
    LexIndex.build(spark, docs, root)
    val fresh = (900001L, "zanzibar vectors merge in this brand new doc")
    LexIndex.upsert(spark, Seq(fresh, fresh).toDF("doc_id", "text"), root)
    val ref = Files.createTempDirectory("lex_ingref_").toString
    LexIndex.build(spark, docs, ref)
    LexIndex.upsert(spark, Seq(fresh).toDF("doc_id", "text"), ref)
    def stats(r: String): Seq[Long] = {
      val v = graft.streaming.StateCommit.currentVersion(spark, r).get
      val row = StateCommit.metaTable(spark, r, v, LexIndex.metaSchema, "stats").head()
      Seq(row.getLong(0), row.getLong(1), row.getLong(2))
    }
    assert(stats(root) == stats(ref),
      s"double-delivered ingest skewed stats: ${stats(root)} vs ${stats(ref)}")
    def rows(r: String) = LexIndex.search(spark, r,
      Seq("vector", "zanzibar", "merge"), k = 20)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
    assert(rows(root) == rows(ref),
      "double-delivered ingest diverged from the single-copy index")
    // and two VERSIONS of one new doc in one ingest batch: seq wins
    val v1 = (900002L, 1L, "first draft wording here")
    val v2 = (900002L, 2L, "zanzibar second final wording")
    LexIndex.upsert(spark, Seq(v1, v2).toDF("doc_id", "seq", "text"), root,
      seqCol = "seq")
    LexIndex.upsert(spark,
      Seq((900002L, 2L, "zanzibar second final wording"))
        .toDF("doc_id", "seq", "text"), ref, seqCol = "seq")
    assert(stats(root) == stats(ref), "versioned ingest batch skewed stats")
    assert(rows(root) == rows(ref),
      "versioned ingest batch diverged from the winner-only index")
    val draft = LexIndex.search(spark, root, Seq("draft"), k = 20)
      .collect().map(_.getLong(0)).toSet
    assert(!draft.contains(900002L),
      "the losing version's tokens leaked into the ingest generation")
  }

  test("delete equals a rebuild without the victims, row-for-row; replays and absent ids are no-ops") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_del_").toString
    LexIndex.build(spark, docs, root)
    LexIndex.delete(spark, root,
      docs.where(col("doc_id") % 5 === 0).select("doc_id"))
    val rootWithout = Files.createTempDirectory("lex_delf_").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 5 =!= 0), rootWithout)
    val terms = Seq("vector", "merge", "spark")
    def rows(r: String) = LexIndex.search(spark, r, terms, k = 20)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
    assert(rows(root) == rows(rootWithout),
      "tombstoned delete diverged from rebuild-without-victims")
    assert(rows(root).forall(_._1 % 5 != 0), "a deleted doc still surfaced")

    // a replayed delete, plus ids with no live postings (already dead +
    // never-indexed): stats must not double-subtract
    import spark.implicits._
    LexIndex.delete(spark, root,
      docs.where(col("doc_id") % 5 === 0).select("doc_id")
        .unionByName(Seq(999999L).toDF("doc_id")))
    assert(rows(root) == rows(rootWithout), "re-delete double-subtracted")
  }

  test("delete is metadata-only, and compaction folds the dead rows away and clears tombstones") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_del2_").toString
    val v0 = LexIndex.build(spark, docs, root)
    val genDir = new java.io.File(s"$root/gen-$v0/postings")
    val sizeBefore = genDir.listFiles().map(_.length()).sum
    LexIndex.delete(spark, root,
      docs.where(col("doc_id") % 4 === 0).select("doc_id"))
    assert(genDir.listFiles().map(_.length()).sum == sizeBefore,
      "delete rewrote posting data — it must be metadata-only")

    val terms = Seq("vector", "merge", "spark")
    def rows() = LexIndex.search(spark, root, terms, k = 20)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
    val before = rows()
    val vc = LexIndex.compactGenerations(spark, root)
    assert(rows() == before, "compaction changed the post-delete answer")
    val tombs = StateCommit.metaTable(spark, root, vc, LexIndex.metaSchema, "tombstones")
    assert(tombs.count() == 0, "compaction must clear the tombstones")
    // the compacted generation must not carry the dead rows
    val compacted = spark.read.parquet(s"$root/gen-$vc/postings")
    assert(compacted.where(col("doc_id") % 4 === 0).count() == 0,
      "dead rows survived compaction")
  }

  test("superseded generations GC once outside the retention horizon; retained snapshots keep theirs") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_gc_").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 3 === 0), root)   // gen-1
    LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 1), root)  // gen-2
    LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 2), root)  // gen-3
    def gens() = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName).sorted.toSeq
    assert(gens() == Seq("gen-1", "gen-2", "gen-3"), gens().toString)

    LexIndex.compactGenerations(spark, root) // gen-4 supersedes 1-3, but
    // the retained previous snapshot (snap-3) still references them
    assert(gens().contains("gen-1"), "retained snapshot's generations must survive")

    // the next mutation pushes snap-3 past the retention horizon — the
    // superseded generations become unreachable. Append commits defer
    // the reclaim pass to the periodic sweep at every
    // StateCommit.GcSweepEvery-th version, so append up to it: every
    // append before the sweep leaves gen-1..3 on disk, the sweep
    // version reclaims them.
    val sweepAt = graft.streaming.StateCommit.GcSweepEvery
    var v = 4L
    while (v < sweepAt) {
      v = LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + v * 1000000), root)
      if (v < sweepAt)
        assert(gens().contains("gen-1"), s"v$v swept before the sweep version")
    }
    assert(gens() == (4L to sweepAt).map(g => s"gen-$g"), gens().toString)

    // and the index still answers from what remains
    assert(LexIndex.search(spark, root, Seq("vector"), k = 5).count() == 5)
  }

  test("GC sweep policy: append commits defer the reclaim; the sweep and drop-commits still collect") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_gcsweep_").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 3 === 0), root)   // v1
    LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 1), root)  // v2
    def gens() = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName).sorted.toSeq
    LexIndex.compactGenerations(spark, root)                           // v3 = drop-commit: GCs
    // v3's GC keeps gen-1/2 (still referenced by retained snap-2)
    assert(gens() == Seq("gen-1", "gen-2", "gen-3"), gens().toString)
    // v4 append: snap-2 leaves retention, gen-1/2 orphan — but the
    // append defers the pass (bounded transient leak, by design)
    LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 2)
      .withColumn("doc_id", col("doc_id") + 500000), root)
    assert(gens().contains("gen-1"),
      "append commit should have deferred the GC pass")
    // ...and the next drop-commit (or the GcSweepEvery-th version) reclaims
    LexIndex.compactGenerations(spark, root)                           // v5
    val after = gens()
    assert(!after.contains("gen-1") && !after.contains("gen-2"),
      s"drop-commit failed to sweep the orphans: $after")
    assert(LexIndex.search(spark, root, Seq("vector"), k = 5).count() == 5)
  }

  test("re-ingesting a deleted doc resurrects it with the new content, exactly") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_del3_").toString
    LexIndex.build(spark, docs, root)
    LexIndex.delete(spark, root,
      docs.where(col("doc_id") % 6 === 0).select("doc_id"))
    LexIndex.upsert(spark, docs.where(col("doc_id") % 6 === 0), root)
    val rootFull = Files.createTempDirectory("lex_del3f_").toString
    LexIndex.build(spark, docs, rootFull)
    val terms = Seq("vector", "merge", "spark")
    def rows(r: String) = LexIndex.search(spark, r, terms, k = 20)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
    assert(rows(root) == rows(rootFull),
      "delete-then-reingest diverged from the full rebuild")
  }

  test("a generation without the tpfx partition column is refused, files untouched") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_mix_").toString
    val v1 = LexIndex.build(spark, docs.where(col("doc_id") % 2 === 0), root)
    LexIndex.upsert(spark, docs.where(col("doc_id") % 2 =!= 0), root)
    // downgrade gen-1 to the pre-tpfx layout (flat files, no partition
    // column) — the on-disk shape an index built by older code has
    val g1 = new org.apache.hadoop.fs.Path(s"$root/gen-$v1/postings")
    val fs = g1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val flatTmp = new org.apache.hadoop.fs.Path(s"$root/_flat_tmp")
    spark.read.parquet(g1.toString).select("token", "doc_id", "tf", "dl")
      .write.parquet(flatTmp.toString)
    fs.delete(g1, true)
    assert(fs.rename(flatTmp, g1))
    val e = assertRefused(root) {
      LexIndex.search(spark, root, Seq("vector", "merge", "spark"), k = 20)
        .collect()
    }
    assert(e.getMessage.contains(s"gen-$v1") && e.getMessage.contains("tpfx"),
      e.getMessage)
    assertRefused(root)(LexIndex.compactGenerations(spark, root))
  }

  test("a generation without its docs table is refused, files untouched") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_nodocs_").toString
    val v1 = LexIndex.build(spark, docs.where(col("doc_id") % 2 === 0), root)
    LexIndex.upsert(spark, docs.where(col("doc_id") % 2 =!= 0), root)
    // the pre-docs-table layout: postings only, no gen-1/docs
    val d1 = new org.apache.hadoop.fs.Path(s"$root/gen-$v1/docs")
    assert(d1.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(d1, true))
    val e = assertRefused(root) {
      LexIndex.delete(spark, root,
        docs.where(col("doc_id") % 5 === 0).select("doc_id"))
    }
    assert(e.getMessage.contains(s"gen-$v1") && e.getMessage.contains("docs"),
      e.getMessage)
  }

  test("searchAt: a retained prior snapshot answers exactly what it answered when current") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_tt_").toString
    val v1 = LexIndex.build(spark, docs.where(col("doc_id") % 2 === 0), root)
    val terms = Seq("vector", "merge", "spark")
    val asCurrent = LexIndex.search(spark, root, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    LexIndex.upsert(spark, docs.where(col("doc_id") % 2 =!= 0), root)
    // the current answer has moved; the retained v1 answer has not
    val atV1 = LexIndex.searchAt(spark, root, terms, v1, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(atV1 == asCurrent, "time-traveled search drifted")
    assert(LexIndex.search(spark, root, terms, k = 20)
      .collect().map(_.getLong(0)).toSeq != atV1.map(_._1),
      "fixture too weak: ingest did not change the ranking")
    // a GC'd / never-committed version fails loudly
    intercept[IllegalArgumentException] {
      LexIndex.searchAt(spark, root, terms, v1 + 100, k = 5)
    }
  }

  test("upsert updates a LIVE doc atomically: search equals a rebuild with the new content") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_ups_").toString
    LexIndex.build(spark, docs, root)
    // update every doc_id % 11 == 3 in place, the routine curation event
    val updated = docs.where(col("doc_id") % 11 === 3)
      .select(col("doc_id"),
        concat(col("text"), lit(" freshly revised vector text")).as("text"))
    LexIndex.upsert(spark, updated, root)
    val rootRef = Files.createTempDirectory("lex_upsf_").toString
    LexIndex.build(spark,
      docs.select(col("doc_id"),
        when(col("doc_id") % 11 === 3,
          concat(col("text"), lit(" freshly revised vector text")))
          .otherwise(col("text")).as("text")),
      rootRef)
    val terms = Seq("vector", "merge", "spark")
    def rows(r: String) = LexIndex.search(spark, r, terms, k = 20)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
    assert(rows(root) == rows(rootRef),
      "upsert diverged from rebuild-with-updated-corpus")

    // a replayed upsert of the same content is idempotent on the
    // search: old rows die, identical new ones land
    LexIndex.upsert(spark, updated, root)
    assert(rows(root) == rows(rootRef), "repeated upsert double-counted")
  }

  test("upsert handles every membership state: new ids ingest, deleted ids resurrect") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_upm_").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 4 =!= 0), root)
    LexIndex.delete(spark, root,
      docs.where(col("doc_id") % 8 === 1).select("doc_id"))
    // one upsert batch mixing: brand-new ids (% 4 == 0), deleted ids
    // (% 8 == 1, resurrect with changed text), and live ids (% 8 == 5,
    // update in place)
    val batch = docs.where(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") % 8 === 1)
        .select(col("doc_id"), concat(col("text"), lit(" resurrected")).as("text")))
      .unionByName(docs.where(col("doc_id") % 8 === 5)
        .select(col("doc_id"), concat(col("text"), lit(" updated")).as("text")))
    LexIndex.upsert(spark, batch, root)
    val rootRef = Files.createTempDirectory("lex_upmf_").toString
    LexIndex.build(spark,
      docs.select(col("doc_id"),
        when(col("doc_id") % 8 === 1, concat(col("text"), lit(" resurrected")))
          .when(col("doc_id") % 8 === 5, concat(col("text"), lit(" updated")))
          .otherwise(col("text")).as("text")),
      rootRef)
    val terms = Seq("vector", "merge", "spark")
    def rows(r: String) = LexIndex.search(spark, r, terms, k = 20)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
    assert(rows(root) == rows(rootRef),
      "mixed-membership upsert diverged from the reference rebuild")
  }

  test("deleting a ZERO-TOKEN doc subtracts its n_docs contribution exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a corpus with docs that tokenize to NOTHING ([a-z]+ finds no
    // match) — invisible to postings, present only in the doc table
    val corpus = docs.select("doc_id", "text").unionByName(
      Seq((900001L, "12345 !!! 678"), (900002L, "??? 42"))
        .toDF("doc_id", "text"))
    val root = Files.createTempDirectory("lex_zt_").toString
    LexIndex.build(spark, corpus, root)
    LexIndex.delete(spark, root, Seq(900001L, 900002L).toDF("doc_id"))
    val rootRef = Files.createTempDirectory("lex_ztf_").toString
    LexIndex.build(spark, docs, rootRef)
    val terms = Seq("vector", "merge", "spark")
    def rows(r: String) = LexIndex.search(spark, r, terms, k = 20)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
    // n_docs feeds every idf: if the zero-token victims stayed counted,
    // every score would differ from the rebuild-without-them
    assert(rows(root) == rows(rootRef),
      "zero-token delete left n_docs inflated (round-10 blind spot)")
  }

  test("tombstones stay churn-bounded: repeated sweeps with overlapping/bogus ids add no rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("lex_tb_").toString
    LexIndex.build(spark, docs, root)
    def tombRows(): Long = {
      val v = graft.streaming.StateCommit.currentVersion(spark, root).get
      StateCommit.metaTable(spark, root, v, LexIndex.metaSchema, "tombstones").count()
    }
    val sweep = docs.where(col("doc_id") % 9 === 0).select("doc_id")
    LexIndex.delete(spark, root, sweep)
    val afterFirst = tombRows()
    assert(afterFirst > 0, "fixture too weak: nothing deleted")
    // the same takedown list again, plus ids that were never indexed:
    // zero LIVE victims -> zero new tombstone rows (round-10 advice)
    LexIndex.delete(spark, root,
      sweep.unionByName(Seq(777777L, 888888L).toDF("doc_id")))
    assert(tombRows() == afterFirst,
      s"overlapping sweep grew tombstones: $afterFirst -> ${tombRows()}")
  }

  test("a CDC batch with TWO versions of one doc collapses to last-wins — no posting union, no double n_docs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("lex_dup_").toString
    LexIndex.build(spark, docs, root)
    // one micro-batch carrying BOTH edits of doc 3 (two versions inside
    // a trigger window) — seq orders them, so v2 must win outright:
    // pre-fix, batchParts unioned both versions' tokens and counted the
    // doc twice in n_docs
    val batch = Seq(
      (3L, 1L, "first draft of the revised vector text"),
      (3L, 2L, "zanzibar final revision only")).toDF("doc_id", "seq", "text")
    LexIndex.upsert(spark, batch, root, seqCol = "seq")
    val rootRef = Files.createTempDirectory("lex_dupf_").toString
    LexIndex.build(spark,
      docs.select(col("doc_id"),
        when(col("doc_id") === 3, lit("zanzibar final revision only"))
          .otherwise(col("text")).as("text")),
      rootRef)
    val terms = Seq("vector", "zanzibar", "draft", "merge")
    def rows(r: String) = LexIndex.search(spark, r, terms, k = 20)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
    assert(rows(root) == rows(rootRef),
      "duplicate-doc batch diverged from last-wins rebuild")
    // phantom token from the LOSING version must not match doc 3
    val stale = LexIndex.search(spark, root, Seq("draft"), k = 20)
      .collect().map(_.getLong(0)).toSet
    val staleRef = LexIndex.search(spark, rootRef, Seq("draft"), k = 20)
      .collect().map(_.getLong(0)).toSet
    assert(stale == staleRef, "stale version's tokens leaked into the index")
    // n_docs must equal the reference's exactly (pre-fix: off by one)
    def nDocs(r: String): Long = {
      val v = graft.streaming.StateCommit.currentVersion(spark, r).get
      StateCommit.metaTable(spark, r, v, LexIndex.metaSchema, "stats").head().getLong(0)
    }
    assert(nDocs(root) == nDocs(rootRef), "duplicate batch inflated n_docs")
    // without a seq column the collapse is deterministic: two identical
    // upserts of an unordered dup batch agree with each other
    val unordered = Seq((5L, "gamma beta"), (5L, "alpha omega"))
      .toDF("doc_id", "text")
    LexIndex.upsert(spark, unordered, root)
    val first = rows(root)
    LexIndex.upsert(spark, unordered, root)
    assert(rows(root) == first, "unordered dup collapse was not deterministic")
  }

  test("generation compaction is content-neutral: search byte-identical, manifest shrinks to one") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("lex_cpt_").toString
    LexIndex.build(spark, docs.where(col("doc_id") % 3 === 0), root)
    LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 1), root)
    LexIndex.upsert(spark, docs.where(col("doc_id") % 3 === 2), root)
    val terms = Seq("vector", "merge", "spark")
    val before = LexIndex.search(spark, root, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

    val v = LexIndex.compactGenerations(spark, root)
    val manifest = StateCommit.metaTable(spark, root, v, LexIndex.metaSchema, "manifest")
      .collect().map(_.getLong(0)).toSeq
    assert(manifest == Seq(v), s"manifest not compacted: $manifest")
    val after = LexIndex.search(spark, root, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(after == before, "compaction changed search results")
  }
}
