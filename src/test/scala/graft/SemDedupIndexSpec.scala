package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{SemDedupIndex, Similarity}
import graft.streaming.StateCommit

/** Persisted semantic-dedup index (round-15 ask #1): probe over a
  * fresh index is row-identical to the in-query cells operator, the
  * quantizer trains once (mutations never retrain), tombstones /
  * compaction / time travel follow the family contract, and the
  * streaming ingester is replay-safe.
  */
class SemDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  // the SemanticDedupSpec fixture: 3 tight clusters of 4 (cos ~0.9999)
  // + 4 well-separated singletons, distinct-frequency sinusoid centers
  private def center(c: Int): Array[Float] =
    Array.tabulate(16)(j => (math.sin((c + 1) * (j + 0.7)) * 10).toFloat)
  private def fixture: DataFrame = {
    val clustered = (0 until 12).map { i =>
      val p = center(i % 3).zipWithIndex.map { case (v, j) =>
        v + (math.cos(i * 13 + j) * 0.01).toFloat
      }
      (i.toLong, p)
    }
    val singles = (0 until 4).map(s => ((12 + s).toLong, center(4 + s)))
    (clustered ++ singles).toDF("vec_id", "embedding")
  }
  private def perturbed(of: Int, id: Long): (Long, Array[Float]) =
    (id, center(of).map(v => v + 0.005f))

  private def verdictRows(df: DataFrame): Seq[(Long, Long, Option[Double], Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.get(2)).map(_.asInstanceOf[Double]), r.getInt(3))).toSeq

  test("probe over a fresh index ≡ the in-query cells operator, row for row (sf0.001 corpus)") {
    // the done-criterion: the exact (incoming, corpus) split the gated
    // sim_semdedup_inc query runs, on the REAL embeddings table — the
    // persisted path must reproduce the in-query operator bit-for-bit
    // (same quantizer training, same assignment tie-breaks, parquet
    // round-trip exact on floats)
    val emb = catalog.Catalog.embeddings(spark, sfDir)
    val corpus = emb.where(col("vec_id") % 10 < 8)
    val incoming = emb.where(col("vec_id") % 10 >= 8)
    val root = Files.createTempDirectory("semdd_eq_").toString
    SemDedupIndex.build(corpus, root)
    val persisted = verdictRows(
      SemDedupIndex.probe(spark, root, incoming, threshold = 0.35))
    val inQuery = verdictRows(
      Similarity.semanticDedupIncrementalCells(incoming, corpus,
        threshold = 0.35))
    assert(persisted.nonEmpty && persisted == inQuery,
      s"persisted diverged from in-query: " +
        s"${persisted.diff(inQuery).take(3)} vs ${inQuery.diff(persisted).take(3)}")
  }

  test("mutations never retrain: upserted vectors route through the stored quantizer") {
    val root = Files.createTempDirectory("semdd_up_").toString
    SemDedupIndex.build(fixture, root)
    // batch A: one twin of corpus cluster 0 + one genuinely new vector
    val batchA = Seq(perturbed(0, 100L), (101L, center(9))).toDF("vec_id", "embedding")
    val vA = verdictRows(SemDedupIndex.probe(spark, root, batchA, threshold = 0.99))
      .map(t => t._1 -> t).toMap
    assert(vA(100L)._4 == 1 && vA(100L)._3.get > 0.999, vA(100L).toString)
    assert(vA(101L)._4 == 0, vA(101L).toString)
    SemDedupIndex.upsert(spark, root, batchA)
    // batch B: a twin of batch A's NEW vector — found only via the
    // upserted generation, proving the stored quantizer routes fresh
    // corpus rows without retraining
    val batchB = Seq((200L, center(9).map(v => v + 0.004f))).toDF("vec_id", "embedding")
    val vB = verdictRows(SemDedupIndex.probe(spark, root, batchB, threshold = 0.99))
    assert(vB.head._4 == 1 && vB.head._3.get > 0.999,
      s"upserted vector not probeable: ${vB.head}")
    // quantizer identity: the scheme's quant_gen still points at the
    // build generation (no retrain happened on upsert)
    val scheme = StateCommit.metaTable(spark, root,
      SemDedupIndex.version(spark, root), SemDedupIndex.metaSchema, "scheme").head()
    assert(scheme.getLong(4) == 1L,
      s"upsert retrained/moved the quantizer: quant_gen=${scheme.getLong(4)}")
  }

  test("replay convergence: probing an already-upserted batch returns identical verdicts") {
    val root = Files.createTempDirectory("semdd_rp_").toString
    SemDedupIndex.build(fixture, root)
    val batch = Seq(perturbed(0, 100L), (101L, center(9))).toDF("vec_id", "embedding")
    val before = verdictRows(SemDedupIndex.probe(spark, root, batch, threshold = 0.99))
    SemDedupIndex.upsert(spark, root, batch)
    // the replay: same batch probed again — own ids are excluded from
    // the candidate side, so no self-match at cos 1.0 and no drift
    val after = verdictRows(SemDedupIndex.probe(spark, root, batch, threshold = 0.99))
    assert(after == before, "replayed probe diverged from first delivery")
    // re-upsert (the at-least-once second delivery): visible state converges
    SemDedupIndex.upsert(spark, root, batch)
    val again = verdictRows(SemDedupIndex.probe(spark, root, batch, threshold = 0.99))
    assert(again == before, "second delivery changed visible state")
  }

  test("delete tombstones, compact folds (quantizer carried), time travel reproduces") {
    val root = Files.createTempDirectory("semdd_del_").toString
    SemDedupIndex.build(fixture, root)
    val twin = Seq(perturbed(1, 300L)).toDF("vec_id", "embedding")
    val v1 = SemDedupIndex.version(spark, root)
    assert(verdictRows(SemDedupIndex.probe(spark, root, twin,
      threshold = 0.99)).head._4 == 1)
    // delete cluster 1 entirely -> the twin loses all its mates
    SemDedupIndex.delete(spark, root,
      Seq(1L, 4L, 7L, 10L).toDF("vec_id"))
    val afterDel = verdictRows(SemDedupIndex.probe(spark, root, twin,
      threshold = 0.99)).head
    assert(afterDel._4 == 0, s"tombstoned mates still matched: $afterDel")
    // time travel: the pre-delete snapshot still answers the old way
    val atV1 = verdictRows(SemDedupIndex.probeAt(spark, root, twin, v1,
      threshold = 0.99)).head
    assert(atV1._4 == 1, s"time travel lost the pre-delete verdict: $atV1")
    // compact: folds live rows + carries the quantizer; results identical
    val preCompact = verdictRows(SemDedupIndex.probe(spark, root, fixture,
      threshold = 0.99))
    SemDedupIndex.compact(spark, root)
    val postCompact = verdictRows(SemDedupIndex.probe(spark, root, fixture,
      threshold = 0.99))
    assert(postCompact == preCompact, "compaction changed probe results")
    // and the folded snapshot holds exactly the live rows (12 + 4 - 4)
    assert(SemDedupIndex.vectors(spark, root).count() == 12L)
  }

  test("rebuild retrains on the live corpus: probe ≡ in-query over the merged corpus") {
    val root = Files.createTempDirectory("semdd_rb_").toString
    val corpus = fixture
    SemDedupIndex.build(corpus, root)
    val grown = Seq(perturbed(0, 100L), (101L, center(9)),
      (102L, center(10))).toDF("vec_id", "embedding")
    SemDedupIndex.upsert(spark, root, grown)
    SemDedupIndex.rebuild(spark, root)
    val incoming = Seq((500L, center(9).map(v => v + 0.003f)),
      perturbed(2, 501L)).toDF("vec_id", "embedding")
    val persisted = verdictRows(SemDedupIndex.probe(spark, root, incoming,
      threshold = 0.99))
    val merged = corpus.unionByName(grown)
    val inQuery = verdictRows(Similarity.semanticDedupIncrementalCells(
      incoming, merged, threshold = 0.99))
    assert(persisted == inQuery,
      s"rebuild diverged from in-query over the live corpus: $persisted vs $inQuery")
  }

  test("probe reads only its probed cells' buckets (plan-gated pruning)") {
    // the member table is bucketed by cell (cbk = cell mod 1024); a
    // micro-batch's probe must open only its own buckets' directories
    // (cbk IN (…) in PartitionFilters) and push the residual cell IN
    // to the opened files (PushedFilters) — never a full member scan
    // sf0.001's 400-vector corpus trains ~13 cells — enough for a
    // one-vector micro-batch to cover a MINORITY of the cell universe
    // (the round-16 pruneWorthIt coverage gate: pruning only engages
    // when it can actually skip most of the table; the tiny 16-vector
    // fixture's 1-2 cells would legitimately take the lazy plan)
    val root = Files.createTempDirectory("semdd_prune_").toString
    val emb = catalog.Catalog.embeddings(spark, sfDir)
    SemDedupIndex.build(emb.where(col("vec_id") % 10 < 8), root)
    val batch = emb.where(col("vec_id") === 481)
      .select(col("vec_id"), col("embedding"))
    // the candidate stage snaps (localCheckpoint), so the returned plan
    // shows the SCORING scan — whose vbk partition pruning + vec_id
    // pushdown exercise the one shared liveRows prune implementation
    // the member (cbk/cell) instance also goes through
    val plan = SemDedupIndex.probe(spark, root, batch, threshold = 0.99)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("vbk#"),
      s"bucket pruning missing from the probe's scoring scan:\n$plan")
    assert(plan.contains("In(vec_id"),
      s"candidate-id filter not pushed to the vecs scan:\n$plan")
    // and the physical layouts really are bucket-partitioned
    for ((sub, pfx) <- Seq("members" -> "cbk=", "vecs" -> "vbk=")) {
      val dirs = new java.io.File(s"$root/gen-1/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName).toSeq
      assert(dirs.nonEmpty && dirs.forall(_.startsWith(pfx)),
        s"$sub: $dirs")
    }
  }

  test("one training job, two families: the stored artifact serves retrieval AND dedup") {
    // the round-15 stretch: build once, then searchTopK (ANN retrieval)
    // and probe (dedup-at-ingest) both consume the same persisted
    // quantizer + assignments — no second training pass anywhere
    val root = Files.createTempDirectory("semdd_srch_").toString
    SemDedupIndex.build(fixture, root)
    // retrieval: a corpus member's top-1 neighbor is its cluster mate
    val queries = fixture.where(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val hits = SemDedupIndex.searchTopK(spark, root, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(hits.nonEmpty && hits.head._4 == 1)
    assert(Set(3L, 6L, 9L).contains(hits.head._2) && hits.head._3 > 0.999,
      s"top-1 for vector 0 should be a cluster-0 mate at ~1.0: ${hits.head}")
    // determinism: a second search is row-identical
    val again = SemDedupIndex.searchTopK(spark, root, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(hits.toSeq == again.toSeq)
    // retrieval sees upserts through the same stored quantizer
    SemDedupIndex.upsert(spark, root,
      Seq((400L, center(0).map(v => v + 0.002f))).toDF("vec_id", "embedding"))
    val post = SemDedupIndex.searchTopK(spark, root, queries, k = 5)
      .collect().map(_.getLong(1)).toSet
    assert(post.contains(400L), s"upserted neighbor missing from search: $post")
    // and the dedup leg still answers off the same artifact
    val v = verdictRows(SemDedupIndex.probe(spark, root,
      Seq(perturbed(0, 500L)).toDF("vec_id", "embedding"), threshold = 0.99))
    assert(v.head._4 == 1)
  }

  test("drift card: 10x corpus growth past build crosses the rebuild advisory; rebuild clears it") {
    // round-16 ask #3: the frozen quantizer's missing WHEN-to-rebuild
    // signal. Build over a small head, grow the live corpus ~10x via
    // upserts (no retraining), and the cell-occupancy card must cross
    // the spark.graft.semdedup.rebuildAt advisory; a rebuild retrains
    // to ~cellTarget-sized cells and clears it.
    val emb = catalog.Catalog.embeddings(spark, sfDir)
    val root = Files.createTempDirectory("semdd_drift_").toString
    SemDedupIndex.build(emb.where(col("vec_id") < 50), root)
    val fresh = SemDedupIndex.driftCard(spark, root)
    assert(!fresh.rebuildAdvised,
      s"fresh index must not advise a rebuild: $fresh")
    assert(fresh.maxCell <= 4L * fresh.cellTarget,
      s"fresh cells already oversized: $fresh")
    SemDedupIndex.upsert(spark, root, emb.where(col("vec_id") >= 50))
    val grown = SemDedupIndex.driftCard(spark, root)
    assert(grown.memberRows >= 9 * fresh.memberRows)
    assert(grown.nCells == fresh.nCells, "upsert must not retrain")
    assert(grown.oversizedPct > 25.0 && grown.rebuildAdvised,
      s"10x growth over frozen cells must advise: $grown")
    // the knob is the threshold: at 100% the same card stays advisory-off
    spark.conf.set("spark.graft.semdedup.rebuildAt", "100")
    try assert(!SemDedupIndex.driftCard(spark, root).rebuildAdvised)
    finally spark.conf.unset("spark.graft.semdedup.rebuildAt")
    SemDedupIndex.rebuild(spark, root)
    val rebuilt = SemDedupIndex.driftCard(spark, root)
    assert(!rebuilt.rebuildAdvised && rebuilt.nCells > fresh.nCells,
      s"rebuild must retrain to the live corpus: $rebuilt")
  }

  test("drift card: an all-tombstoned index yields the empty card, not an NPE") {
    // sum/percentile_approx/max over zero live member rows all return
    // null; the card must resolve the empty case before dereferencing
    // (index-status calls this unconditionally for any semdedup root)
    val emb = catalog.Catalog.embeddings(spark, sfDir)
    val root = Files.createTempDirectory("semdd_empty_").toString
    SemDedupIndex.build(emb.where(col("vec_id") < 40), root)
    SemDedupIndex.delete(spark, root,
      emb.where(col("vec_id") < 40).select("vec_id"))
    val d = SemDedupIndex.driftCard(spark, root)
    assert(d.memberRows == 0L && d.liveCells == 0L && !d.rebuildAdvised,
      s"empty live set must produce the zero card: $d")
  }

  test("streaming ingest: later batches dedup against earlier ones; crash-replay converges") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("semdd_st_root").toString
    // seed corpus: the quantizer needs training points by design
    SemDedupIndex.build(fixture, root)
    def verdicts(rows: Seq[(Long, Array[Float])]) = verdictRows(
      SemDedupIndex.probe(spark, root, rows.toDF("vec_id", "embedding"),
        threshold = 0.99))
    // probe-then-ingest one micro-batch: the verdicts `rows` get BEFORE
    // they join the index, then one AvailableNow pass of the operator's
    // upsert under a fresh checkpoint folds them in
    def probeThenIngest(rows: Seq[(Long, Array[Float])]) = {
      val got = verdicts(rows)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      input.addData(rows)
      drain(
        input.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding")),
        Files.createTempDirectory("semdd_st_ck").toString)(
        SemDedupIndex.upsert(spark, root, _))
      got
    }
    val batch1 = Seq((100L, center(9)), (101L, center(10)))
    val before = probeThenIngest(batch1)
    assert(before.forall(_._4 == 0), s"first batch must be new: $before")
    // crash-and-lose-the-checkpoint replay of batch 1 under a fresh
    // checkpoint, BEFORE any later batch (an at-least-once replay
    // re-delivers before subsequent offsets commit): own-id exclusion
    // means the already-upserted rows don't self-match, and the
    // re-upserted generation's predecessor is masked by its own
    // tombstones
    assert(probeThenIngest(batch1) == before,
      "replay changed verdict rows")
    // batch 2 against the (converged) index: a twin of batch 1's vector
    // flags through the upserted generation; fresh vectors stay new
    val batch2 = probeThenIngest(Seq((200L, center(9).map(v => v + 0.004f)),
      (201L, center(11)))).map(r => r._1 -> r._4).toMap
    assert(batch2(200L) == 1,
      s"batch-2 twin of batch-1's vector 100 must flag: $batch2")
    assert(batch2(201L) == 0, s"fresh vector misflagged: $batch2")
    val probe = verdicts(Seq((900L, center(9))))
    assert(probe.head._4 == 1, "replayed index lost batch-1 state")
  }

  test("streamed CDC window: the version that lands is the seq winner, not the superseded one") {
    // a window carrying two versions of one vec_id: version 1 of id 300
    // is a near-dup of the seeded cluster while version 2 — the seq
    // winner — is a fresh center; the index must hold version 2.
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("semdd_cdc_root").toString
    val ckpt = Files.createTempDirectory("semdd_cdc_ck").toString
    SemDedupIndex.build(fixture, root)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float], Int)]
    val vecs = input.toDF().select(col("_1").as("vec_id"),
      col("_2").as("embedding"), col("_3").as("seq"))
    input.addData(Seq(
      (300L, center(0).map(v => v + 0.005f), 1), // superseded near-dup
      (300L, center(12), 2)))                    // the landing version
    drain(vecs, ckpt)(SemDedupIndex.upsert(spark, root, _, seqCol = "seq"))
    // the landed row IS version 2: a twin of center(12) flags
    val twin12 = verdictRows(SemDedupIndex.probe(spark, root,
      Seq((901L, center(12).map(v => v + 0.004f)))
        .toDF("vec_id", "embedding"), threshold = 0.99))
    assert(twin12.head._4 == 1, "version 2 missing from the index")
    val twin0 = verdictRows(SemDedupIndex.probe(spark, root,
      Seq((902L, center(0).map(v => v + 0.004f)))
        .toDF("vec_id", "embedding"), threshold = 0.99))
    // center(0) is the seeded cluster — it flags against the CORPUS, so
    // assert on the superseded id instead: id 300's stored embedding
    val stored = SemDedupIndex.vectors(spark, root)
      .where(col("vec_id") === 300L).collect()
    assert(stored.length == 1)
    val e = stored.head.getSeq[Float](1)
    assert(math.abs(e.head - center(12).head) < 1e-6f,
      s"index holds the superseded version: ${e.take(3)}")
    assert(twin0.head._4 == 1) // sanity: the seeded cluster still flags
  }
}
