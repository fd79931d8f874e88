package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.operators.{AnnIndex, AnnIndexPq, DedupIndex}
import graft.streaming.StateCommit

/** Round-13 folded-metadata commit for the persisted-index families
  * (AnnIndex / AnnIndexPq / DedupIndex — LexIndex got the fold in
  * round 12): every mutation publishes ONE `meta` parquet
  * (discriminated by column `t`) instead of 3–6 per-table coalesce(1)
  * writes, because each tiny write is a full driver-side committer
  * round (~0.2–0.3 s at local[32]) and the per-commit constant
  * dominated sim_annpq_store/_rerank and dd_index_* at bench scale.
  *
  * Pinned here:
  *   1. the snapshot dir really is ONE meta table (a regression back
  *      to per-table writes re-grows the constant silently);
  *   2. a PRE-fold snapshot (per-table dirs, hand-unfolded) reads
  *      identically through every public API — the time-travel
  *      compatibility contract of the fold;
  *   3. generation GC still reclaims superseded generations under the
  *      deferred policy (dropped-gens commits trigger it; the retain=2
  *      lag is one commit, as before).
  */
class MetaFoldSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Catalog.embeddings(spark, sfDir)
  private lazy val docs = Catalog.documents(spark, sfDir).limit(300)

  private def queries(n: Int) = emb.where(col("vec_id") < n)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  private def freshRoot(tag: String) =
    Files.createTempDirectory(s"graft_fold_${tag}_").toString

  private def snapDirs(root: String, v: Long): Set[String] = {
    val p = new Path(s"$root/snap-$v")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.getName).toSet
  }

  /** Rewrite snapshot `v` of an index root into the PRE-fold layout:
    * each logical table lands as its own per-table parquet dir (the
    * exact directory names and column orders the pre-round-13 writers
    * used), and the folded meta dir is removed. */
  private def unfold(root: String, v: Long,
      tables: Seq[(String, org.apache.spark.sql.DataFrame)]): Unit = {
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .parquet(StateCommit.tableDir(root, v, name))
    }
    val meta = new Path(StateCommit.tableDir(root, v, "meta"))
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(meta, true), "meta dir did not exist to delete")
  }

  test("AnnIndexPq: one meta table per snapshot; pre-fold snapshots read identically") {
    val root = freshRoot("pq")
    AnnIndexPq.build(emb.where(col("vec_id") < 400), root)
    AnnIndexPq.upsert(spark, root,
      emb.where(col("vec_id") >= 400 && col("vec_id") < 450))
    val v = AnnIndexPq.version(spark, root)
    assert(snapDirs(root, v) == Set("meta"),
      s"folded snapshot must carry ONLY meta/: ${snapDirs(root, v)}")

    val q = queries(6)
    val before = AnnIndexPq.search(spark, root, q, nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    assert(before.nonEmpty, "fixture returned nothing — parity is vacuous")
    val driftBefore = AnnIndexPq.driftReport(spark, root)
    assert(driftBefore.isDefined, "expected a drift report after upsert")

    // hand-unfold the committed snapshot into the pre-fold layout and
    // re-read everything through the public APIs
    unfold(root, v, Seq("coarse", "codebook", "params", "manifest", "stats", "drift")
      .map(t => t -> StateCommit.metaTable(spark, root, v, AnnIndexPq.metaSchema, t)))
    val after = AnnIndexPq.search(spark, root, q, nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    assert(after == before, "pre-fold fallback read a different index")
    assert(AnnIndexPq.driftReport(spark, root) == driftBefore,
      "drift report changed across the unfold")
    // and a mutation OVER a pre-fold snapshot re-folds cleanly
    AnnIndexPq.upsert(spark, root,
      emb.where(col("vec_id") >= 450 && col("vec_id") < 470))
    val v2 = AnnIndexPq.version(spark, root)
    assert(snapDirs(root, v2) == Set("meta"), snapDirs(root, v2).toString)
    assert(AnnIndexPq.driftReport(spark, root).get.nRecent == 70,
      "drift log lost rows across the pre-fold carry")
  }

  test("AnnIndex: one meta table per snapshot; pre-fold snapshots read identically") {
    val root = freshRoot("ann")
    AnnIndex.build(emb.where(col("vec_id") < 400), root, nCells = 8)
    val v = AnnIndex.version(spark, root)
    assert(snapDirs(root, v) == Set("meta"), snapDirs(root, v).toString)
    val q = queries(6)
    val before = AnnIndex.search(spark, root, q, nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    assert(before.nonEmpty)
    unfold(root, v, Seq("centroids", "manifest", "stats", "drift")
      .map(t => t -> StateCommit.metaTable(spark, root, v, AnnIndex.metaSchema, t)))
    val after = AnnIndex.search(spark, root, q, nProbes = 2, k = 5)
      .collect().map(_.toString).toSeq
    assert(after == before, "pre-fold fallback read a different index")
  }

  test("DedupIndex: one meta table per snapshot; the pre-fold layout (t-less meta) reads identically") {
    val root = freshRoot("dd")
    DedupIndex.build(docs, root)
    val v = DedupIndex.version(spark, root)
    assert(snapDirs(root, v) == Set("meta"), snapDirs(root, v).toString)
    val probe = docs.limit(40)
    val before = DedupIndex.classifyBatch(spark, root, probe)
      .collect().map(_.toString).toSeq
    assert(before.nonEmpty)
    // the pre-fold DedupIndex ALSO named its scheme table `meta` — the
    // t-less schema is what the fallback probe discriminates on.
    // Capture the scheme BEFORE the unfold deletes the folded file.
    val (k, r) = DedupIndex.scheme(spark, root)
    unfold(root, v, Seq("manifest", "tombstones")
      .map(t => t -> StateCommit.metaTable(spark, root, v, DedupIndex.metaSchema, t)))
    Seq((k, r)).toDF("k", "r")
      .coalesce(1).write.parquet(StateCommit.tableDir(root, v, "meta"))
    val after = DedupIndex.classifyBatch(spark, root, probe)
      .collect().map(_.toString).toSeq
    assert(after == before, "pre-fold fallback read a different index")
  }

  test("generation GC still reclaims under the deferred policy (rebuild = dropped gens)") {
    val root = freshRoot("gc")
    def genDirs: Set[String] = {
      val p = new Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("gen-")).toSet
    }
    AnnIndex.build(emb.where(col("vec_id") < 200), root, nCells = 4)
    assert(genDirs == Set("gen-1"))
    // rebuild #1: gen-1 stays referenced by the RETAINED snap-1 (the
    // retain=2 lag — in-flight readers may still hold its paths)
    AnnIndex.build(emb.where(col("vec_id") < 200), root, nCells = 4)
    assert(genDirs == Set("gen-1", "gen-2"), genDirs.toString)
    // rebuild #2: snap-1 fell out of retention, gen-1 must reclaim at
    // THIS dropped-gens commit — no per-commit GC pass needed
    AnnIndex.build(emb.where(col("vec_id") < 200), root, nCells = 4)
    assert(genDirs == Set("gen-2", "gen-3"), genDirs.toString)
    val q = queries(4)
    assert(AnnIndex.search(spark, root, q, nProbes = 2, k = 3).count() > 0)
  }
}
