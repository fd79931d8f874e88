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
  *   2. a PRE-fold snapshot (per-table dirs, hand-unfolded) is refused
  *      by every public read and write with the rebuild message, and
  *      its files are left as they were — no writer produces that
  *      layout any more, so no reader keeps a second path for it;
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

  test("AnnIndexPq: one meta table per snapshot; a pre-fold snapshot is refused") {
    val root = freshRoot("pq")
    AnnIndexPq.build(emb.where(col("vec_id") < 400), root)
    val v = AnnIndexPq.version(spark, root)
    assert(snapDirs(root, v) == Set("meta"),
      s"folded snapshot must carry ONLY meta/: ${snapDirs(root, v)}")
    unfold(root, v, Seq("coarse", "codebook", "params", "manifest", "stats", "drift")
      .map(t => t -> StateCommit.metaTable(spark, root, v, AnnIndexPq.metaSchema, t)))
    assertRefused(root) {
      AnnIndexPq.search(spark, root, queries(6), nProbes = 2, k = 5).collect()
    }
  }

  test("AnnIndex: one meta table per snapshot; a pre-fold snapshot is refused") {
    val root = freshRoot("ann")
    AnnIndex.build(emb.where(col("vec_id") < 400), root, nCells = 8)
    val v = AnnIndex.version(spark, root)
    assert(snapDirs(root, v) == Set("meta"), snapDirs(root, v).toString)
    unfold(root, v, Seq("centroids", "manifest", "stats", "drift")
      .map(t => t -> StateCommit.metaTable(spark, root, v, AnnIndex.metaSchema, t)))
    assertRefused(root) {
      AnnIndex.search(spark, root, queries(6), nProbes = 2, k = 5).collect()
    }
  }

  test("DedupIndex: one meta table per snapshot; a pre-fold t-less meta is refused") {
    val root = freshRoot("dd")
    DedupIndex.build(docs, root)
    val v = DedupIndex.version(spark, root)
    assert(snapDirs(root, v) == Set("meta"), snapDirs(root, v).toString)
    // the pre-fold DedupIndex ALSO named its scheme table `meta` — the
    // t-less schema, not the dir's existence, marks the old layout.
    // Capture the scheme BEFORE the unfold deletes the folded file.
    val (k, r) = DedupIndex.scheme(spark, root)
    unfold(root, v, Seq("manifest", "tombstones")
      .map(t => t -> StateCommit.metaTable(spark, root, v, DedupIndex.metaSchema, t)))
    Seq((k, r)).toDF("k", "r")
      .coalesce(1).write.parquet(StateCommit.tableDir(root, v, "meta"))
    assertRefused(root) {
      DedupIndex.classifyBatch(spark, root, docs.limit(40)).collect()
    }
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
