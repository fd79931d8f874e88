package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.StateCommit

/** [[StateCommit.gcGenerations]] layout contract (round-12 advice): GC
  * must resolve the manifest through the SAME read the readers use —
  * the folded `meta`, told by its `t` column. A stray per-table manifest
  * dir (a pre-fold build attempt crashed before commit, then the version
  * was rewritten post-fold) is never consulted, and a snapshot with no
  * folded meta, which the readers refuse, makes GC abort without
  * deleting anything: a guessed manifest would delete generations the
  * committed snapshot may still reference. */
class StateCommitSpec extends SparkSpec {
  import spark.implicits._

  private def commitPointer(root: String, v: Long): Unit =
    Files.writeString(java.nio.file.Paths.get(root, "CURRENT"), v.toString)

  private def genDirs(root: String): Seq[String] =
    new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName).sorted.toSeq

  test("dual-layout snapshot: GC follows the folded meta, not the stale per-table manifest") {
    val root = Files.createTempDirectory("graft-scommit").toString
    // snap-5 carries BOTH layouts: the stale pre-fold manifest points at
    // gen-1; the committed folded meta points at gen-2
    Seq(1L).toDF("gen").write
      .parquet(StateCommit.tableDir(root, 5L, "manifest"))
    Seq(("manifest", 2L)).toDF("t", "gen").write
      .parquet(StateCommit.tableDir(root, 5L, "meta"))
    Seq(0L).toDF("x").write.parquet(s"$root/gen-1")
    Seq(0L).toDF("x").write.parquet(s"$root/gen-2")
    commitPointer(root, 5L)
    StateCommit.gcGenerations(spark, root)
    // gen-2 (folded-referenced) must survive; gen-1 (only the stale
    // manifest referenced it) is reclaimable
    assert(genDirs(root) == Seq("gen-2"), genDirs(root).toString)
  }

  test("GC over a meta with no t column aborts and deletes nothing") {
    // the pre-fold DedupIndex shape: `meta` holds k/r params and the
    // manifest is a per-table dir — a layout the readers refuse
    val root = Files.createTempDirectory("graft-scommit2").toString
    Seq(3L).toDF("gen").write
      .parquet(StateCommit.tableDir(root, 4L, "manifest"))
    Seq((16, 4)).toDF("k", "r").write
      .parquet(StateCommit.tableDir(root, 4L, "meta"))
    Seq(0L).toDF("x").write.parquet(s"$root/gen-2")
    Seq(0L).toDF("x").write.parquet(s"$root/gen-3")
    commitPointer(root, 4L)
    val before = fileTree(root)
    StateCommit.gcGenerations(spark, root)
    assert(genDirs(root) == Seq("gen-2", "gen-3"), genDirs(root).toString)
    assert(fileTree(root) == before)
  }
}
