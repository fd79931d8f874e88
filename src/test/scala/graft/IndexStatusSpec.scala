package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.cli.Main
import graft.operators.{AnnIndex, AnnIndexPq, DedupIndex, DsirModel, LexIndex, SemDedupIndex}
import graft.streaming.StateCommit

/** `index-status` names a persisted root's family from its folded meta's
  * columns, matched against each family's declared [[graft.streaming.MetaSchema]]:
  * one tiny root per family, including a churn-free dedup root (no
  * tombstone rows). */
class IndexStatusSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .where(col("doc_id") < 40)
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .where(col("vec_id") < 64)

  private val builds: Seq[(String, String => Unit)] = Seq(
    "lexical" -> (root => LexIndex.build(spark, docs.select("doc_id", "text"), root)),
    "ann" -> (root => AnnIndex.build(emb, root, nCells = 2)),
    "ivf-pq" -> (root => AnnIndexPq.build(emb, root, nCoarse = 2)),
    "semdedup" -> (root => SemDedupIndex.build(emb, root)),
    "dedup" -> (root => DedupIndex.build(docs, root)),
    "dsir" -> (root => DsirModel.fit(docs.where(col("source") =!= "src1"),
      docs.where(col("source") === "src1"), root, buckets = 64)))

  test("the six families' declared column sets are pairwise distinct") {
    val sets = Main.families.map(_._2.columns.map(_._1).toSet)
    assert(sets.distinct.size == 6)
    assert(Main.families.map(_._1) == builds.map(_._1))
  }

  for ((family, build) <- builds) {
    test(s"a $family root is detected as $family and its card prints") {
      val root = Files.createTempDirectory(s"status-$family").toString
      build(root)
      val v = StateCommit.currentVersion(spark, root).get
      assert(Main.familyOf(spark, root, v).map(_._1).contains(family))
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(Main.indexStatus(spark, root, drift = false))
      val lines = out.toString("UTF-8").linesIterator.toSeq
      assert(lines.head == s"family: $family", lines)
      assert(!lines.exists(_.startsWith("snapshot tables:")), lines)
    }
  }
}
