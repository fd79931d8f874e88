package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.operators.{AnnIndex, AnnIndexPq, DedupIndex, LexIndex,
  SemDedupIndex}
import graft.streaming.StateCommit

/** Kill points of the persisted index roots: the three tombstoned ones
  * (DedupIndex, SemDedupIndex, LexIndex), which publish through
  * [[graft.streaming.GenerationalTable]], and the two cell-entries ones
  * (AnnIndex, AnnIndexPq), which publish through
  * [[graft.streaming.CellTable]]; each commits with one [[StateCommit]]
  * pointer swap. A crash after a mutation's generation and meta writes and
  * before its swap is simulated by writing `CURRENT` back to the
  * previous version: the public read must answer as before the
  * mutation, and re-running the mutation must answer as an
  * uninterrupted run did. The build-and-search-only AnnIndexPq is
  * mutated by a rebuild over a larger corpus.
  */
class IndexKillPointSpec extends SparkSpec {

  private def rollBack(root: String, v: Long): Unit =
    StateCommit.writeSmallFile(spark.sparkContext.hadoopConfiguration,
      s"$root/CURRENT", v.toString)

  private lazy val docs = Catalog.documents(spark, sfDir)
  private lazy val emb = Catalog.embeddings(spark, sfDir)

  /** One index family: `build` a fresh root, mutate it by each of its
    * named `mutations`, and `read` it through its public query as sorted
    * rows. */
  private case class Family(name: String, build: String => Unit,
      mutations: Seq[(String, String => Unit)], read: String => Seq[String])

  private def upsertDelete(upsert: String => Unit, delete: String => Unit) =
    Seq("upsert" -> upsert, "delete" -> delete)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // the probe docs' text re-posted under fresh ids: every probe doc
  // turns likely_exact once the upsert lands
  private def dedupProbe = docs.where(col("doc_id") % 10 >= 8)
  private val dedup = Family("DedupIndex",
    root => DedupIndex.build(docs.where(col("doc_id") % 10 < 8), root),
    upsertDelete(
      root => DedupIndex.upsert(spark, root,
        dedupProbe.withColumn("doc_id", col("doc_id") + 1000000L)),
      root => DedupIndex.delete(spark, root,
        docs.where(col("doc_id") % 10 < 4).select("doc_id"))),
    root => rows(DedupIndex.classifyBatch(spark, root, dedupProbe)))

  private def incoming = emb.where(col("vec_id") % 10 >= 8)
  private val semDedup = Family("SemDedupIndex",
    root => SemDedupIndex.build(emb.where(col("vec_id") % 10 < 8), root),
    upsertDelete(
      root => SemDedupIndex.upsert(spark, root,
        incoming.withColumn("vec_id", col("vec_id") + 1000000L)),
      root => SemDedupIndex.delete(spark, root,
        emb.where(col("vec_id") % 10 < 4).select("vec_id"))),
    root => rows(SemDedupIndex.probe(spark, root, incoming, threshold = 0.35)))

  private val lex = Family("LexIndex",
    root => LexIndex.build(spark, docs, root),
    upsertDelete(
      root => LexIndex.upsertBatch(spark,
        docs.where(col("doc_id") % 5 === 0)
          .withColumn("text", lit("vector merge spark vector")),
        root, batchId = 1L),
      root => LexIndex.delete(spark, root,
        docs.where(col("doc_id") % 4 === 0).select("doc_id"))),
    root => rows(LexIndex.searchMany(spark, root,
      Seq(1L -> Seq("vector", "merge"), 2L -> Seq("spark", "draft")), k = 10)))

  // the vectors outside the build slice, then a delete of 40% of it: both
  // move the neighbours of the first eight vectors
  private def annQueries = emb.where(col("vec_id") < 8)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))
  private def annBuild = emb.where(col("vec_id") % 10 < 8)
  private def annDelete = emb.where(col("vec_id") % 10 < 4).select("vec_id")
  private val ann = Family("AnnIndex",
    root => AnnIndex.build(annBuild, root, nCells = 8),
    upsertDelete(
      root => AnnIndex.upsert(spark, root, incoming),
      root => AnnIndex.delete(spark, root, annDelete)),
    root => rows(AnnIndex.search(spark, root, annQueries, nProbes = 2, k = 5)))

  private val annPq = Family("AnnIndexPq",
    root => AnnIndexPq.build(annBuild, root),
    Seq("build" -> ((root: String) => AnnIndexPq.build(emb, root))),
    root => rows(AnnIndexPq.search(spark, root, annQueries, nProbes = 2, k = 5)))

  for (f <- Seq(dedup, semDedup, lex, ann, annPq); (op, mutate) <- f.mutations) {
    test(s"${f.name}: a kill before the $op pointer swap reads as the old version; the re-run converges") {
      val root = Files.createTempDirectory(s"killidx_${f.name}_$op").toString
      f.build(root)
      val before = f.read(root)
      mutate(root)
      val v = StateCommit.currentVersion(spark, root).get
      val after = f.read(root)
      assert(after != before, s"the $op left the ${f.name} read unchanged")

      rollBack(root, v - 1)
      assert(f.read(root) == before)

      mutate(root)
      assert(StateCommit.currentVersion(spark, root).contains(v))
      assert(f.read(root) == after)
    }
  }
}
