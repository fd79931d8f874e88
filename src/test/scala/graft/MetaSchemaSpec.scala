package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.operators.{AnnIndex, AnnIndexPq, DedupIndex, DsirModel,
  LexIndex, SemDedupIndex}
import graft.store.ParquetVectorStore
import graft.streaming.{MetaSchema, StateCommit}

/** The folded `snap-v/meta` parquet of every persisted root keeps one
  * layout: each family's first snapshot carries exactly these column
  * names, types and order (`t` first, then the family's column superset
  * in first-declared order). A [[MetaSchema]] that declares one column
  * with two types fails at construction.
  */
class MetaSchemaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Catalog.embeddings(spark, sfDir)
  private lazy val docs = Catalog.documents(spark, sfDir).limit(200)

  private def freshRoot(tag: String) =
    Files.createTempDirectory(s"graft_meta_${tag}_").toString

  /** (name, type) of snapshot 1's folded meta, in file order. */
  private def metaLayout(root: String): Seq[(String, String)] =
    spark.read.parquet(StateCommit.tableDir(root, 1L, "meta")).schema.fields
      .map(f => f.name -> f.dataType.simpleString).toSeq

  test("AnnIndex's folded meta keeps its column list") {
    val root = freshRoot("ann")
    AnnIndex.build(emb.where(col("vec_id") < 200), root, nCells = 4)
    assert(metaLayout(root) == Seq("t" -> "string",
      "centroid_id" -> "bigint", "ce" -> "array<double>",
      "cell" -> "string", "gen" -> "bigint",
      "build_mean_cos" -> "double", "n" -> "bigint",
      "seq" -> "bigint", "mean_cos" -> "double"))
  }

  test("AnnIndexPq's folded meta keeps its column list") {
    val root = freshRoot("pq")
    AnnIndexPq.build(emb.where(col("vec_id") < 200), root, nCoarse = 4)
    assert(metaLayout(root) == Seq("t" -> "string",
      "ccell" -> "bigint", "cce" -> "array<double>",
      "blk" -> "int", "cid" -> "bigint", "ce" -> "array<double>",
      "n_coarse" -> "int", "m" -> "int", "sub_dim" -> "int",
      "n_centroids" -> "int",
      "cell" -> "string", "gen" -> "bigint",
      "build_mean_err_nano" -> "double", "n" -> "bigint",
      "seq" -> "bigint", "mean_err_nano" -> "double"))
  }

  test("DedupIndex's folded meta keeps its column list") {
    val root = freshRoot("dd")
    DedupIndex.build(docs, root)
    assert(metaLayout(root) == Seq("t" -> "string",
      "k" -> "int", "r" -> "int", "gen" -> "bigint", "n_docs" -> "bigint",
      "doc_id" -> "bigint", "before_gen" -> "bigint"))
  }

  test("LexIndex's folded meta keeps its column list") {
    val root = freshRoot("lex")
    LexIndex.build(spark, docs, root, nBuckets = 4)
    assert(metaLayout(root) == Seq("t" -> "string",
      "token" -> "string", "df" -> "bigint",
      "n_docs" -> "bigint", "sum_dl" -> "bigint", "n_dl" -> "bigint",
      "gen" -> "bigint", "last_batch_id" -> "bigint",
      "build_era" -> "bigint", "doc_id" -> "bigint",
      "before_gen" -> "bigint"))
  }

  test("SemDedupIndex's folded meta keeps its column list") {
    val root = freshRoot("sem")
    SemDedupIndex.build(emb.where(col("vec_id") < 200), root)
    assert(metaLayout(root) == Seq("t" -> "string",
      "cell_target" -> "int", "probes" -> "int", "n_cells" -> "int",
      "n_buckets" -> "int", "quant_gen" -> "bigint",
      "gen" -> "bigint", "n_vecs" -> "bigint",
      "vec_id" -> "bigint", "before_gen" -> "bigint"))
  }

  test("DsirModel's folded meta keeps its column list") {
    val root = freshRoot("dsir")
    DsirModel.fit(docs, docs.limit(20), root, buckets = 256)
    assert(metaLayout(root) == Seq("t" -> "string",
      "bucket" -> "bigint", "micro" -> "bigint",
      "buckets" -> "int", "nt" -> "bigint", "nr" -> "bigint"))
  }

  test("ParquetVectorStore's folded meta keeps its column list") {
    val root = freshRoot("store")
    new ParquetVectorStore(spark, root, nBuckets = 4).upsert(
      Seq(("site-1:product-7:chunk-0", Seq(0.1f, 0.2f), 1, 7L, "SKU-7",
        "https://x", "2024-01-01", "sha256:x", Seq("title")))
        .toDF("id", "values", "site_id", "product_id", "sku", "url",
          "updated_at", "fingerprint", "fields"))
    assert(metaLayout(root) == Seq("t" -> "string",
      "bucket" -> "int", "gen" -> "bigint",
      "n_buckets" -> "int", "site_buckets" -> "boolean"))
  }

  test("a MetaSchema declaring one column with two types fails at construction") {
    val e = intercept[IllegalArgumentException](MetaSchema(
      "stats" -> Seq("n" -> "long"),
      "drift" -> Seq("seq" -> "long", "n" -> "double")))
    assert(e.getMessage.contains("meta column n"), e.getMessage)
    // the same column at one type in two tables is declared once
    val ok = MetaSchema("stats" -> Seq("n" -> "long"),
      "drift" -> Seq("seq" -> "long", "n" -> "long"))
    assert(ok.columns == Seq("n" -> "long", "seq" -> "long"))
    assert(ok.cols("drift") == Seq("seq", "n"))
  }
}
