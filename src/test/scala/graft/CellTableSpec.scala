package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.Catalog
import graft.operators.{AnnIndex, Similarity}
import graft.streaming.{CellTable, StateCommit}

/** The cell-entries format keeps the row types it is given: an index
  * built from `array<double>` embeddings stores doubles, reads them back
  * without narrowing (with a warm or a cold schema cache), and searches
  * them as the in-query operator does; a float upsert into it widens in
  * the read instead of failing. A delete's touched-cell lookup stays
  * above the per-generation union of the read.
  */
class CellTableSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Catalog.embeddings(spark, sfDir)
  private lazy val embD = emb.select(col("vec_id"),
    col("embedding").cast("array<double>").as("embedding"))

  private def queries(n: Int) = embD.where(col("vec_id") < n)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  private def elementType(t: DataType): DataType =
    t.asInstanceOf[ArrayType].elementType

  test("an AnnIndex over array<double> embeddings stores, reads and searches doubles") {
    val dir = Files.createTempDirectory("graft_cells_double").toString
    AnnIndex.build(embD, dir, nCells = 8)
    // the generation on disk holds the input's type, as a plain
    // partitioned write of the assignment would
    assert(elementType(spark.read.parquet(s"$dir/gen-1")
      .schema("embedding").dataType) == DoubleType)
    assert(elementType(AnnIndex.vectors(spark, dir)
      .schema("embedding").dataType) == DoubleType)
    val before = AnnIndex.search(spark, dir, queries(8), nProbes = 1, k = 5)
      .collect().map(_.toString).toSeq
    val want = Similarity.ivfKmeansTopK(embD, nCentroids = 8, nQueries = 8, k = 5)
      .collect().map(_.toString).toSeq
    assert(before == want)

    // same-id re-upserts of unchanged vectors, one double batch and one
    // float batch: the contents and the answers stay the same
    AnnIndex.upsert(spark, dir, embD.where(col("vec_id") < 10))
    AnnIndex.upsert(spark, dir,
      emb.where(col("vec_id") >= 10 && col("vec_id") < 20))
    assert(AnnIndex.version(spark, dir) == 3L)
    val vecs = AnnIndex.vectors(spark, dir)
    assert(elementType(vecs.schema("embedding").dataType) == DoubleType)
    assert(vecs.count() == embD.count())
    val after = AnnIndex.search(spark, dir, queries(8), nProbes = 1, k = 5)
      .collect().map(_.toString).toSeq
    assert(after == before)
  }

  test("a read with a cold schema cache takes a generation's types from its files") {
    val dir = Files.createTempDirectory("graft_cells_cold").toString
    AnnIndex.build(embD.where(col("vec_id") < 40), dir, nCells = 4)
    val warm = AnnIndex.vectors(spark, dir).orderBy("vec_id")
      .collect().map(_.toString).toSeq
    // a new mtime invalidates the generation's cached schema, as a new
    // process reading an existing root has none
    val gen = new File(s"$dir/gen-1")
    assert(gen.setLastModified(gen.lastModified() - 60000L))
    val cold = AnnIndex.vectors(spark, dir)
    assert(elementType(cold.schema("embedding").dataType) == DoubleType)
    assert(cold.orderBy("vec_id").collect().map(_.toString).toSeq == warm)
  }

  test("the delete lookup plans one broadcast of the ids over three live generations") {
    val dir = Files.createTempDirectory("graft_cells_holding").toString
    AnnIndex.build(embD.where(col("vec_id") < 200), dir, nCells = 8)
    // re-upsert two cells' own vectors, one cell per upsert: those cells
    // move to generations 2 and 3, the rest stay in generation 1
    val byCell = AnnIndex.vectors(spark, dir)
    val twoCells = byCell.select("cell").distinct().orderBy("cell")
      .limit(2).collect().map(_.getInt(0))
    twoCells.foreach(c => AnnIndex.upsert(spark, dir,
      byCell.where(col("cell") === c).select("vec_id", "embedding")))
    val v = AnnIndex.version(spark, dir)
    val entries = CellTable.entries(StateCommit.metaRows(spark, dir, v,
      AnnIndex.metaSchema, Seq("manifest"))("manifest"))
    assert(entries.values.toSet == Set(1L, 2L, 3L), entries.toString)

    val victims = byCell.where(col("cell").isin(twoCells.toIndexedSeq: _*))
      .groupBy("cell").agg(min("vec_id").as("vec_id")).select("vec_id")
      .unionByName(Seq(0L, 1L, 2L).toDF("vec_id")).distinct()
      .localCheckpoint()
    def broadcasts(df: DataFrame): Int = "BroadcastExchange".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
    val cells = CellTable("cell", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("cell", IntegerType))))
    // a left-semi lookup is pushed below the per-generation union
    val semi = cells.read(spark, dir, entries)
      .join(victims, Seq("vec_id"), "left_semi").select("cell").distinct()
    assert(broadcasts(semi) == 3, semi.queryExecution.executedPlan.toString)
    val lookup = cells.holding(spark, dir, entries, victims, "vec_id")
    assert(broadcasts(lookup) == 1, lookup.queryExecution.executedPlan.toString)
    assert(lookup.collect().map(_.getInt(0)).toSet ==
      semi.collect().map(_.getInt(0)).toSet)

    // and the delete answers as before: every victim gone, the rest kept
    val ids = victims.collect().map(_.getLong(0)).toSet
    val before = AnnIndex.vectors(spark, dir).orderBy("vec_id")
      .collect().map(_.toString).toSeq
    val kept = AnnIndex.vectors(spark, dir)
      .where(!col("vec_id").isin(ids.toSeq: _*))
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(kept.size < before.size)
    AnnIndex.delete(spark, dir, victims)
    assert(AnnIndex.version(spark, dir) == v + 1)
    assert(AnnIndex.vectors(spark, dir).orderBy("vec_id")
      .collect().map(_.toString).toSeq == kept)
  }
}
