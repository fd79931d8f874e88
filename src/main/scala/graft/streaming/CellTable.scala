package graft.streaming

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  StructField, StructType}

/** The cell-entries layout shared by the roots whose rows are partitioned
  * by one key column ([[graft.operators.AnnIndex]] and
  * [[graft.operators.AnnIndexPq]] by IVF cell,
  * [[graft.store.ParquetVectorStore]] by bucket).
  *
  * Rows live in immutable generations, `gen-v/<key>=<value>/` under the
  * root (see [[StateCommit.genDir]]). Each snapshot's folded meta carries
  * a manifest that maps every live partition value to the ONE generation
  * holding its current rows. A mutation writes only the partitions it
  * touches as a fresh generation and re-points just those entries;
  * untouched partitions keep their entries and are never read or
  * rewritten, and a touched partition that came out empty drops out. The
  * manifest is metadata-sized and read on the driver, so it is also the
  * file-level pruning index: [[read]] lists exactly the partition dirs it
  * is given. The manifest publishes with the snapshot's one
  * [[StateCommit.commit]] pointer swap.
  *
  * `emptySchema` is the schema of a table with no live partition, key
  * included, and its key field gives the key's type on every read. Row
  * types are the data's own: a write stores the columns it is given, and
  * a read takes each generation's column types from that generation's
  * files (an index built from `array<double>` embeddings reads back
  * doubles), so no read pays a schema-inference job or narrows a type.
  */
final case class CellTable(key: String, emptySchema: StructType) {

  private def partDir(root: String, g: Long, value: String) =
    s"${StateCommit.genDir(root, g)}/$key=$value"

  /** `data`'s columns with the key at its declared type. */
  private def withKey(data: StructType): StructType =
    StructType(data.filterNot(_.name == key) :+ emptySchema(key))

  /** Generation `g`'s row schema, cached per generation dir
    * ([[StateCommit.schemaOf]]). A miss reads the footer of one file of
    * partition `value` on the driver: Spark records its row schema
    * there, so no schema-inference job runs. */
  private def genSchema(spark: SparkSession, root: String, g: Long,
      value: String): StructType =
    StateCommit.schemaOf(spark, StateCommit.genDir(root, g)) {
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = new Path(partDir(root, g, value))
      val file = dir.getFileSystem(conf).listStatus(dir)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .minBy(_.getPath.getName)
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(CellTable.SparkRowSchema) finally reader.close()
      withKey(DataType.fromJson(json).asInstanceOf[StructType])
    }

  /** The rows of exactly `entries`' partition dirs: one scan per
    * generation under that generation's basePath (which recovers the key
    * column from the path), unioned; the union widens a column whose
    * type differs between generations. No entries reads as an empty
    * local relation, which the optimizer folds out of joins and unions. */
  def read(spark: SparkSession, root: String,
      entries: Map[String, Long]): DataFrame =
    if (entries.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), emptySchema)
    else entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (g, es) =>
      val values = es.keys.toSeq.sorted
      spark.read.schema(genSchema(spark, root, g, values.head))
        .option("basePath", StateCommit.genDir(root, g))
        .parquet(values.map(partDir(root, g, _)): _*)
    }.reduce(_.unionByName(_))

  /** Write `df` partitioned by the key as generation `v` and return the
    * next manifest — `prior` without the `replaced` values, plus every
    * partition written, pointing at `v` — and whether it dropped a
    * generation `prior` referenced (the commit's GC trigger).
    *
    * Vector columns (`array<float>`, `array<double>`) are written without
    * a dictionary. Dense embeddings are unique floats, so parquet's
    * dictionary attempt always falls back to PLAIN and leaves the same
    * bytes, yet the attempt costs a quarter of the write. */
  def write(root: String, v: Long, df: DataFrame, prior: Map[String, Long],
      replaced: Set[String]): (Map[String, Long], Boolean) = {
    val spark = df.sparkSession
    val dir = StateCommit.genDir(root, v)
    df.write.options(CellTable.noVectorDictionary(df.schema))
      .mode("overwrite").partitionBy(key).parquet(dir)
    StateCommit.noteWrittenSchema(spark, dir, withKey(df.schema))
    val next = prior -- replaced ++
      StateCommit.listPartitionDirs(spark, dir, key).map(_ -> v)
    (next, prior.values.toSet.diff(next.values.toSet).nonEmpty)
  }

  /** The manifest table for a key whose folded-meta type is `keyType`:
    * the [[MetaSchema]] entry every cell-entries family declares. */
  def manifest(keyType: String): (String, Seq[(String, String)]) =
    CellTable.Manifest -> Seq(key -> keyType, "gen" -> "long")

  /** The distinct key values of `entries`' partitions that hold a row
    * whose `id` is in `ids`: the partitions a delete of `ids` touches.
    * An inner join rather than a left-semi join, for the reason
    * [[CellTable.dropKeys]] gives: the optimizer pushes a semi join
    * below the per-generation union of [[read]], one broadcast of `ids`
    * per generation, while the inner join stays above it. A duplicate
    * id only repeats a row that the final distinct drops. */
  def holding(spark: SparkSession, root: String, entries: Map[String, Long],
      ids: DataFrame, id: String): DataFrame =
    read(spark, root, entries).join(ids.select(col(id)), Seq(id))
      .select(key).distinct()

  /** Parquet files per partition of `entries`; 0 for a dir that cannot
    * be listed. */
  def fileCounts(spark: SparkSession, root: String,
      entries: Map[String, Long]): Map[String, Int] =
    entries.map { case (value, g) =>
      val p = new Path(partDir(root, g, value))
      value -> Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
        .getOrElse(0)
    }
}

object CellTable {

  /** The manifest table's name in a snapshot's folded meta. */
  val Manifest = "manifest"

  /** The manifest from its meta rows, (key, gen) as
    * [[StateCommit.metaRows]] returns them. */
  def entries(rows: Seq[Row]): Map[String, Long] =
    rows.map(r => r.get(0).toString -> r.getLong(1)).toMap

  /** Parquet writer options that turn the dictionary off for every
    * top-level `array<float>`/`array<double>` column of `schema`, by the
    * column path Spark's standard list layout gives its elements. */
  private def noVectorDictionary(schema: StructType): Map[String, String] =
    schema.collect {
      case StructField(name, ArrayType(FloatType | DoubleType, _), _, _) =>
        s"parquet.enable.dictionary#$name.list.element" -> "false"
    }.toMap

  /** The footer key under which Spark records a parquet file's row
    * schema as JSON. */
  private val SparkRowSchema = "org.apache.spark.sql.parquet.row.metadata"

  /** `rows` without those whose `key` appears in `keys`: how every
    * family drops replaced or deleted rows from a [[CellTable.read]]. A
    * left-outer join plus null filter rather than a left-anti join: the
    * optimizer pushes an anti join below the per-generation union of
    * [[CellTable.read]], which plans one broadcast of `keys` per
    * generation; the outer join stays above the union. A duplicate key
    * cannot duplicate a kept row, since a kept row matched nothing. */
  def dropKeys(rows: DataFrame, keys: DataFrame, key: String): DataFrame =
    rows.join(keys.select(col(key), lit(true).as("_dropped")), Seq(key),
        "left_outer")
      .where(col("_dropped").isNull).drop("_dropped")
}
