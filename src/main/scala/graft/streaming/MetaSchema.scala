package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The one declaration of a persisted root's folded meta: its logical
  * tables in declared order, each with its `(column, type)` list. Every
  * commit folds the tables' rows into ONE `snap-v/meta` parquet whose
  * rows carry a `t` discriminator ([[StateCommit.commitMeta]]), and
  * every read selects a table's own columns back out of it
  * ([[StateCommit.metaTable]], [[StateCommit.metaRows]]).
  *
  * [[columns]] is the folded parquet's column superset in first-declared
  * order (a column shared by two tables, such as a manifest's `gen`,
  * appears once); a column declared with two types fails construction.
  * [[cols]] is a table's column order, the positional contract of its
  * readers. [[GenerationalTable.tombstones]] and [[CellTable.manifest]]
  * are table entries of it.
  */
final case class MetaSchema(tables: (String, Seq[(String, String)])*) {

  val columns: Seq[(String, String)] = {
    val all = tables.flatMap(_._2).distinct
    for ((c, decls) <- all.groupBy(_._1)) require(decls.size == 1,
      s"meta column $c declared with types ${decls.map(_._2).mkString(", ")}")
    all
  }

  private val byTable = tables.toMap

  /** `table`'s column names in declared order. */
  def cols(table: String): Seq[String] = byTable(table).map(_._1)

  /** `table`'s rows from driver-side values, under its declared column
    * names. */
  def rows[T: Encoder](spark: SparkSession, table: String,
      data: Seq[T]): DataFrame =
    spark.createDataset(data).toDF(cols(table): _*)

  /** The logical `(table, rows)` pairs as one folded meta DataFrame. */
  def fold(rows: Seq[(String, DataFrame)]): DataFrame =
    rows.map { case (t, df) => foldMetaRows(t, df) }.reduce(_.unionByName(_))

  /** One table's rows projected onto [[columns]]: a `t` column first,
    * absent columns null, every column cast to its declared type. */
  private def foldMetaRows(t: String, df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    df.select(lit(t).as("t") +: columns.map { case (c, tp) =>
      (if (have(c)) col(c) else lit(null)).cast(tp).as(c)
    }: _*)
  }
}
