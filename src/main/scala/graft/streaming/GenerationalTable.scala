package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** The append-plus-tombstone layout shared by the persisted indexes whose
  * rows are keyed by one id (DedupIndex, SemDedupIndex, LexIndex).
  *
  * Data lives in immutable generations (`gen-v/` under the root, see
  * [[StateCommit.genDir]]); a mutation never rewrites one. Replacement
  * and deletion are TOMBSTONES, the Iceberg/Delta delete-file move: one
  * `(key, before_gen)` row per dead id, meaning the id's rows in every
  * generation below `before_gen` are dead. An upsert of an id writes the
  * new rows into generation v and tombstones the id at v, so only the
  * new rows stay live; a delete tombstones it at [[DeleteAll]]; a later
  * upsert of a deleted id replaces the tombstone, resurrecting the id.
  * The tombstone table commits in the snapshot's folded meta next to the
  * manifest of live generations, so both publish with the one
  * [[StateCommit.commit]] pointer swap. It is bounded by churn since the
  * last compaction, never corpus-sized, so every read broadcasts it.
  */
object GenerationalTable {

  /** `before_gen` of a delete: every generation of the id is dead. */
  val DeleteAll: Long = Long.MaxValue

  /** The tombstone table's name in a snapshot's folded meta. */
  val Tombstones = "tombstones"

  /** The tombstone table for an id column `key`: the [[MetaSchema]]
    * entry every tombstoned family declares. */
  def tombstones(key: String): (String, Seq[(String, String)]) =
    Tombstones -> Seq(key -> "long", "before_gen" -> "long")

  /** A tombstone table with no rows: a build or compaction starts clean. */
  def emptyTombstones(spark: SparkSession, key: String): DataFrame = {
    val s = spark; import s.implicits._
    Seq.empty[(Long, Long)].toDF(key, "before_gen")
  }

  /** The next snapshot's tombstones: `prior` rows for ids not in
    * `touched`, plus one row per touched id at `beforeGen`. Replacing
    * rather than max-merging makes the last mutation win per id —
    * delete-then-upsert resurrects, upsert-then-delete stays dead.
    * `touched` must hold distinct ids. */
  def mergeTombstones(prior: DataFrame, touched: DataFrame, key: String,
      beforeGen: Long): DataFrame =
    prior.join(touched, Seq(key), "left_anti")
      .unionByName(touched.select(col(key).cast("long").as(key),
        lit(beforeGen).as("before_gen")))

  /** The live rows of the generations `gens`: `read(g)` for each, with a
    * `gen` column, minus the rows a tombstone kills. The tombstone table
    * broadcasts into a map-side join, so the generations never shuffle;
    * whatever pruning `read` applies lands on the scans below the join. */
  def live(gens: Seq[Long], read: Long => DataFrame, tombstones: DataFrame,
      key: String): DataFrame = {
    require(gens.nonEmpty, "empty generation manifest")
    gens.map(g => read(g).withColumn("gen", lit(g)))
      .reduce(_.unionByName(_))
      .join(broadcast(tombstones), Seq(key), "left_outer")
      .where(col("before_gen").isNull || col("gen") >= col("before_gen"))
      .drop("before_gen")
  }
}
