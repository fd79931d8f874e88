package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog
import graft.operators.Similarity

/** `Explain` prints a lazy (materialize = false) stand-in for each
  * stage-snapshotting query. A stand-in that builds a different operator
  * or threshold prints a plan the gated query never runs, so each lazy
  * form must return the gated query's rows. */
class ExplainSpec extends SparkSpec {

  /** Where the lazy form's bounded unroll (rounds = 3) stops short of the
    * gated fixpoint on this corpus, the reference is the gated operator
    * and threshold at the same bound, materialized: sim_semdedup's
    * embedding chains are deeper than 3 hops at sf0.001 (23 of its 500
    * rows differ from the fixpoint), the lexical chains are not. */
  private val boundedReference
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_semdedup" -> ((s, dir) => Similarity.semanticDedupCells(
      Catalog.embeddings(s, dir), threshold = 0.35, rounds = 3)))

  private def rows(df: DataFrame) =
    (df.columns.toSeq, df.collect().map(_.toSeq.mkString("|")).sorted.toSeq)

  for (name <- Explain.lazyForms.keys.toSeq.sorted)
    test(s"Explain's lazy form of $name returns the gated query's rows") {
      val lazyRows = rows(Explain.lazyForms(name)(spark, sfDir))
      assert(lazyRows._2.nonEmpty, s"$name: empty at $sfDir")
      val gated = boundedReference.getOrElse(name, SparkEntry.queries(name))
      assert(lazyRows == rows(gated(spark, sfDir)), name)
    }
}
