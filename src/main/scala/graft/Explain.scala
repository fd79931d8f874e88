package graft
import org.apache.spark.sql.SparkSession

/** Plan-inspection / micro-bench utility:
  *   runMain graft.Explain q1_pricing q5_regional      # formatted plans
  *   runMain graft.Explain --time 3 dd_components …    # n timed toRdd reps
  * Data dir via SPARK_GRAFT_SF_DIR (default sf0.01).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-explain")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.toList match {
      case "--time" :: reps :: names =>
        for (name <- names) {
          val times = (1 to reps.toInt).map { _ =>
            val t0 = System.nanoTime()
            // toRdd: same honest forcing as Bench (count() would let the
            // optimizer prune columns and eliminate outer joins)
            val n = SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
            ((System.nanoTime() - t0) / 1e9, n)
          }
          println(f"$name%-25s rows=${times.head._2}%7d " +
            times.map(t => f"${t._1}%.2fs").mkString(" "))
        }
      case names =>
        for (name <- names) {
          println(s"========== $name ==========")
          // Checkpointing queries would EXECUTE their pipelines here and
          // print opaque LogicalRDD snapshots — show the lazy form, which
          // is the plan structure this tool exists to inspect.
          lazyForms.getOrElse(name, SparkEntry.queries(name))(spark, dir)
            .explain("formatted")
        }
    }
    spark.stop()
  }

  /** Lazy (materialize=false) builders for the stage-snapshotting queries. */
  private[graft] val lazyForms
      : Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    // bounded rounds = 3 for every lazy plan dump: per-round plan shape
    // is identical to the fixpoint's, and the bounded path runs no
    // convergence actions while the plan is being built (the fixpoint
    // form would execute the FULL un-checkpointed LSH pipeline once per
    // round before any plan prints)
    "ta_release" -> ((s, dir) => graft.operators.TextAnalysis.releasePipeline(
      graft.catalog.Catalog.documents(s, dir), materialize = false,
      rounds = 3)),
    "dd_components" -> ((s, dir) => graft.operators.Dedup.lshComponents(
      graft.catalog.Catalog.documents(s, dir), rounds = 3,
      materialize = false)),
    "dd_near_apply" -> ((s, dir) => graft.operators.Dedup.nearDupApply(
      graft.catalog.Catalog.documents(s, dir), materialize = false,
      rounds = 3)),
    "sim_semdedup" -> ((s, dir) => graft.operators.Similarity.semanticDedupCells(
      graft.catalog.Catalog.embeddings(s, dir), threshold = 0.35,
      rounds = 3, materialize = false)))
}
