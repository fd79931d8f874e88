package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, min-of-2 per query after an untimed warmup, and
  * emits ONE JSON line. The line is BOTH printed to stdout and written to
  * `target/bench.json` — sbt prefixes stdout with `[info]`, which made the
  * round-1 driver's `parsed` field null; the file is the machine-readable
  * channel.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("graft-bench")
    // Checkpoint-mode override (SPARK_GRAFT_CHECKPOINT=reliable) for the
    // Stage.snap storage A/B: reliable mode snapshots stages to a
    // checkpoint DIR (the multi-executor posture) instead of
    // executor-local blocks.
    sys.env.get("SPARK_GRAFT_CHECKPOINT").foreach { mode =>
      spark.conf.set("spark.graft.checkpoint", mode)
      if (mode == "reliable") spark.sparkContext.setCheckpointDir(
        Files.createTempDirectory("graft-ckpt").toString)
    }
    // Untimed warmup: JVM classloading / codegen-compiler / parquet-footer
    // costs land here instead of inside the first timed query.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Warm the index-build codepath too (round-12 lx_hybrid adjudication):
    // the session's FIRST LexIndex.build pays ~2–3 s of classload/codegen/
    // committer warm-up that otherwise lands on whichever lx_* query
    // hash-orders first — r11 charged it to lx_hybrid, which read as a
    // ~1.4× "regression", while isolated fresh-JVM runs measure hybrid
    // FASTER than plain search (5.4 vs 6.7 s) and the fusion itself at
    // ~0.1 s. A tiny 60-doc build to a temp root moves that one-time cost
    // where the warmup design already puts its siblings.
    try {
      val warmRoot = Files.createTempDirectory("graft-warm-lx")
      try {
        val warmDocs = graft.catalog.Catalog.documents(spark, sfDir).limit(60)
        graft.operators.LexIndex.build(spark, warmDocs, warmRoot.toString)
      } finally {
        // the warm build leaves index generations behind — reclaim them
        // or repeated bench runs accumulate snapshots in /tmp (r12 advice)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(warmRoot).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    } catch { case _: Throwable => () }
    // Same treatment for the embedding family: the first embeddings read
    // + native-cosine codegen otherwise lands on whichever sim_*/hybrid
    // query runs first.
    try {
      graft.operators.Similarity.bruteForceTopK(
        graft.catalog.Catalog.embeddings(spark, sfDir).limit(60),
        nQueries = 2, k = 2).count()
    } catch { case _: Throwable => () }
    // min of 2 runs per query: codegen-cache effects and background load
    // otherwise dominate round-over-round comparisons.
    val failed = scala.collection.mutable.ListBuffer[String]()
    // Each query records (min, max) of its 2 runs. min is the headline
    // (codegen-cache effects otherwise dominate round-over-round
    // comparisons); max is kept in the artifact so a contended window is
    // visible IN the recorded file — round 4's driver run spiked a1/n7/s7c
    // 4–16× from box contention and min-of-2 alone couldn't show it.
    // SPARK_GRAFT_ONLY=q1,q2 narrows the run for targeted before/after
    // measurement during development; absent (the driver) = all queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        // Force via toRdd, NOT count(): count() lets Catalyst prune every
        // output column and then eliminate unique-key outer joins — e.g.
        // dd_components' whole label-propagation chain vanished and the
        // "benchmark" measured a bare scan. toRdd materializes the full
        // result rows on the executors without collecting them.
        val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case _: Throwable => false }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      // A failed query must not masquerade as a fast success: record -1.
      if (times.forall(_._1)) name -> (times.map(_._2).min, times.map(_._2).max)
      else { failed += name; name -> (-1.0, -1.0) }
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    val qsMax = results.map { case (k, v) => s"\"" + k + "\":" + v._2 }
      .mkString("{", ",", "}")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val totalMax = results.values.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the master (local[N]) rides the long line only: the medians
    // builder reads it from the passes instead of assuming a host
    val master = spark.sparkContext.master
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","value_max":$totalMax,"queries":$qs,"queries_max":$qsMax,"failed":$failedJson,"sf":"$sfDir","master":"$master"}"""
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"), line + "\n")
    println(line)
    // SHORT machine-readable summary as the LAST stdout line: the
    // round-9 driver captured a bounded tail of stdout and the long
    // per-query line alone got truncated mid-JSON (parsed: null). A
    // tail capture always retains the final short line intact.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"n_failed":${failed.size},"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
