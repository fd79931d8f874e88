package graft

/** Scale-curve spot check: times a representative query subset at two
  * scale factors and prints per-query scaling ratios — the measured
  * complement to SCALE.md's plan-shape arguments. A query scaling
  * materially worse than the data ratio earns a plan re-audit.
  *
  * Usage: `runMain graft.ScaleCurve <dirA> <dirB> [ratio]` where
  * `ratio` is dirB's data multiple of dirA (default 10). Emits one
  * JSON line per query plus a summary line; min-of-2 per (query, sf)
  * after one untimed warmup, the Bench discipline.
  */
object ScaleCurve {

  /** Headline relational + dedup + ANN + lexical + text families —
    * the mix the round-10 verdict asked to curve, EXTENDED (round-11
    * ask) to the heaviest persisted-index queries the first curve
    * skipped: sim_annpq_store/rerank, lx_search_inc/del/upd,
    * dd_index_query. Index-building queries (sim_ann_store,
    * sim_annpq_store, lx_search*, dd_index_query) time build+query by
    * design. */
  val Subset: Seq[String] = Seq(
    "q1_pricing", "q7_volume", "q16_part_suppliers", "q21_sole_blame",
    "q8b_topk_agg", "j7_asof", "j10_cohort", "a5_rate_anomaly",
    "s8_json_props",
    "dd_exact", "dd_minhash", "dd_lsh_pairs", "dd_components",
    "dd_near_apply", "dd_spans",
    // dd_fuzzy is EXCLUDED from the 100× curve: at sf10 its ANSWER is
    // output-combinatorial on this corpus (2M part rows over 64
    // distinct names → ~10¹¹ verified key pairs — the r12 disclosed
    // DNF). Since round 16 the query FAILS LOUDLY there instead of
    // filling the disk (spark.graft.fuzzy.maxPairs guard); the
    // shippable forms — dd_fuzzy_best (top-1) and dd_fuzzy_capped
    // (budgeted top-N, output |probe| × cap by construction) — run.
    "dd_fuzzy_best", "dd_fuzzy_capped",
    "dd_index_query",
    "sim_topk", "sim_ivf_kmeans", "sim_pq_topk", "sim_ivfpq_topk",
    "sim_ann_store", "sim_annpq_store", "sim_annpq_rerank", "sim_semdedup",
    // round 13: the rest of the semdedup trio + the candidate chain, so
    // the next curve covers what the r12 verdict had to measure ad-hoc
    "sim_near_dup", "sim_semdedup_apply", "sim_semdedup_priority",
    "lx_search", "lx_search_inc", "lx_search_del", "lx_search_upd",
    // round 13 continued: the remaining changed-commit-path family
    "lx_search_cdc",
    // round 14: the cells-ified incremental probe + the dual-index hybrid
    "sim_semdedup_inc", "lx_hybrid_ann",
    // round 15: the persisted semantic-dedup index (build+probe and
    // build+search time the artifact write by design, like sim_ann_store)
    "sim_semdedup_store", "sim_semdedup_search",
    "ta_release",
    // round-11 final session: the selection family + banded near-dup
    "ta_dsir", "ta_dsir_select", "ta_dsir_store",
    "sim_prototypes", "sim_near_dup", "sim_decon_banded", "sim_decon_exact")

  def main(args: Array[String]): Unit = {
    val dirA = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dirB = args.lift(1).getOrElse("/tmp/sf1")
    val dataRatio = args.lift(2).map(_.toDouble).getOrElse(10.0)
    val spark = LocalSession("graft-scale-curve")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    def time(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    // SPARK_GRAFT_ONLY narrows the curve for targeted family
    // measurement (round 12) — same contract as Bench's filter
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val rows = Subset.filter(SparkEntry.queries.contains)
      .filter(name => only.forall(_.contains(name))).map { name =>
      val a = time(name, dirA)
      val b = time(name, dirB)
      val r = b / a
      println(f"""{"query":"$name","t_a":$a%.2f,"t_b":$b%.2f,"ratio":$r%.2f}""")
      (name, a, b, r)
    }
    val flagged = rows.filter(_._4 > dataRatio * 1.3).map(_._1)
    // guard the empty subset (Subset names drifted from the registry):
    // the per-query lines above must survive even with no median to print
    val medianRatio =
      if (rows.isEmpty) 0.0
      else rows.map(_._4).sorted.apply(rows.length / 2)
    println(s"""{"n":${rows.length},"data_ratio":$dataRatio,""" +
      f""""median_ratio":$medianRatio%.2f,""" +
      s""""superlinear":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
