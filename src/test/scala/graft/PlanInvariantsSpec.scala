package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** SCALE.md's plan invariants as executable checks: pushdown reaches the
  * scan, column pruning holds, dimension joins broadcast, single-pass
  * claims stay single-pass. These are the properties that keep the
  * operators flat at 100 TB — a regression here is a perf bug even when
  * results stay correct.
  */
class PlanInvariantsSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q1: shipdate filter pushed to parquet scan; read schema pruned") {
    val p = planOf("q1_pricing")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"), p)
    // 6 of the 16 lineitem columns — comment/tax/etc never leave the scan
    assert(!p.contains("l_comment") && !p.contains("l_tax"), p)
  }

  test("q5: the dimension chain broadcasts — only fact joins shuffle") {
    val p = planOf("q5_regional")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts\n$p")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("s6: single-pass search — ONE scan, TakeOrdered, no shuffle") {
    val p = planOf("s6_product_search")
    // count detail headers — formatted mode lists each node twice
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 parquet scan, got $scans\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("dd_minhash: one data shuffle feeds the signature aggregation") {
    val p = graft.operators.Dedup
      .minhashWide(spark.read.parquet(s"$sfDir/documents.parquet"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val shuffles = """\(\d+\) Exchange\b""".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles\n$p")
  }

  test("sim_topk: query side broadcasts; candidates never shuffle pre-join") {
    val p = planOf("sim_topk")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("sim_hardneg: query side broadcasts, same contract as sim_topk") {
    val p = planOf("sim_hardneg")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("dd_split_leak: split joins are equi-joins on ids — never a cartesian") {
    val p = planOf("dd_split_leak")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_knn: candidate join is a bucket equi-join — never all-pairs") {
    val p = planOf("sim_knn")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ta_fertility: lang join is an id equi-join; no cartesian anywhere") {
    val p = planOf("ta_fertility")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q4_priority: EXISTS plans as a LEFT SEMI equi-join, never a cartesian") {
    val p = planOf("q4_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the quarter filter reaches the orders parquet scan
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("ta_features: id-keyed equi-joins; the only BNLJ is unigram's 1-row constants broadcast") {
    val p = planOf("ta_features")
    assert(!p.contains("CartesianProduct"), p)
    // unigramSurprisal joins its 1-row corpus-constants table as a
    // broadcast nested loop BY DESIGN; the doc-level joins must not add more
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"expected only the constants BNLJ, got $bnlj\n$p")
  }

  test("q7_volume: both dimension chains broadcast; only lineitem x orders shuffles") {
    val p = planOf("q7_volume")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"supp+cust+nation chains must broadcast, got $broadcasts\n$p")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q14/q15: part/supplier dims broadcast; shipdate filter pushed; no cartesian") {
    Seq("q14_promo", "q15_top_supplier").foreach { q =>
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(p.contains("PushedFilters") &&
        p.contains("GreaterThanOrEqual(l_shipdate"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q10_returns: dims broadcast, returnflag + date filters pushed, top-20 is TakeOrdered") {
    val p = planOf("q10_returns")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2, s"customer+nation must broadcast, got $broadcasts\n$p")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dd_method_overlap: both pair chains stay bucketed; overlap is a pair-key equi-join") {
    val p = planOf("dd_method_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_semdedup_inc: batch probes corpus CELLS — candidate join is a cell equi-join, never batch x corpus") {
    // round 14 (cells-ified incremental): the quantizer's super/centroid
    // scoring legitimately uses broadcast nested-loop joins — those are
    // n×√c against BROADCAST-SMALL tables, the same shape as every cells
    // query. What must never appear is a non-broadcast cartesian (batch
    // × corpus), and the incoming↔corpus candidate join must be the
    // cell equi-join.
    val p = planOf("sim_semdedup_inc")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj > 0, "expected the broadcast super/centroid scoring joins")
  }

  test("dd_leak_apply / sim_knn_classify: id-only joins, no cartesian") {
    Seq("dd_leak_apply", "sim_knn_classify").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q:\n$p")
    }
  }

  test("n4b: every ACF dimension lookup broadcasts; one refs scan") {
    val p = planOf("n4b_acf_lookup")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected >=3 broadcast dim joins, got $broadcasts\n$p")
  }

  test("dd_jaccard: no raw-text shuffle — exchanges carry hashed arrays only") {
    val p = planOf("dd_jaccard")
    // the token string column must not appear in any Exchange's schema
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("w#"), s"raw token column crosses a shuffle\n$p")
  }

  test("n1_selected: deselected core columns are PRUNED from the part scan") {
    val p = graft.normalize.Normalizer
      .normalize(graft.catalog.Catalog.products(spark, sfDir),
        Seq("title", "sku"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // price/brand/size derive from p_retailprice/p_brand/p_size — a
    // selection without them must not read those columns at all
    assert(!p.contains("p_retailprice") && !p.contains("p_brand"), p)
    assert(p.contains("p_name"), p) // title IS read
  }

  test("s7: the four real event filters push down to the scan") {
    val p = planOf("s7_event_read")
    // action = event_type is a direct column equality — must reach parquet
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("EqualTo(user_id,7)"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("s7b: offset+limit compose into TakeOrdered (no global sort materialized)") {
    val p = planOf("s7b_event_paged")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("n7: compose joins stay 1-row-per-product — no fan-out multiplication") {
    val df = SparkEntry.queries("n7_full_text")(spark, sfDir)
    val products = SparkEntry.queries("n1_normalize")(spark, sfDir).count()
    assert(df.count() == products, "composeFull must emit exactly one row per product")
    assert(df.groupBy("product_id").count()
      .where(org.apache.spark.sql.functions.col("count") > 1).count() == 0)
  }

  test("n7: composeFull range-sorts once — its ACF and term inputs carry no sort") {
    val df = SparkEntry.queries("n7_full_text")(spark, sfDir)
    df.collect()
    val ranges = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
    assert(ranges.size == 1,
      s"expected only the final product_id sort, got ${ranges.size}\n" +
        df.queryExecution.executedPlan)
  }

  test("dd_decontaminate: benchmark set broadcasts — corpus side never shuffles to it") {
    val p = planOf("dd_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ta_release: stage boundaries materialized — bounded documents passes") {
    // With materialization every stage keep-list is snapshotted, so the
    // FINAL executed plan reads stage snapshots (LogicalRDDs), never the
    // documents parquet — the r3 form re-derived the whole dedup lineage
    // per downstream branch (one full-corpus pass each at scale).
    val df = SparkEntry.queries("ta_release")(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 0,
      s"expected stage snapshots only in the final plan, got $scans parquet scans\n$p")
    // and materialization must not change the result
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lazyRows = graft.operators.TextAnalysis
      .releasePipeline(docs, materialize = false).collect().toSeq
    val matRows = graft.operators.TextAnalysis
      .releasePipeline(docs, materialize = true).collect().toSeq
    assert(matRows == lazyRows)
  }

  test("dd_components: LSH edges snapshot once — propagation rounds never re-derive minhash") {
    val df = SparkEntry.queries("dd_components")(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // final plan: labels come from per-round snapshots; only the
    // isolated-doc union may scan documents parquet (exactly once)
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1,
      s"expected 1 parquet scan (isolated-doc union), got $scans\n$p")
  }

  test("sim_semdedup: labels come from the snapped components stage — one parquet scan in the final plan") {
    // round 13: the clustering tail reads the size-gated component
    // labels and the snapped pair set; only the isolated-vector union
    // may scan the embeddings parquet (exactly once). A second scan
    // means some consumer re-derives the candidate chain (the r12
    // regression's double-evaluation shape).
    val df = SparkEntry.queries("sim_semdedup")(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans == 1,
      s"expected 1 parquet scan (isolated-vector union), got $scans\n$p")
  }

  test("j7_asof: ONE key shuffle — union-and-window, no inequality join") {
    val p = planOf("j7_asof")
    // formatted mode lists the partitioning on the Exchange's detail line
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange (user_id window), got $hashEx\n$p")
    // the naive as-of encoding is a per-key cartesian — must never appear
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_pq: both codebook joins broadcast — assignment is map-only") {
    val p = planOf("sim_pq")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2, s"expected >=2 broadcast codebook joins, got $broadcasts\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j8_interval: equi-join on the key with residual range — never a cartesian") {
    val p = planOf("j8_interval")
    assert(p.contains("user_id"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_pq_topk: LUT and codebook broadcast — candidates only shuffle code rows") {
    val p = planOf("sim_pq_topk")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected >=3 broadcast joins (codebook x2 + LUT), got $broadcasts\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_ivfpq_topk: probed-cell pruning join + broadcasts, no cartesian between fact sides") {
    val p = planOf("sim_ivfpq_topk")
    val broadcasts = "BroadcastExchange".r.findAllIn(p).size
    assert(broadcasts >= 2, s"expected >=2 broadcasts (coarse + LUT), got $broadcasts\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dd_spans: raw gram text never crosses a shuffle — hashes and positions only") {
    val p = planOf("dd_spans")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("ts#") && !exchanges.contains("col#"),
      s"raw token/gram column crosses a shuffle\n$exchanges")
  }

  test("ta_shard: map-only assignment + one combinable agg — no join anywhere") {
    val p = planOf("ta_shard")
    assert(!p.contains("Join"), s"shard balance must not join\n$p")
    assert(p.contains("HashAggregate"), p)
    // raw text is never read: the scan projects only the 3 used columns
    assert(!p.contains("text#"), s"shard card must not read text\n$p")
  }

  test("ta_entropy: single row-local pass — only the output sort exchanges") {
    val p = planOf("ta_entropy")
    val exchanges = """\(\d+\) Exchange\b""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the final sort exchange, got $exchanges\n$p")
    assert(!p.contains("hashpartitioning"),
      s"entropy must not shuffle on a key — per-doc state is row-local\n$p")
  }

  test("ta_classify: weight table in the closure — map-only, one sort exchange") {
    val p = planOf("ta_classify")
    val exchanges = """\(\d+\) Exchange\b""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the final sort exchange, got $exchanges\n$p")
    assert(!p.contains("hashpartitioning") && !p.contains("Join"), p)
  }

  test("dd_cap_source: pre-prune filter sits under the per-source window; no text shuffles") {
    val p = planOf("dd_cap_source")
    val windows = """\(\d+\) Window\b""".r.findAllIn(p).size
    assert(windows == 2, s"expected salted + final windows, got $windows\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#"), s"raw text crosses a shuffle\n$exchanges")
  }

  test("dd_budget_source: salted prior-sum pre-prune under the per-source window; text stays in the scan") {
    val p = planOf("dd_budget_source")
    val windows = """\(\d+\) Window\b""".r.findAllIn(p).size
    assert(windows == 2, s"expected salted + final cumsum windows, got $windows\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#"), s"raw text crosses a shuffle\n$exchanges")
  }

  test("sim_rp: sign matrix lives in the closure — map-only, no join, one sort exchange") {
    val p = planOf("sim_rp")
    assert(!p.contains("Join"), s"projection must not join a sign table\n$p")
    val exchanges = """\(\d+\) Exchange\b""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the final sort exchange, got $exchanges\n$p")
  }

  test("a5_rate_anomaly: hourly pre-aggregation feeds the window — no join, no event-proportional shuffle past the count") {
    val p = planOf("a5_rate_anomaly")
    assert(!p.contains("Join"), s"anomaly scoring must not join\n$p")
    // the (event_type, hour) count reduces before the per-type window
    assert(p.contains("HashAggregate") && p.contains("Window"), p)
  }

  test("ta_bpe_encode: map-only segmenter — only the output sort exchanges") {
    val p = planOf("ta_bpe_encode")
    val exchanges = """\(\d+\) Exchange\b""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the final sort exchange, got $exchanges\n$p")
    assert(!p.contains("hashpartitioning"),
      s"segmenter must not shuffle on a key\n$p")
  }

  test("suffix-array spans: sample ids broadcast; no raw text in any exchange") {
    val p = graft.operators.Dedup
      .suffixArraySpans(spark.read.parquet(s"$sfDir/documents.parquet"),
        materialize = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the offender/partner id sets ride broadcasts into the sample join
    assert(p.contains("BroadcastExchange"), p)
    // only the sha32 hash stream (hs) reaches the single repartition —
    // tokenized text (ts) and raw text must not cross any exchange
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("ts#") && !exchanges.contains("text#"),
      s"raw text crosses a shuffle\n$exchanges")
  }

  test("ta_bm25: corpus constants ride a broadcast, not a shuffle") {
    val p = planOf("ta_bm25")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("scorers: tf snapshots once — statistics never re-scan the corpus") {
    // bm25/tfidf keep ONE parquet scan (the pruned n_docs count);
    // unigram derives everything from the tf snapshot — zero scans
    def scans(name: String) =
      """\(\d+\) Scan parquet""".r.findAllIn(planOf(name)).size
    assert(scans("ta_bm25") <= 1, s"ta_bm25: ${scans("ta_bm25")} scans")
    assert(scans("ta_tfidf") <= 1, s"ta_tfidf: ${scans("ta_tfidf")} scans")
    assert(scans("ta_unigram") == 0, s"ta_unigram: ${scans("ta_unigram")} scans")
    // bigram snapshots its (doc_id, bigram, tf) table; the only live scan
    // is the doc_id spine of the final zero-fill left join
    assert(scans("ta_bigram") <= 1, s"ta_bigram: ${scans("ta_bigram")} scans")
  }

  test("q6: shipdate+quantity push to the scan; read schema is 4 columns") {
    val p = planOf("q6_forecast")
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_quantity"), p)
    // only shipdate/quantity/extendedprice/discount leave the scan
    assert(!p.contains("l_comment") && !p.contains("l_orderkey"), p)
  }

  test("sim_outliers: the centroid table broadcasts; scoring is join-then-project") {
    val p = planOf("sim_outliers")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s8_json_props: JSON parses in the scan stage — props never crosses an exchange") {
    val p = planOf("s8_json_props")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("props#"), s"raw JSON crosses a shuffle\n$exchanges")
    // the parse must sit BELOW the shuffle: formatted-mode detail blocks
    // number nodes upstream-first, so the node evaluating
    // get_json_object must precede the first Exchange node
    val idx = p.indexOf("get_json_object")
    assert(idx >= 0, s"no get_json_object in plan\n$p")
    val parseNode = "(?m)^\\((\\d+)\\)".r.findAllMatchIn(p.substring(0, idx))
      .map(_.group(1).toInt).toSeq.lastOption.getOrElse(-1)
    val exchangeNode = "(?m)^\\((\\d+)\\) Exchange".r.findFirstMatchIn(p)
      .map(_.group(1).toInt).getOrElse(Int.MaxValue)
    assert(parseNode >= 0 && parseNode < exchangeNode,
      s"json parse at node $parseNode is not below the exchange at $exchangeNode\n$p")
  }

  test("j10_cohort: equi-joins only — no cartesian, no inequality-join explosion") {
    val p = planOf("j10_cohort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ta_bigram: bigrams build row-locally — no window, no sort before the count") {
    val p = planOf("ta_bigram")
    assert(!p.contains("Window"), s"bigram construction must not use a window\n$p")
    // corpus stats join back on narrow keys; raw text never crosses an exchange
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#"), s"raw text crosses a shuffle\n$exchanges")
  }

  test("chunk generator: Generate node present (no array explode)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = graft.chunker.Chunker
      .explodeChunksGen(docs, org.apache.spark.sql.functions.col("text"),
        Seq(org.apache.spark.sql.functions.col("doc_id")))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("Generate"), p)
  }

  test("q18: HAVING filters the agg BEFORE the join-back; customer dim broadcasts") {
    val p = planOf("q18_large_orders")
    // the sum_qty > 300 filter must sit on the aggregate side, not after
    // the join — at 100 TB the join input is the filtered agg
    assert(p.contains("HashAggregate"), p)
    assert("(?s)Filter.*sum_qty".r.findFirstIn(p).isDefined ||
      p.contains("(sum_qty"), s"HAVING filter not found on agg output\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q11: ONE fact pass — the global total is a broadcast 1-row agg, not a rescan") {
    val p = planOf("q11_nation_share")
    val factScans = p.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem.parquet"))
    assert(factScans >= 1 && factScans <= 2,
      s"fact rescans beyond exchange reuse: $factScans\n$p")
    // the total side must reach the rows as a broadcast (1-row cross
    // joins plan as BroadcastNestedLoopJoin — acceptable ONLY because
    // the build side is a single-row aggregate)
    assert(p.contains("BroadcastExchange") || p.contains("ReusedExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q22: dormancy is a LEFT ANTI equi-join; date filter reaches the orders scan") {
    val p = planOf("q22_dormant")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q16: denylist excludes via broadcast LEFT ANTI before the part join") {
    val p = planOf("q16_part_suppliers")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // only 2 columns of lineitem leave the scan
    assert(!p.contains("l_extendedprice") && !p.contains("l_quantity"), p)
  }

  test("q21: EXISTS/NOT-EXISTS collapse to ONE conditional agg — no correlated joins") {
    val p = planOf("q21_sole_blame")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // supplier dim broadcasts; the fact⋈orders equi-join is the only shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    // one lineitem scan: the blame logic never rescans the fact
    val factScans = p.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem.parquet"))
    assert(factScans == 1, s"lineitem scanned $factScans times\n$p")
  }

  test("q17: per-part average joins back narrow; only 3 lineitem columns read") {
    val p = planOf("q17_small_qty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("l_shipdate") && !p.contains("l_returnflag"),
      s"unpruned lineitem columns\n$p")
  }

  test("q2: argmin is ONE partial-agged fact shuffle — no window sort, no fact rescan") {
    val p = planOf("q2_min_cost_supp")
    assert(!p.contains("Window"), s"argmin fell back to a window sort\n$p")
    val factScans = p.linesIterator
      .count(l => l.contains("Location") && l.contains("lineitem.parquet"))
    assert(factScans == 1, s"lineitem scanned $factScans times\n$p")
    // struct-min aggregates via SortAggregate, but the partial side must
    // still combine BEFORE the exchange (the shuffle carries one row per
    // group, not the fact)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 1, s"expected <=1 hash shuffle, got $hashExchanges\n$p")
    assert("(?s)SortAggregate.*Exchange.*SortAggregate".r.findFirstIn(p).isDefined ||
      p.contains("HashAggregate"), s"no partial aggregation before the shuffle\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q20: the name filter pushes to the part scan; both dims broadcast around one agg") {
    val p = planOf("q20_excess_supp")
    assert(p.contains("PushedFilters") && p.contains("StringStartsWith(p_name,red"),
      s"LIKE 'red %' did not push as a prefix filter\n$p")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2, s"expected both dims broadcast, got $broadcasts\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 1, s"expected <=1 hash shuffle, got $hashExchanges\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j15: the codegen bloom probe filters the fact BEFORE its shuffle, natively") {
    val p = planOf("j15_bloom_codegen")
    assert(p.contains("bloom_might_contain") || p.contains("might_contain"),
      s"native probe missing\n$p")
    assert(!p.contains("UDF"), s"probe fell back to a boxed UDF\n$p")
  }

  test("q19: the quantity range pushes to the scan; brand dim broadcasts; residual OR post-join") {
    val p = planOf("q19_disjunctive")
    assert(p.contains("BroadcastHashJoin"), p)
    // the union-of-branches quantity bound reaches the parquet scan
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_quantity"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_decon: benchmark side broadcasts; candidates are bucket-mates, never all-pairs") {
    val p = planOf("sim_decon")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("t2_resample: the fact aggregates once — grid and join reuse the agg exchange") {
    val p = planOf("t2_resample")
    // one parquet scan of events feeds bucketing; the spans/grid branch
    // reuses the aggregation's exchange instead of rescanning the fact
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
    assert(scans <= 2, s"expected <=2 fact scans (exchange reuse), got $scans\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q8b: the top-k aggregate is two-phase and never sorts the fact") {
    val p = planOf("q8b_topk_agg")
    val aggs = """\(\d+\) ObjectHashAggregate""".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final ObjectHashAggregate\n$p")
    // the only Sort nodes may order the FINAL exploded rows, never the
    // per-customer totals feeding the aggregate (no window over them)
    assert(!p.contains("RunningWindowFunction") &&
      !p.contains("row_number() windowspecdefinition"), p)
  }
}
