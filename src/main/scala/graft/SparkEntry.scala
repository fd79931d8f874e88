package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, OracleSql}
import graft.normalize.Normalizer
import graft.operators.{Dedup, Multimodal, Similarity, Temporal, TextAnalysis}
import graft.rollup.VariationRollup
import graft.scan.{EventFilters, Scans}
import graft.streaming.EventStream
import graft.sync.DeltaPlan

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline extensions), each with a
  * DuckDB oracle in [[oracleSql]]. Column names are aligned pairwise —
  * the driver sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  // ---- shared constants (mirrored in the SQL strings) ----
  private val Since = "2024-01-01 10:00:00"
  private val ScanLimit = 100

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  // Per-row revenue in exact 1e-4 units: cents(extendedprice) ×
  // (100 − basis-points(discount)/100-scaled) — pure BIGINT arithmetic after
  // one per-row rounding, so sums are exact and order-independent.
  // Evidence: BIGINT outputs have a perfect driver-hash record on direct
  // aggregates (COVERAGE.md "driver-hash decimal contract"); decimal
  // join-fed outputs (q3/q5/q8) also passed through r06, but r07 unified
  // everything on BIGINT e4 *with matching oracle mirrors* so there is one
  // money representation to reason about. DriverContractSpec lints that no
  // gated money column regresses to DecimalType.
  // Overflow headroom: 1e-4 units put a 100 TB per-nation sum (q5's worst
  // group) near 1e18 of Long.MaxValue 9.2e18 — ~9× headroom. Spark's
  // non-ANSI LongType sum wraps silently past that, so beyond ~1 PB per
  // group re-base to cents (×100 headroom) or make the final reduce
  // DECIMAL(38,0).
  private def revE4 =
    floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))

  /** Scratch space for the layout-writing queries (j12/j13/
    * sim_ann_store), which intentionally time the layout write inside
    * the gated query. Each construction gets a fresh unique dir (and a
    * nonce for catalog table names, so two concurrent sessions never
    * share a name), and the PREVIOUS construction's artifacts for the
    * same query are dropped first — bench loops and lint passes in one
    * session hold at most one live scratch per query instead of
    * accumulating orphans. The final scratch of a session is reaped by
    * the next session's temp-dir hygiene (bounded: one dir per tag). */
  private val layoutScratch =
    new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()
  /** The deterministic "next release" of the documents table both the
    * dt_diff queries and their oracles derive: drop doc_id % 17 == 0,
    * append "!" to the text of % 13 == 0 survivors, and add re-keyed
    * (+1,000,000) copies of % 19 == 0. */
  private def docsAfterVariant(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val kept = docs.where(col("doc_id") % 17 =!= 0)
    kept.where(col("doc_id") % 13 =!= 0)
      .unionByName(kept.where(col("doc_id") % 13 === 0)
        .withColumn("text", concat(col("text"), lit("!"))))
      .unionByName(docs.where(col("doc_id") % 19 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000))
  }

  private def freshScratch(s: SparkSession, tag: String,
      tablesFor: String => Seq[String] = _ => Nil): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_").toString
    val nonce = dir.substring(dir.lastIndexOf('_') + 1)
    val tables = tablesFor(nonce)
    val cleanup: () => Unit = () => {
      tables.foreach(t => scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $t")))
      scala.util.Try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
    Option(layoutScratch.put(tag, cleanup)).foreach(_.apply())
    (dir, nonce)
  }

  /** Q16-style supplier diversity, with the COUNT(DISTINCT) swap as a
    * REAL parameter rather than a comment: `approxDistinct = true` is
    * the 100 TB path — `approx_count_distinct` (HLL++, `rsd` standard
    * error) turns the exact two-phase distinct shuffle into a
    * fixed-size mergeable sketch per (brand, size) group, so the
    * shuffle carries sketches, not supplier ids (spec-bounded within
    * 5% of exact at sf0.1). Exact stays the gated default: the oracle
    * hash-compare needs determinism. Shared by the q16 gate and the
    * ApproxDistinctSpec bound. */
  private[graft] def q16PartSuppliers(s: SparkSession, dir: String,
      approxDistinct: Boolean = false, rsd: Double = 0.02): DataFrame = {
    val excl = Catalog.supplier(s, dir)
      .where(col("s_name").like("%7%")).select(col("s_suppkey"))
    val part = Catalog.part(s, dir).select("p_partkey", "p_brand", "p_size")
    Catalog.lineitem(s, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(
        (if (approxDistinct) approx_count_distinct(col("l_suppkey"), rsd)
         else countDistinct(col("l_suppkey"))).as("n_supp"))
      .orderBy(col("n_supp").desc, col("p_brand"), col("p_size"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ================= TPC-H-ish headline queries =================

    // Q1-style pricing summary over lineitem. One wide scan + one hash agg,
    // map-side partial. Sums are BIGINT fixed-point (quantity is integral;
    // money as cents, discounted price as 1e-4 units): pure integer
    // arithmetic after one per-row rounding, so the result is exact and
    // order-independent — and BIGINT is the only output family with a
    // perfect driver-hash pass record (decimal outputs failed the gate in
    // r2 at (28,s) AND r3 at (38,s) with values identical locally; the
    // r4 diag probes confirmed it — see COVERAGE.md "driver-hash decimal
    // contract").
    "q1_pricing" -> ((s, dir) => {
      val extCents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val discBp = floor(col("l_discount") * 100 + 0.5).cast("long")
      Catalog.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(extCents).as("sum_base_price_cents"),
          sum(extCents * (lit(100L) - discBp)).as("sum_disc_price_e4"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Q6-style forecast-revenue: the classic scan-throughput benchmark —
    // tight filter over one fact table, single partial+final agg, no
    // join. Shipdate/quantity predicates push to the parquet scan; the
    // discount band evaluates on basis points (fixed-point contract).
    "q6_forecast" -> ((s, dir) => {
      val extCents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val discBp = floor(col("l_discount") * 100 + 0.5).cast("long")
      Catalog.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          discBp.between(5L, 7L) && col("l_quantity") < 24)
        .agg(sum(extCents * discBp).as("revenue_e4"),
          count(lit(1)).as("n_items"))
    }),

    // Q3-style: top unshipped orders by revenue. Join order: the BUILDING
    // filter cuts customer ~5× before the join; broadcast it.
    "q3_top_orders" -> ((s, dir) => {
      val cust = Catalog.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Catalog.orders(s, dir)
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Catalog.lineitem(s, dir)
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(sum(revE4).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Q4-style order-priority check: orders in one quarter with at least
    // one LATE lineitem (shipped > 30 days after the order date — the
    // testdata's analog of Q4's commit<receipt). The EXISTS encodes as a
    // LEFT SEMI equi-join on orderkey with the lateness residual — one
    // key shuffle, no row duplication however many lineitems match.
    "q4_priority" -> ((s, dir) => {
      val ord = Catalog.orders(s, dir)
        .where(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      val li = Catalog.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      ord.join(li,
          ord("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Q7-style cross-nation volume: revenue shipped between two nations,
    // by supplier nation / customer nation / year. BOTH dimension chains
    // (supplier⋈nation, customer⋈nation via orders) broadcast; only
    // lineitem⋈orders shuffles; the nation-pair predicate prunes rows at
    // the broadcast joins, never a cartesian.
    "q7_volume" -> ((s, dir) => {
      val nat = Catalog.nation(s, dir).select("n_nationkey", "n_name")
      val pair = Seq("NATION_1", "NATION_2")
      val supp = Catalog.supplier(s, dir)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .where(col("n_name").isin(pair: _*))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Catalog.customer(s, dir)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .where(col("n_name").isin(pair: _*))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ord = Catalog.orders(s, dir).select("o_orderkey", "o_custkey")
      val li = Catalog.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          revE4.as("rev_e4"))
      li.join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum("rev_e4").as("revenue_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Q14-style promo revenue share: what fraction of a window's revenue
    // came from one part type. Part dim broadcasts; the share is exact
    // DECIMAL sums cast to double in one mirrored expression -> integer
    // basis points.
    "q14_promo" -> ((s, dir) => {
      val li = Catalog.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-07-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .select(col("l_partkey"),
          (dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("rev"))
      val part = Catalog.part(s, dir).select("p_partkey", "p_type")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(when(col("p_type") === "ECONOMY", col("rev"))
              .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") * 10000 /
            sum(col("rev")).cast("double"), 0).cast("bigint").as("promo_bps"))
    }),

    // Q15-style top suppliers: revenue per supplier in a window, top 10.
    // Supplier dim broadcasts; top-10 is TakeOrdered.
    "q15_top_supplier" -> ((s, dir) => {
      val li = Catalog.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-07-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .select(col("l_suppkey"), revE4.as("rev_e4"))
      val supp = Catalog.supplier(s, dir).select("s_suppkey", "s_name")
      li.groupBy("l_suppkey").agg(sum("rev_e4").as("revenue_e4"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("s_suppkey"))
        .limit(10)
    }),

    // Q10-style returned-revenue report: which customers returned the most
    // value in a quarter. Returned lineitems filter in the scan, the
    // customer/nation dims broadcast, only orders⋈lineitem shuffles;
    // top-20 is a TakeOrdered, never a global sort.
    "q10_returns" -> ((s, dir) => {
      val ord = Catalog.orders(s, dir)
        .where(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = Catalog.lineitem(s, dir).where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), revE4.as("rev_e4"))
      val cust = Catalog.customer(s, dir)
        .select("c_custkey", "c_name", "c_nationkey")
      val nat = Catalog.nation(s, dir).select("n_nationkey", "n_name")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum("rev_e4").as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("c_custkey"))
        .limit(20)
    }),

    // Q5-style regional revenue: 6-way join pruned by region filter; the
    // dimension chain (region⋈nation⋈supplier) stays broadcast-size at any
    // SF (dims grow slower than facts), so only orders⋈lineitem shuffles.
    "q5_regional" -> ((s, dir) => {
      val region = Catalog.region(s, dir).where(col("r_name") === "ASIA")
      val nation = Catalog.nation(s, dir)
      val supp = Catalog.supplier(s, dir)
      val cust = Catalog.customer(s, dir)
      val ord = Catalog.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = Catalog.lineitem(s, dir)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(revE4).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("n_name"))
    }),

    // Top-3 customers per market segment by order value: partial agg on
    // the fact before the window, so the rank's shuffle carries one row
    // per customer, not per order.
    "q8_topn_per_group" -> ((s, dir) => {
      val cust = Catalog.customer(s, dir).select("c_custkey", "c_mktsegment")
      val totals = Catalog.orders(s, dir)
        .groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("total_cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment").orderBy(col("total_cents").desc, col("c_custkey"))
      totals.join(cust, totals("o_custkey") === cust("c_custkey"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("c_custkey"), col("total_cents"), col("rn"))
        .orderBy("c_mktsegment", "rn")
    }),

    // The same top-3-per-segment answer via the bounded top-k AGGREGATE
    // ([[graft.functions.TopKByScore]]) instead of a window rank: the
    // window form shuffles every customer row to its segment's reducer
    // and sorts the whole segment; the aggregate form keeps a 3-row
    // buffer per segment in each map task (partial aggregation), so the
    // shuffle carries ≤ 3 × segments × partitions rows — the
    // billion-rows-per-group survivor. Same oracle semantics as q8
    // (score DESC, key ASC), proven by the hash gate; TopKAggSpec pins
    // the partial/final two-phase plan and partition-independence.
    "q8b_topk_agg" -> ((s, dir) => {
      val cust = Catalog.customer(s, dir).select("c_custkey", "c_mktsegment")
      val totals = Catalog.orders(s, dir)
        .groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("total_cents"))
      val top3 = graft.functions.TopK.byScore(3)
      totals.join(cust, totals("o_custkey") === cust("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(top3(col("total_cents"), col("c_custkey").cast("long")).as("top"))
        .select(col("c_mktsegment"), posexplode(col("top")))
        .select(col("c_mktsegment"),
          col("col.id").as("c_custkey"),
          col("col.score").as("total_cents"),
          (col("pos") + 1).cast("int").as("rn"))
        .orderBy("c_mktsegment", "rn")
    }),

    // Q18-style large-volume orders (HAVING join-back): the fact
    // aggregates FIRST — one combinable sum per order — and only the
    // handful of orders over the threshold joins back to the dims, so at
    // 100 TB the join input is the filtered agg, never the raw fact.
    "q18_large_orders" -> ((s, dir) => {
      val big = Catalog.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .where(col("sum_qty") > 300)
      val ord = Catalog.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val cust = Catalog.customer(s, dir).select("c_custkey", "c_name")
      big.join(ord, big("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("total_cents"),
          col("sum_qty"))
        .orderBy(col("total_cents").desc, col("o_orderkey"))
        .limit(20)
    }),

    // Q11-style share-of-total (scalar subquery): per-nation revenue vs
    // the global total — the total is a 1-row aggregate broadcast into
    // every row, never a second pass over the fact. Share is pure BIGINT
    // `rev div (total div 10000)` (dividing the TOTAL first keeps the
    // numerator inside Long at any corpus size; all-positive, so DuckDB
    // floor-div ≡ Spark truncating div).
    "q11_nation_share" -> ((s, dir) => {
      val supp = Catalog.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val nat = Catalog.nation(s, dir).select("n_nationkey", "n_name")
      val byNation = Catalog.lineitem(s, dir)
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(sum(revE4).as("revenue_e4"))
      val total = byNation.agg(sum("revenue_e4").as("total_e4"))
      byNation.crossJoin(broadcast(total))
        .withColumn("share_bps",
          expr("revenue_e4 div (total_e4 div 10000)"))
        .where(col("share_bps") >= 400)
        .select("n_name", "revenue_e4", "share_bps")
        .orderBy(col("revenue_e4").desc, col("n_name"))
    }),

    // Q22-style dormant high-balance customers (anti-join + scalar
    // subquery): above-average balance AND no order since the cutoff.
    // The average gate is the division-free `cents·cnt > total` (exact
    // BIGINT, no float threshold drift); the dormancy test is a
    // left-anti join against the date-filtered orders scan.
    "q22_dormant" -> ((s, dir) => {
      val cust = Catalog.customer(s, dir)
        .select(col("c_custkey"), col("c_name"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("balance_cents"))
      val stats = cust.where(col("balance_cents") > 0)
        .agg(sum("balance_cents").as("total"), count(lit(1)).as("cnt"))
      val recent = Catalog.orders(s, dir)
        .where(col("o_orderdate") >= lit("1998-05-01").cast("timestamp"))
        .select("o_custkey")
      cust.crossJoin(broadcast(stats))
        .where(col("balance_cents") * col("cnt") > col("total"))
        .join(recent, cust("c_custkey") === recent("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "balance_cents")
        .orderBy("c_custkey")
    }),

    // Q2-style min-cost supplier per part: the textbook correlated
    // scalar subquery (cost = MIN(cost) among the part's suppliers)
    // collapses into ONE argmin aggregation — min(struct(cost, supp))
    // is lexicographic, so a single map-side-combinable fact shuffle
    // yields the min cost AND its smallest-suppkey witness with no
    // window sort and no second fact pass; the oracle mirrors the tie
    // break with a min-cost join-back + MIN(suppkey).
    "q2_min_cost_supp" -> ((s, dir) => {
      val part = Catalog.part(s, dir).where(col("p_size") === 15)
        .select("p_partkey", "p_name")
      val li = Catalog.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cost_cents"))
      val best = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey", "p_name")
        .agg(min(struct(col("cost_cents"), col("l_suppkey"))).as("m"))
        .select(col("p_partkey"), col("p_name"),
          col("m.cost_cents").as("min_cost_cents"),
          col("m.l_suppkey").as("s_suppkey"))
      best
        .join(broadcast(Catalog.supplier(s, dir).select("s_suppkey", "s_name")),
          Seq("s_suppkey"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "min_cost_cents")
        .orderBy("p_partkey")
    }),

    // Q20-style excess-shipment chain: name-filtered parts (broadcast)
    // gate the fact scan, the per-supplier shipped total derives the
    // admission filter, and the supplier dim joins the RESULT — the
    // nested-IN chain as two narrowing broadcast semi-joins around one
    // aggregation, so the fact shuffles once and only filtered rows.
    "q20_excess_supp" -> ((s, dir) => {
      val red = Catalog.part(s, dir).where(col("p_name").like("red %"))
        .select("p_partkey")
      Catalog.lineitem(s, dir).select("l_partkey", "l_suppkey", "l_quantity")
        .join(broadcast(red), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .where(col("sum_qty") > 2000)
        .join(broadcast(Catalog.supplier(s, dir).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "sum_qty")
        .orderBy("s_suppkey")
    }),

    // Q16-style supplier diversity per part group (distinct-count with
    // an exclusion set): suppliers on a denylist drop via a broadcast
    // left-anti join BEFORE the fact joins the part dim; the distinct
    // count shuffles narrow (brand, size, suppkey) rows only.
    "q16_part_suppliers" -> ((s, dir) => q16PartSuppliers(s, dir)),

    // Q21-style sole-blame report, WITHOUT correlated subqueries: the
    // classic EXISTS/NOT-EXISTS pair over the same fact collapses into
    // ONE conditional aggregation per order (distinct suppliers,
    // distinct LATE suppliers, the sole late supplier) — one fact
    // shuffle where the textbook plan pays three, and no correlated
    // rewrite for the optimizer to get wrong at scale.
    "q21_sole_blame" -> ((s, dir) => {
      val ord = Catalog.orders(s, dir).select("o_orderkey", "o_orderdate")
      val li = Catalog.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val perOrder = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"))
        .groupBy("l_orderkey")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"),
          max(when(col("late"), col("l_suppkey"))).as("late_supp"))
        .where(col("n_supp") > 1 && col("n_late") === 1)
      val supp = Catalog.supplier(s, dir).select("s_suppkey", "s_name")
      perOrder.groupBy("late_supp").agg(count(lit(1)).as("numwait"))
        .join(broadcast(supp), col("late_supp") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(20)
    }),

    // Q17-style below-group-average filter: the per-part average is a
    // join-back of the part-level aggregate, and the 20%-of-average
    // threshold is EXACT integer arithmetic (qty·5·cnt < sum_qty), so
    // no float boundary can disagree across engines.
    "q17_small_qty" -> ((s, dir) => {
      val li = Catalog.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val pa = li.groupBy("l_partkey")
        .agg(sum("qty").as("sum_qty"), count(lit(1)).as("cnt"))
      li.join(pa, Seq("l_partkey"))
        .where(col("qty") * lit(5L) * col("cnt") < col("sum_qty"))
        .agg(count(lit(1)).as("n_items"),
          sum("cents").as("total_cents"))
    }),

    // Bloom-pruned shuffle join (the mid-size-dimension trick): the
    // sparse flagged-order set folds into a Bloom sketch, the fact
    // semi-filters map-side BEFORE the shuffle, and the equi-join kills
    // the false positives — so the oracle is simply the PLAIN join (no
    // false negatives is the gated contract).
    "j11_bloom_join" -> ((s, dir) => {
      val fact = Catalog.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"))
      val dim = Catalog.orders(s, dir)
        .where(col("o_orderkey") % 16 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val (joined, release) = graft.operators.BloomJoin
        .prunedReleasable(fact, "l_orderkey", dim, "o_orderkey")
      // bench loops rebuild this query many times per session: destroy
      // the PREVIOUS construction's sketch broadcast (its executions
      // are done by then) so blocks don't accumulate — same discipline
      // as the layout scratch above
      Option(layoutScratch.put("bloom_q", () => release())).foreach(_.apply())
      joined
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // j11's probe moved INSIDE whole-stage codegen: the sketch rides
    // the plan as a binary literal probed through Spark's native
    // BloomFilterMightContain (the InjectRuntimeFilter expression, with
    // doGenCode), so there is no per-row UDF boxing and no broadcast to
    // release. Same contract as j11 — no false negatives, false
    // positives die in the equi-join — so the oracle is the plain join.
    "j15_bloom_codegen" -> ((s, dir) => {
      val fact = Catalog.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"))
      val dim = Catalog.orders(s, dir)
        .where(col("o_orderkey") % 8 === 3)
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.BloomJoin
        .prunedCodegen(fact, "l_orderkey", dim, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Q19-style disjunctive predicate (OR-of-ANDs across both join
    // sides): the quantity bounds push to the lineitem scan as one OR
    // range (1..30 — the union of the branches), the part dim
    // broadcasts with its brand disjunction pushed, and the residual
    // brand×quantity pairing evaluates post-join — revenue in exact e4.
    "q19_disjunctive" -> ((s, dir) => {
      val li = Catalog.lineitem(s, dir)
        .where(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .select(col("l_partkey"), col("l_quantity"), revE4.as("rev_e4"))
      val part = Catalog.part(s, dir)
        .where(col("p_brand").isin("Brand#11", "Brand#22", "Brand#33"))
        .select("p_partkey", "p_brand")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#11" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#22" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#33" && col("l_quantity").between(20, 30)))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum("rev_e4").as("revenue_e4"))
        .orderBy("p_brand")
    }),

    // Bucketed co-located join, gated through the driver: both facts
    // rewrite into same-bucketed catalog tables (shuffle paid at layout
    // time), the join runs exchange-free (BucketingSpec pins the plan),
    // and the oracle is the PLAIN join — layout must never change rows.
    "j12_bucketed_join" -> ((s, dir) => {
      val (base, nonce) = freshScratch(s, "bkt_q",
        n => Seq(s"gq_b_orders_$n", s"gq_b_lineitem_$n"))
      graft.operators.Bucketing.writeBucketed(
        Catalog.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        s"gq_b_orders_$nonce", "o_orderkey", 8, s"$base/orders")
      graft.operators.Bucketing.writeBucketed(
        Catalog.lineitem(s, dir).select("l_orderkey", "l_quantity"),
        s"gq_b_lineitem_$nonce", "l_orderkey", 8, s"$base/lineitem")
      graft.operators.Bucketing
        .cogroupJoin(s, s"gq_b_lineitem_$nonce", s"gq_b_orders_$nonce",
          "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Z-order layout, gated through the driver: lineitem rewrites
    // z-ordered on (orderkey, partkey), then a second-key range scan
    // reads it back — the oracle is the same scan of the ORIGINAL
    // table, so the layout's content-neutrality is hash-gated (the
    // file-pruning win itself is LayoutSpec's measured claim).
    "j13_zorder_scan" -> ((s, dir) => {
      val (base, _) = freshScratch(s, "z_q")
      graft.operators.Layout.zorderWrite(
        Catalog.lineitem(s, dir)
          .select("l_orderkey", "l_partkey", "l_quantity"),
        "l_orderkey", "l_partkey", s"$base/z", nFiles = 8)
      s.read.parquet(s"$base/z")
        .where(col("l_partkey") <= 200)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_partkey")
    }),

    // Quantile-tiled z-order (the skew-resistant tiling), gated the
    // same way as j13: lineitem rewrites with equi-DEPTH tile cuts on
    // (suppkey, partkey), a 2-D range scan reads it back, and the
    // oracle is the identical scan of the ORIGINAL table — both tiling
    // strategies are now hash-gated content-neutral (the pruning-win
    // comparison, quantile vs min/max on skewed keys, stays
    // LayoutSpec's measured claim).
    "j14_zorder_quantiled" -> ((s, dir) => {
      val (base, _) = freshScratch(s, "zq_q")
      graft.operators.Layout.zorderWriteQuantiled(
        Catalog.lineitem(s, dir)
          .select("l_suppkey", "l_partkey", "l_quantity"),
        "l_suppkey", "l_partkey", s"$base/zq", nFiles = 8)
      s.read.parquet(s"$base/zq")
        .where(col("l_suppkey") <= 40 && col("l_partkey") <= 400)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_suppkey")
    }),

    // Q13-style order-count distribution: LEFT OUTER preserves
    // zero-order customers, COUNT(col) skips their NULL orderkeys (the
    // null-semantics trap COUNT(*) would fall into), and the histogram
    // is a second tiny aggregation over the per-customer counts.
    "q13_custdist" -> ((s, dir) => {
      val cust = Catalog.customer(s, dir).select("c_custkey")
      val ord = Catalog.orders(s, dir).select("o_custkey", "o_orderkey")
      val perCust = cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Q23 (engine extension): trailing-window revenue — the ordered
    // ROWS-frame window shape (running/moving aggregates) the catalog
    // lacked: per-supplier monthly revenue with a 3-month trailing sum.
    // Pre-aggregating to (supplier, month) BEFORE the window keeps the
    // frame scan over one row per month, not one per lineitem; sums
    // stay BIGINT e4 so the frame arithmetic is exact in both engines.
    "q23_trailing" -> ((s, dir) => {
      val monthly = Catalog.lineitem(s, dir)
        .where(col("l_suppkey") < 10)
        .groupBy(col("l_suppkey"),
          date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(sum(revE4).as("rev_e4"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_suppkey").orderBy("month")
        .rowsBetween(-2, 0)
      monthly
        .withColumn("trail3_e4", sum("rev_e4").over(w))
        .select("l_suppkey", "month", "rev_e4", "trail3_e4")
        .orderBy("l_suppkey", "month")
    }),

    // Q24 (engine extension): static PIVOT — nation revenue spread to
    // one column per year. Pivot values are DECLARED (1995-1998), not
    // discovered, so the schema is static and the plan is one
    // conditional aggregation — the two-pass value-discovery pivot is
    // exactly what a 100 TB pipeline avoids.
    "q24_pivot" -> ((s, dir) => {
      val supp = Catalog.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val nat = Catalog.nation(s, dir).select("n_nationkey", "n_name")
      Catalog.lineitem(s, dir)
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          year(col("l_shipdate")).as("l_year"), revE4.as("rev_e4"))
        .groupBy("n_name")
        .pivot("l_year", Seq(1995, 1996, 1997, 1998))
        .agg(sum("rev_e4"))
        .select(col("n_name"),
          col("1995").as("y1995_e4"), col("1996").as("y1996_e4"),
          col("1997").as("y1997_e4"), col("1998").as("y1998_e4"))
        .orderBy("n_name")
    }),

    // Q25 (engine extension): UNPIVOT/melt — wide per-flag measures
    // stack into (measure, value) rows via the codegen'd stack()
    // generator; all measures pre-scale to BIGINT so the melted value
    // column is one exact type.
    "q25_unpivot" -> ((s, dir) => {
      Catalog.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          sum(col("l_quantity").cast("long")).as("qty"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("price_cents"),
          sum(floor(col("l_discount") * 10000 + 0.5).cast("long"))
            .as("disc_bps"))
        .selectExpr("l_returnflag",
          "stack(3, 'disc_bps', disc_bps, 'price_cents', price_cents, " +
            "'qty', qty) AS (measure, value)")
        .orderBy("l_returnflag", "measure")
    }),

    // Q26 (engine extension): INTERSECT / EXCEPT — the set-op plan
    // shapes (both reduce to hash-dedup + semi/anti join but carry
    // their own operators): customers active in both 1997 halves vs
    // only the first, tagged into one output.
    "q26_setops" -> ((s, dir) => {
      val ord = Catalog.orders(s, dir)
      def active(lo: String, hi: String) = ord
        .where(col("o_orderdate") >= lit(lo).cast("timestamp") &&
          col("o_orderdate") < lit(hi).cast("timestamp"))
        .select("o_custkey")
      val h1 = active("1997-01-01", "1997-07-01")
      val h2 = active("1997-07-01", "1998-01-01")
      h1.intersect(h2).withColumn("grp", lit("both"))
        .unionByName(h1.except(h2).withColumn("grp", lit("only_h1")))
        .select("grp", "o_custkey")
        .orderBy("grp", "o_custkey")
    }),

    // ================= SURVEY §2.1/§2.6 scans & set-ops =================

    "s1_initial_scan" -> ((s, dir) =>
      Scans.initialScan(Catalog.products(s, dir), Catalog.syncState(s, dir), ScanLimit)),

    "s2_modified_scan" -> ((s, dir) =>
      Scans.modifiedScan(Catalog.products(s, dir), Catalog.syncState(s, dir), Since, ScanLimit)),

    "s2_drafts" -> ((s, dir) =>
      Scans.modifiedScan(Catalog.products(s, dir), Catalog.syncState(s, dir),
        Since, ScanLimit, includeDraftsPrivate = true)),

    "s3_error_scan" -> ((s, dir) =>
      Scans.errorScan(Catalog.syncState(s, dir), 50)),

    "d1_priority_union" -> ((s, dir) =>
      Scans.priorityUnion(Catalog.products(s, dir), Catalog.syncState(s, dir), Since, ScanLimit)),

    "d2_variation_dedup" -> ((s, dir) =>
      Scans.variationParentDedup(Catalog.products(s, dir))),

    "s5_variation_children" -> ((s, dir) =>
      Scans.variationChildren(Catalog.products(s, dir), col("parent_id") % 50 === 0)
        .select(col("product_id"), col("parent_id"), col("sku"), col("attr_size"))),

    "s6_product_search" -> ((s, dir) =>
      Scans.productSearch(Catalog.products(s, dir), "SKU-12", 20)),

    // S7 with the reference's REAL filter columns: product_id + action +
    // outcome equality over the log-row view (`filter_match`,
    // `includes/class-events.php:148-155`).
    "s7_event_read" -> ((s, dir) =>
      Scans.eventLogRead(Catalog.eventLog(s, dir),
        EventFilters(productId = Some(7L), action = Some("purchase"),
          outcome = Some("success")), ScanLimit)),

    // S7 full read surface: target + action filters + OFFSET pagination
    // (`includes/class-events.php:50-94`).
    "s7b_event_paged" -> ((s, dir) =>
      Scans.eventLogRead(Catalog.eventLog(s, dir),
        EventFilters(target = Some("vs"), action = Some("view")),
        50, offset = 100)),

    // S7 CSV export: the reference's stream_csv pulls filtered pages up
    // to a 5000-row cap (`class-events.php:96-146`) — this is that capped,
    // filtered, newest-first dataset (EventLog.exportCsv writes it).
    "s7c_event_csv" -> ((s, dir) =>
      Catalog.eventLog(s, dir)
        .where(EventFilters(outcome = Some("success")).predicate)
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(5000)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("site_id"), col("product_id"), col("target"), col("action"),
          col("outcome"), col("duration_ms"))),

    // K5 purge-site as a checkable anti-filter over a multi-site store
    // derivation (ParquetVectorStore.purgeSite applies this same rewrite).
    "k5_purge_site" -> ((s, dir) =>
      Catalog.syncState(s, dir)
        .withColumn("site_id", (col("product_id") % 3 + 1).cast("int"))
        .where(col("site_id") =!= 2)
        .select("vector_id", "site_id")
        .orderBy("vector_id")),

    // ================= §2.5 aggregation / §2.3 normalize =================

    "a1_variation_rollup" -> ((s, dir) =>
      VariationRollup.rollup(Catalog.products(s, dir), valuesCap = 2,
        attrs = Some(Catalog.variationAttributes(s, dir)))),

    // Generalized A1: distinct value-set per (parent, attribute) for EVERY
    // attribute key — pa_* taxonomies, the size attribute, and an ACF field
    // (reference `includes/class-variation-rollup.php:55-95`).
    "a1b_attr_rollup" -> ((s, dir) =>
      VariationRollup.attributeSets(Catalog.products(s, dir),
        Catalog.variationAttributes(s, dir), valuesCap = 2)),

    "a3_job_metrics" -> ((s, dir) =>
      Scans.jobMetrics(Catalog.syncState(s, dir))),

    "n6_collapse" -> ((s, dir) =>
      VariationRollup.collapseText(Catalog.products(s, dir), valuesCap = 2,
        attrs = Some(Catalog.variationAttributes(s, dir)))),

    // §2.7 scalar-function suite (F1/F4/F13/F14/F17 + the sha32 primitive)
    "f_scalars" -> ((s, dir) => {
      import graft.functions.Functions._
      Catalog.products(s, dir).select(
        col("product_id"),
        stripHtml(col("description")).as("plain"),
        labelValue("SKU", col("sku")).as("sku_line"),
        format_string("%.2f", col("price").cast("double")).as("price_fmt"),
        approxTokens(col("title")).as("title_tokens"),
        sha32(col("sku")).as("sku_h"),
        when(length(col("title")) > 20,
          concat(substring(col("title"), 1, 20), lit("…")))
          .otherwise(col("title")).as("title_trunc"))
        .orderBy("product_id")
    }),

    "n1_normalize" -> ((s, dir) =>
      Normalizer.normalize(Catalog.products(s, dir))),

    // P1 for real: a NON-default selection — price/brand/size deselected,
    // ONE meta key, ONE taxonomy, ONE ACF field — drives the whole
    // document (`class-options.php:368-421` → `class-field-normalizer
    // .php:44-66`). Deselected sections never appear in the plan.
    "n1_selected" -> ((s, dir) =>
      Normalizer.composeFull(
        Catalog.products(s, dir),
        Catalog.productMeta(s, dir),
        Catalog.productTerms(s, dir),
        Normalizer.acfRender(Catalog.acfValues(s, dir)),
        graft.model.Selection(
          core = Seq("title", "description", "sku"),
          meta = Map("material" -> "text"),
          tax = Seq("product_cat"),
          acf = Seq("rating")))),

    "n2_fingerprint" -> ((s, dir) =>
      Normalizer.fingerprint(Normalizer.normalize(Catalog.products(s, dir)))),

    "n3_meta" -> ((s, dir) =>
      Normalizer.metaSections(Catalog.productMeta(s, dir))),

    "n4_acf" -> ((s, dir) =>
      Normalizer.acfRender(Catalog.acfValues(s, dir))
        .orderBy("product_id", "field_name")),

    // F11 full matrix: the 10 id-lookup/nested ACF types as dimension
    // joins + row-local unpacking (with n4_acf's scalar six → all 16).
    "n4b_acf_lookup" -> ((s, dir) =>
      Normalizer.acfRenderLookup(
        Catalog.acfLookupValues(s, dir),
        Catalog.postTitles(s, dir),
        Catalog.termDim(s, dir),
        Catalog.attachments(s, dir))
        .orderBy("product_id", "field_name")),

    "n5_terms" -> ((s, dir) =>
      Normalizer.termSections(Catalog.productTerms(s, dir))
        .orderBy("product_id", "taxonomy")),

    // The reference's FULL normalized document: core + per-key meta +
    // per-taxonomy terms + all 16 ACF types, one deterministic text per
    // product (`build_preview`, class-field-normalizer.php:30-86).
    "n7_full_text" -> ((s, dir) => {
      val acfAll = Normalizer.acfRender(Catalog.acfValues(s, dir))
        .unionByName(Normalizer.acfRenderLookup(
          Catalog.acfLookupValues(s, dir),
          Catalog.postTitles(s, dir),
          Catalog.nation(s, dir).select(
            col("n_nationkey").cast("bigint").as("term_id"),
            col("n_name").as("term_name")),
          Catalog.attachments(s, dir)))
      Normalizer.composeFull(Catalog.products(s, dir),
        Catalog.productMeta(s, dir), Catalog.productTerms(s, dir), acfAll)
    }),

    // ============ §2.2 sink semantics as checkable dataflow ============
    // (The stateful ParquetVectorStore applies these same rewrites —
    // `store/VectorStore.scala` K3/K4; here the anti-filter / anti-join
    // run over the synthetic store rows so the oracle can replay them.)

    "k3_delete_filter" -> ((s, dir) =>
      Catalog.syncState(s, dir)
        .where(!(col("product_id") % 10 === 3 && col("site_id") === 1))
        .select("vector_id", "product_id")
        .orderBy("vector_id")),

    "k4_delete_ids" -> ((s, dir) => {
      val ss = Catalog.syncState(s, dir)
      val ids = ss.where(col("product_id") % 7 === 0).select("vector_id")
      ss.join(ids, Seq("vector_id"), "left_anti")
        .select("vector_id").orderBy("vector_id")
    }),

    // ================= §2.10 delta (J4 + A4) =================

    "j4_chunk_delta" -> ((s, dir) =>
      DeltaPlan.documentsDelta(Catalog.documents(s, dir))),

    "a4_delta_summary" -> ((s, dir) =>
      DeltaPlan.summary(DeltaPlan.documentsDelta(Catalog.documents(s, dir)))),

    // ================= dedup extensions =================

    "dd_exact" -> ((s, dir) => Dedup.exact(Catalog.documents(s, dir))),

    "dd_apply" -> ((s, dir) => Dedup.dropExactDuplicates(Catalog.documents(s, dir))),

    // per-source duplication dashboard: doc counts, distinct-sha counts,
    // duplicate rate in integer basis points
    "dd_src_stats" -> ((s, dir) => Dedup.dupStatsBySource(Catalog.documents(s, dir))),

    "ta_filter" -> ((s, dir) => TextAnalysis.filterByQuality(Catalog.documents(s, dir))),

    "dd_minhash" -> ((s, dir) =>
      Dedup.minhash(Catalog.documents(s, dir)).orderBy("doc_id", "j")),

    "dd_lsh_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(Catalog.documents(s, dir))),

    // cross-split leakage audit: val/test docs with an LSH near-dup in
    // train — the eval drop-list a release applies before shipping
    "dd_split_leak" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      Dedup.splitLeakage(docs, TextAnalysis.split(docs))
    }),

    // the APPLY form: the cleaned corpus after dropping the leaked
    // eval docs the audit flagged
    "dd_leak_apply" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      Dedup.splitLeakageApply(docs, TextAnalysis.split(docs))
    }),

    // lexical-vs-semantic dedup disagreement card (vec_id ≡ doc_id)
    "dd_method_overlap" -> ((s, dir) =>
      Dedup.dedupMethodOverlap(Catalog.documents(s, dir),
        Catalog.embeddings(s, dir))),

    "dd_simhash" -> ((s, dir) => Dedup.simhash(Catalog.documents(s, dir))),

    "dd_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(Catalog.documents(s, dir))),

    "dd_jaccard" -> ((s, dir) => Dedup.jaccardConsecutive(Catalog.documents(s, dir))),

    // exact n-gram Jaccard VERIFICATION of the LSH candidates — the
    // estimate-is-not-enough stage: every candidate pair (never
    // all-pairs) gets its true shingle-set overlap and a thresholded
    // dup verdict; one shingle-hash pass feeds both signatures and sets
    "dd_jaccard_verify" -> ((s, dir) =>
      Dedup.jaccardVerifiedPairs(Catalog.documents(s, dir))),

    "dd_components" -> ((s, dir) => Dedup.lshComponents(Catalog.documents(s, dir))),

    // near-dedup materialized: canonical (min) doc per LSH cluster
    "dd_near_apply" -> ((s, dir) => Dedup.nearDupApply(Catalog.documents(s, dir))),

    // survivor policy by SOURCE priority: curated sources (src0-src9)
    // outrank crawl sources (src10+) within each near-dup cluster
    "dd_near_src" -> ((s, dir) =>
      Dedup.nearDupApplyByPriority(Catalog.documents(s, dir),
        (0 until 10).map(i => s"src$i" -> 0).toMap, defaultRank = 1)),

    // incremental dedup: incoming batch (doc_id%10>=8) classified against
    // the existing corpus (doc_id%10<8) — exact_dup / near_dup / new
    "dd_incremental" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      Dedup.incrementalDedup(
        docs.where(col("doc_id") % 10 >= 8),
        docs.where(col("doc_id") % 10 < 8))
    }),

    // incrementally-maintained GROUP BY view: the orders fact arrives
    // as three append-only batches, each folded into the persisted
    // per-priority aggregate by a keyed partial-merge — history is
    // never rescanned, so the oracle (one full-scan GROUP BY) passing
    // proves the merge algebra, the replay guard and the snapshot
    // publication all compose to the exact batch answer.
    "ia_priority_rollup" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "iagg_q")
      val ord = Catalog.orders(s, dir).select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("total_cents"))
      (0 until 3).foreach { b =>
        graft.operators.IncrementalAgg.ingest(s, root,
          ord.where(pmod(col("total_cents"), lit(3)) === b),
          keys = Seq("o_orderpriority"), values = Seq("total_cents"),
          batchId = b + 1L)
      }
      graft.operators.IncrementalAgg.view(s, root, Seq("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // incrementally-maintained HISTOGRAM (mergeable quantile summary):
    // per-priority bin counts of the order total over deterministic
    // BIGINT buckets, maintained across three batches by vector
    // addition — the rescan-free quantile path whose exact bucket
    // arithmetic the oracle mirrors (unlike a t-digest, whose layout
    // is engine-specific). Exploded to (key, bin, n) rows for hashing.
    "ia_priority_hist" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "iahist_q")
      val spec = graft.operators.HistSpec("total_cents", 0L, 60000000L, 10)
      val ord = Catalog.orders(s, dir).select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("total_cents"))
      (0 until 3).foreach { b =>
        graft.operators.IncrementalAgg.ingest(s, root,
          ord.where(pmod(col("total_cents"), lit(3)) === b),
          keys = Seq("o_orderpriority"), values = Seq.empty,
          batchId = b + 1L, hists = Seq(spec))
      }
      graft.operators.IncrementalAgg.viewHist(s, root, spec)
        .orderBy("o_orderpriority", "bin")
    }),

    // transparent materialized-view rewrite: the documents fact is
    // maintained as a (lang, source) aggregate across four append-only
    // batches, then REGISTERED as a view — and the returned query is
    // written against the RAW FACT (`documents.groupBy(lang)...`). The
    // optimizer rule ([[graft.plans.GraftViewRewrite]]) rewrites it to
    // re-aggregate the key-cardinality view (count→Σcnt, sum→Σsum,
    // min/max→min/max), exercising the SUBSET-of-keys path. The oracle
    // is the base-table SQL, so the hash match proves the rewrite is an
    // identity on results; ViewRewriteSpec pins that the optimized plan
    // really scans the view, not the fact.
    "ia_rewrite" -> ((s, dir) => {
      // drop any stale registration BEFORE the scratch root it points
      // at is deleted — between here and registerView below, matching
      // queries are served from the base table (sound either way)
      graft.plans.ViewRewrite.deregister(s, "iarw_docs")
      val (root, _) = freshScratch(s, "iarw_q")
      val docs = Catalog.documents(s, dir)
      (0 until 4).foreach { b =>
        graft.operators.IncrementalAgg.ingest(s, root,
          docs.where(pmod(col("doc_id"), lit(4)) === b),
          keys = Seq("lang", "source"), values = Seq("n_chars"),
          batchId = b + 1L)
      }
      graft.operators.IncrementalAgg.registerView(s, root, "iarw_docs",
        s"$dir/documents.parquet", Seq("lang", "source"), Seq("n_chars"))
      docs.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        min(col("n_chars").cast("long")).as("min_chars"),
        max(col("n_chars").cast("long")).as("max_chars"))
        .orderBy("lang")
    }),

    // view-served AVG — the round-10 rewrite breadth item: the raw-fact
    // avg(n_chars) query is rewritten to Σsum_n_chars / Σcnt over the
    // maintained view (weighted re-aggregation — per-group means do NOT
    // average directly, and the lang grouping is a strict SUBSET of the
    // (lang, source) view keys, so the weights genuinely differ). Both
    // sums are exact BIGINTs below 2^53, so the division is bit-equal
    // to the base plan's and the oracle's.
    "ia_rewrite_avg" -> ((s, dir) => {
      graft.plans.ViewRewrite.deregister(s, "iarwavg_docs")
      val (root, _) = freshScratch(s, "iarwa_q")
      val docs = Catalog.documents(s, dir)
      (0 until 4).foreach { b =>
        graft.operators.IncrementalAgg.ingest(s, root,
          docs.where(pmod(col("doc_id"), lit(4)) === b),
          keys = Seq("lang", "source"), values = Seq("n_chars"),
          batchId = b + 1L)
      }
      graft.operators.IncrementalAgg.registerView(s, root, "iarwavg_docs",
        s"$dir/documents.parquet", Seq("lang", "source"), Seq("n_chars"))
      docs.groupBy("lang").agg(
        avg(col("n_chars").cast("long")).as("avg_chars"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
        .orderBy("lang")
    }),

    // persisted dedup index: build-once/probe-many — the corpus's LSH
    // band signatures persist as an immutable-generation index
    // (StateCommit snapshots, tombstone deletes), and each incoming
    // batch pays one signature pass + a broadcast probe instead of a
    // corpus rescan. Band semantics are dd_lsh_pairs'; the oracle runs
    // the same band chain once over the full corpus (signatures are
    // row-local per doc) and splits batch/corpus in the final join.
    "dd_index_query" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "ddidx_q")
      val docs = Catalog.documents(s, dir)
      graft.operators.DedupIndex.build(docs.where(col("doc_id") % 10 < 8), root)
      graft.operators.DedupIndex.queryNearDups(s, root,
        docs.where(col("doc_id") % 10 >= 8))
    }),

    // the index probe aggregated to per-doc curation verdicts: one row
    // per incoming doc (new / near_dup / likely_exact), best candidate
    // by (sig matches, smallest id) — the drop/keep list a dedup-at-
    // ingest stream takes from [[DedupIndex.classifyBatch]] per batch,
    // before [[DedupIndex.upsert]] folds the batch in
    "dd_index_classify" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "ddcls_q")
      val docs = Catalog.documents(s, dir)
      graft.operators.DedupIndex.build(docs.where(col("doc_id") % 10 < 8), root)
      graft.operators.DedupIndex.classifyBatch(s, root,
        docs.where(col("doc_id") % 10 >= 8))
    }),

    // eval-leakage check: docs 0-4 act as the benchmark set
    "dd_decontaminate" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      Dedup.decontaminate(docs, docs.where(col("doc_id") < 5))
    }),

    // substring-level dedup: duplicated 8-gram spans per document
    "dd_spans" -> ((s, dir) => Dedup.duplicateSpans(Catalog.documents(s, dir))),

    // span-cut APPLY: the cleaned text with every duplicated span removed
    "dd_spans_apply" -> ((s, dir) =>
      Dedup.duplicateSpansApply(Catalog.documents(s, dir))),

    // persisted inverted index + BM25 search: build-once/query-many
    // lexical retrieval — a query reads ONLY its terms' posting rows
    // (token IN pushes to the scan), scores Okapi BM25 in exact
    // micro-point BIGINTs, and the oracle recomputes the same math
    // from the raw corpus, proving the index IS the corpus statistics
    "lx_search" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "lx_q")
      graft.operators.LexIndex.build(s, Catalog.documents(s, dir), root)
      graft.operators.LexIndex.search(s, root,
        Seq("vector", "merge", "spark"), k = 10)
    }),

    // INCREMENTAL index maintenance, gated against the full-corpus
    // oracle: 80% of the corpus builds, the remaining 20% upserts as
    // an immutable generation with algebraically-merged df/stats — the
    // hash match proves incremental-upsert ≡ from-scratch-rebuild
    // exactly (df and corpus totals are additive over disjoint docs)
    "lx_search_inc" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "lxi_q")
      val docs = Catalog.documents(s, dir)
      graft.operators.LexIndex.build(s, docs.where(col("doc_id") % 5 =!= 0), root)
      graft.operators.LexIndex.upsert(s, docs.where(col("doc_id") % 5 === 0), root)
      graft.operators.LexIndex.search(s, root,
        Seq("vector", "merge", "spark"), k = 10)
    }),

    // tombstoned document DELETION, gated against the filtered-corpus
    // oracle: the full corpus builds, every doc_id % 7 == 0 deletes
    // (metadata-only — tombstones + algebraic df/stats corrections, no
    // posting rewrite), and the search must hash-match a from-scratch
    // rebuild WITHOUT the victims — the takedown path is exact
    "lx_search_del" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "lxd_q")
      val docs = Catalog.documents(s, dir)
      graft.operators.LexIndex.build(s, docs, root)
      graft.operators.LexIndex.delete(s, root,
        docs.where(col("doc_id") % 7 === 0).select("doc_id"))
      graft.operators.LexIndex.search(s, root,
        Seq("vector", "merge", "spark"), k = 10)
    }),

    // atomic live-document UPDATE, gated against the updated-corpus
    // oracle: the full corpus builds, every doc_id % 11 == 3 upserts
    // with appended text in ONE snapshot (tombstone-advance + new
    // generation + exact subtract-old/add-new df/stats algebra), and
    // the search must hash-match a from-scratch rebuild over the
    // updated corpus — the in-place-update path is exact
    "lx_search_upd" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "lxu_q")
      val docs = Catalog.documents(s, dir)
      graft.operators.LexIndex.build(s, docs, root)
      graft.operators.LexIndex.upsert(s,
        docs.where(col("doc_id") % 11 === 3)
          .select(col("doc_id"),
            concat(col("text"), lit(" updated revision text")).as("text")),
        root)
      graft.operators.LexIndex.search(s, root,
        Seq("vector", "merge", "spark"), k = 10)
    }),

    // CDC-batch UPDATE, gated against the winner-only oracle: one
    // upsert batch carries TWO versions of every modified doc (two
    // edits inside a trigger window, ordered by a seq column), and the
    // search must hash-match a from-scratch rebuild where ONLY the
    // seq-max version exists — proving the last-wins collapse keeps
    // intra-batch duplicates from unioning postings or double-counting
    // corpus stats. v1 is token-heavy on a query term so a chimera or
    // a wrong winner diverges loudly
    "lx_search_cdc" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "lxc_q")
      val docs = Catalog.documents(s, dir)
      graft.operators.LexIndex.build(s, docs, root)
      val targets = docs.where(col("doc_id") % 13 === 5)
      val v1 = targets.select(col("doc_id"), lit(1L).as("seq"),
        concat(col("text"), lit(" vector vector vector draft")).as("text"))
      val v2 = targets.select(col("doc_id"), lit(2L).as("seq"),
        concat(col("text"), lit(" final merge revision")).as("text"))
      graft.operators.LexIndex.upsert(s, v1.unionByName(v2), root,
        seqCol = "seq")
      graft.operators.LexIndex.search(s, root,
        Seq("vector", "merge", "spark"), k = 10)
    }),

    // hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    // ranking with a brute-force cosine ranking of embedding 0
    // (vec_id ≡ doc_id) — integer-division RRF, so fusion is exact
    "lx_hybrid" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "lxh_q")
      graft.operators.LexIndex.build(s, Catalog.documents(s, dir), root)
      graft.operators.LexIndex.hybrid(s, root,
        Seq("vector", "merge", "spark"), Catalog.embeddings(s, dir),
        queryVecId = 0L, k = 10, poolK = 50)
    }),

    // the DUAL-persisted-index retrieval stack: BM25 from the lexical
    // index fused (exact integer RRF) with the persisted ANN index's
    // cell-pruned pool — both legs build-once/query-many; the oracle
    // composes the bm25 chain with the ivf-kmeans chain verbatim
    "lx_hybrid_ann" -> ((s, dir) => {
      val (lexRoot, _) = freshScratch(s, "lxha_l")
      val (annRoot, _) = freshScratch(s, "lxha_a")
      val emb = Catalog.embeddings(s, dir)
      graft.operators.LexIndex.build(s, Catalog.documents(s, dir), lexRoot)
      graft.operators.AnnIndex.build(emb, annRoot, nCells = 8)
      graft.operators.LexIndex.hybridAnn(s, lexRoot,
        Seq("vector", "merge", "spark"), annRoot,
        emb.where(col("vec_id") === 0L)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        k = 10, poolK = 50)
    }),

    // small-file compaction, gated content-neutral the j13 way: the
    // events fact lands partitioned by event_type as ~16 files per
    // partition (a simulated micro-batch ingest history), Compact
    // bin-packs every partition to ≤2 files via a pruned rewrite +
    // per-partition rename swap, and the aggregate read back must
    // equal the oracle's aggregate of the ORIGINAL table — compaction
    // changed the file layout, provably not the data.
    "cp_compact_scan" -> ((s, dir) => {
      val (base, _) = freshScratch(s, "cp_q")
      Catalog.events(s, dir).select(
          col("user_id"), col("event_type"),
          floor(col("value").cast("double") * 100 + 0.5).cast("long").as("cents"))
        .repartition(16).write.mode("overwrite")
        .partitionBy("event_type").parquet(s"$base/ev")
      graft.operators.Compact.compact(s, s"$base/ev", "event_type",
        maxFiles = 4, targetFiles = 2)
      s.read.parquet(s"$base/ev")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("total_cents"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    // blocked edit-distance entity resolution: a dirty probe batch
    // (every 10th part name with its 6th character dropped) resolves
    // against the master part table — candidates share a 5-char prefix
    // blocks (prefix-5 UNION suffix-5 equi-joins — the dual ER blocking
    // pass; probe side broadcast, master never shuffles), and only
    // within-block pairs pay the exact levenshtein verify. The
    // corruption deletes char 2 — INSIDE the prefix block, the
    // documented single-pass blocking miss (a prefix-only resolve finds
    // ZERO of these true matches; measured at sf0.1 in round 10) — and
    // the suffix pass recovers every one, at a wall-clock ~equal to the
    // old single-pass query. Both engines derive the same corruption,
    // so the pair set and distances must match exactly.
    // verifyDistinctTexts: this corpus has far fewer distinct names
    // than rows, so verification runs once per distinct text pair and
    // re-expands by key (the round-10 scale-curve fix: 757 s -> 67 s
    // at 10x data; the residue is the inherently 100x output multiset) — result set identical, spec-pinned.
    "dd_fuzzy" -> ((s, dir) => {
      val part = Catalog.part(s, dir).select(col("p_partkey"), col("p_name"))
      val probe = part.where(col("p_partkey") % 10 === 0)
        .withColumn("p_name",
          concat(substring(col("p_name"), 1, 1), expr("substring(p_name, 3)")))
      graft.operators.FuzzyJoin.resolve(part, probe, "p_partkey", "p_name",
        prefixLen = 5, maxDist = 2, dualBlock = true,
        verifyDistinctTexts = true)
        .orderBy("probe_key", "match_key")
    }),

    // the BUDGETED form (round 16): top-`cap` matches per probe row by
    // (dist, match_key) + a capped flag — output |probe| × cap-bounded
    // by construction, the catalog entry that stays runnable at sf10
    // where dd_fuzzy's full multiset is output-combinatorial
    "dd_fuzzy_capped" -> ((s, dir) => {
      val part = Catalog.part(s, dir).select(col("p_partkey"), col("p_name"))
      val probe = part.where(col("p_partkey") % 10 === 0)
        .withColumn("p_name",
          concat(substring(col("p_name"), 1, 1), expr("substring(p_name, 3)")))
      graft.operators.FuzzyJoin.resolveCapped(part, probe, "p_partkey",
        "p_name", prefixLen = 5, maxDist = 2, dualBlock = true, cap = 10)
        .orderBy("probe_key", "match_key")
    }),

    // the assignment form: best (lowest-distance, then lowest-key)
    // master match per dirty record
    "dd_fuzzy_best" -> ((s, dir) => {
      val part = Catalog.part(s, dir).select(col("p_partkey"), col("p_name"))
      val probe = part.where(col("p_partkey") % 10 === 0)
        .withColumn("p_name",
          concat(substring(col("p_name"), 1, 1), expr("substring(p_name, 3)")))
      graft.operators.FuzzyJoin.resolveBest(part, probe, "p_partkey", "p_name",
        prefixLen = 5, maxDist = 2, dualBlock = true,
        verifyDistinctTexts = true)
        .orderBy("probe_key")
    }),

    // snapshot diff between two dataset releases: the "after" cut is a
    // deterministic variant of documents (drop %17, edit text on %13,
    // add re-keyed copies of %19), so both engines derive both sides
    // and the full per-key delta — added/removed/changed with content
    // hashes — must match byte-for-byte. Payload never shuffles: each
    // side reduces to (key, sha256) in the scan stage (TableDiffSpec
    // pins the exchange schema).
    "dt_diff" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
      graft.operators.TableDiff.diff(docs, docsAfterVariant(docs),
        "doc_id", Seq("text", "lang", "source", "n_chars"))
        .orderBy("doc_id")
    }),

    // the release-note card over the same delta: counts per status,
    // unchanged included
    "dt_diff_summary" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
      graft.operators.TableDiff.diffSummary(docs, docsAfterVariant(docs),
        "doc_id", Seq("text", "lang", "source", "n_chars"))
    }),

    // ================= similarity extensions =================

    "sim_topk" -> ((s, dir) => Similarity.bruteForceTopK(Catalog.embeddings(s, dir))),

    // hard-negative mining: per query, top-k most-similar DIFFERENT-label
    // candidates — the contrastive-training data step
    "sim_hardneg" -> ((s, dir) => Similarity.hardNegatives(Catalog.embeddings(s, dir))),

    "sim_lsh_buckets" -> ((s, dir) => Similarity.lshBuckets(Catalog.embeddings(s, dir))),

    // embedding near-dup pairs on the CELL-LOCAL candidate path (round
    // 12): candidates are same-cell pairs under a corpus-adaptive
    // k-means quantizer (one cell per 32 vectors, 2 probes) — linear
    // candidate volume where the banded form kept Θ(n²/2^bits)
    "sim_near_dup" -> ((s, dir) =>
      Similarity.cosineNearDupCells(Catalog.embeddings(s, dir),
        threshold = 0.35)),

    // embedding-level benchmark decontamination: every 20th vector acts
    // as the held-out eval set (broadcast), and train vectors cosine-
    // close to any bucket-mate benchmark vector are flagged with their
    // best score and the offending benchmark id — the semantic
    // companion to dd_decontaminate's shingle matching
    // the bench side is the FIXED eval set: a real benchmark does not
    // grow with the corpus, so the split caps it at the first 100
    // step-20 ids (vec_id < 2000 — vacuous at sf0.01/sf0.1 where every
    // id is < 2000, so those oracles are bit-identical; at the 100×
    // fixture it pins bench at 100 rows and the curve measures
    // train-side growth only — the deployment shape). Uncapped, the
    // 100× candidate volume is bands·n_t·n_b/2^bandBits with BOTH
    // sides ∝ corpus: quadratic (measured 290× at 100× data, r16).
    "sim_decon" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      Similarity.semanticDecontaminate(
        emb.where(col("vec_id") % 20 =!= 0 || col("vec_id") >= 2000),
        emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 2000))
    }),

    // banded (OR-amplified) semantic decontamination on the same split:
    // candidates share ANY of 8 four-bit sign-bands instead of one
    // 8-bit bucket — recall ≈ 1 at paraphrase-level cosine vs ~29%
    "sim_decon_banded" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      Similarity.semanticDecontaminateBanded(
        emb.where(col("vec_id") % 20 =!= 0 || col("vec_id") >= 2000),
        emb.where(col("vec_id") % 20 === 0 && col("vec_id") < 2000))
    }),

    // bucketed kNN graph: every vector's top-k among its sign-LSH
    // bucket-mates — the every-vector scale path next to sim_topk's
    // brute-force few-query baseline
    "sim_knn" -> ((s, dir) => Similarity.knnGraph(Catalog.embeddings(s, dir))),

    // kNN label-agreement audit: majority vote of bucket-mate neighbors
    // vs the stored label — the label-noise review queue
    "sim_knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(Catalog.embeddings(s, dir))),

    // SemDeDup survivors: embedding-cosine near-dup graph -> min-label
    // components -> canonical-min survivor (the semantic counterpart of
    // dd_near_apply; catches paraphrases lexical MinHash can't see)
    "sim_semdedup" -> ((s, dir) =>
      Similarity.semanticDedupCells(Catalog.embeddings(s, dir),
        threshold = 0.35)),

    // SemDeDup APPLY: the survivor decision (made in embedding space)
    // filters the documents corpus — one narrow id join; the dedup
    // action a curation pipeline actually ships
    "sim_semdedup_apply" -> ((s, dir) => {
      val surv = Similarity
        .semanticDedupCells(Catalog.embeddings(s, dir), threshold = 0.35)
        .where(col("survivor") === 1)
        .select(col("vec_id").as("doc_id"))
      Catalog.documents(s, dir).join(surv, Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("bigint").as("text_len"))
        .orderBy("doc_id")
    }),

    // incremental semantic dedup: a new batch routes through the SAME
    // corpus-trained cell quantizer as the batch path and probes only
    // its cell-mates — the online-ingestion shape (corpus never
    // re-clusters; candidates corpus-size-INDEPENDENT, the round-13
    // verdict's scale fix); same 80/20 split convention as dd_incremental
    "sim_semdedup_inc" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      Similarity.semanticDedupIncrementalCells(
        emb.where(col("vec_id") % 10 >= 8),
        emb.where(col("vec_id") % 10 < 8), threshold = 0.35)
    }),

    // source-priority SemDeDup survivors: curated sources (src0-4) beat
    // the rest within each embedding cluster, ties to smallest id
    "sim_semdedup_priority" -> ((s, dir) =>
      Similarity.semanticDedupByPriorityCells(
        Catalog.embeddings(s, dir), Catalog.documents(s, dir),
        (0 until 5).map(i => s"src$i" -> 0).toMap, defaultRank = 1,
        threshold = 0.35)),

    "sim_ivf" -> ((s, dir) => Similarity.ivfTopK(Catalog.embeddings(s, dir))),

    "sim_ivf2" -> ((s, dir) =>
      Similarity.ivfTopK(Catalog.embeddings(s, dir), nProbes = 2)),

    "sim_ivf_kmeans" -> ((s, dir) =>
      Similarity.ivfKmeansTopK(Catalog.embeddings(s, dir))),

    // cluster-balanced prototypicality pruning (SSL-prototypes): per
    // kmeans cell, drop the 30% most-prototypical members — the
    // data-pruning counterpart of SemDeDup, sharing the IVF quantizer
    "sim_prototypes" -> ((s, dir) =>
      Similarity.prototypesPrune(Catalog.embeddings(s, dir))),

    // EXACT semantic decontamination (sim_decon's brute-force recall
    // baseline, the exact↔approx pairing): max cosine of every training
    // vector to the 8-smallest-id eval set, flagged at 0.3
    "sim_decon_exact" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      val eval = emb.orderBy("vec_id").limit(8)
      Similarity.semanticDecontaminateExact(
        emb.join(eval.select("vec_id"), Seq("vec_id"), "left_anti"),
        eval, threshold = 0.3)
    }),

    // persisted IVF index: build-once/query-many — the index is a
    // cell-PARTITIONED parquet table and the probe set prunes at the
    // partition (file) level; with nProbes=1 the result contract is
    // exactly ivfKmeansTopK's, so it shares that oracle (and AnnIndexSpec
    // pins the row-for-row equality + the PartitionFilters plan gate)
    // persisted SEMANTIC dedup index (round 15): train-once quantizer +
    // corpus cell assignments under the StateCommit discipline; the
    // probe is spec-pinned row-identical to sim_semdedup_inc's in-query
    // operator on this exact split, so it shares that oracle verbatim —
    // the amortization point is that THIS path never retrains per batch
    "sim_semdedup_store" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "sdd_q")
      val emb = Catalog.embeddings(s, dir)
      graft.operators.SemDedupIndex.build(
        emb.where(col("vec_id") % 10 < 8), root)
      graft.operators.SemDedupIndex.probe(s, root,
        emb.where(col("vec_id") % 10 >= 8), threshold = 0.35)
    }),

    // retrieval over the SAME persisted artifact (round-15 stretch:
    // one training job, two families): the SemDedupIndex's stored
    // quantizer + cell assignments serve cosine top-k — queries route
    // through the stored super→child search, candidates are cell-mates
    "sim_semdedup_search" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "sds_q")
      val emb = Catalog.embeddings(s, dir)
      graft.operators.SemDedupIndex.build(emb, root)
      graft.operators.SemDedupIndex.searchTopK(s, root,
        emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        k = 5)
    }),

    "sim_ann_store" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "ann_q")
      val emb = Catalog.embeddings(s, dir)
      graft.operators.AnnIndex.build(emb, root, nCells = 8)
      graft.operators.AnnIndex.search(s, root,
        emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        nProbes = 1, k = 5)
    }),

    // persisted IVF-PQ index: codes-not-vectors in the cells — the
    // billion-vector production layout. Built and searched with the
    // same training as the in-query operator, so it shares
    // sim_ivfpq_topk's oracle (AnnIndexPqSpec pins the row-for-row
    // equality and the file-level pruning)
    "sim_annpq_store" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "pqidx_q")
      val emb = Catalog.embeddings(s, dir)
      graft.operators.AnnIndexPq.build(emb, root)
      graft.operators.AnnIndexPq.search(s, root,
        emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        nProbes = 2, k = 5)
    }),

    // two-stage ANN: ADC shortlist (pool 20) from the codes-only index,
    // exact cosine re-rank of just those candidates against the raw
    // vectors (id-keyed fetch, never a scan) — the FAISS-style
    // production search; oracle = the ivf-pq SQL with its pool widened
    // and a cosine re-rank stage appended
    "sim_annpq_rerank" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "pqrr_q")
      val emb = Catalog.embeddings(s, dir)
      graft.operators.AnnIndexPq.build(emb, root)
      graft.operators.AnnIndexPq.searchRerank(s, root,
        emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        emb, nProbes = 2, k = 5, poolK = 20)
    }),

    "sim_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Catalog.embeddings(s, dir))),

    // per-label embedding centroids (mean pooling / class prototypes)
    "sim_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Catalog.embeddings(s, dir))),

    // mislabeled-sample flagging: cosine to the own-label centroid,
    // outliers = vectors anti-correlated with their class prototype
    "sim_outliers" -> ((s, dir) =>
      Similarity.centroidOutliers(Catalog.embeddings(s, dir))),

    // product-quantization encode: 8×8-dim codebooks, 1 Lloyd round
    "sim_pq" -> ((s, dir) => Similarity.pqEncode(Catalog.embeddings(s, dir))),

    // PQ ADC search: per-query LUT against the codebook, candidates
    // ranked by integer sums of their codes' table entries
    "sim_pq_topk" -> ((s, dir) => Similarity.pqTopK(Catalog.embeddings(s, dir))),

    // IVF-PQ: coarse cell + PQ codes of the residual (the production
    // billion-vector index posting)
    "sim_ivfpq" -> ((s, dir) => Similarity.ivfPqEncode(Catalog.embeddings(s, dir))),

    // IVF-PQ search: probe 2 coarse cells, ADC over residual codes —
    // cell pruning and vector compression composed
    "sim_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(Catalog.embeddings(s, dir))),

    // ================= text analysis =================

    "ta_langid" -> ((s, dir) => TextAnalysis.langId(Catalog.documents(s, dir))),
    "ta_quality" -> ((s, dir) => TextAnalysis.quality(Catalog.documents(s, dir))),

    // quality pyramid: 10 equal-population tiers + per-tier token mass
    "ta_tiers" -> ((s, dir) =>
      TextAnalysis.qualityTiers(Catalog.documents(s, dir))),
    "ta_tokens" -> ((s, dir) => TextAnalysis.tokenCounts(Catalog.documents(s, dir))),
    "ta_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Catalog.documents(s, dir))),
    "ta_winnow" -> ((s, dir) => TextAnalysis.winnow(Catalog.documents(s, dir))),

    "ta_split" -> ((s, dir) => TextAnalysis.split(Catalog.documents(s, dir))),

    "ta_stats" -> ((s, dir) => TextAnalysis.corpusStats(Catalog.documents(s, dir))),

    "ta_pack" -> ((s, dir) => TextAnalysis.packPlan(Catalog.documents(s, dir))),

    // packing-efficiency card: bins, token mass, utilization bps per lang
    "ta_pack_stats" -> ((s, dir) =>
      TextAnalysis.packStats(Catalog.documents(s, dir))),

    "ta_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Catalog.documents(s, dir))),

    "ta_sample" -> ((s, dir) =>
      TextAnalysis.qualitySample(Catalog.documents(s, dir))),

    "ta_mix" -> ((s, dir) => TextAnalysis.mixPlan(Catalog.documents(s, dir))),

    // T=2 temperature sampling shares (the multilingual-LM upsampling rule)
    "ta_mix_temp" -> ((s, dir) =>
      TextAnalysis.mixTemperature(Catalog.documents(s, dir))),

    // per-language token-count quantiles (exact)
    "ta_quantiles" -> ((s, dir) =>
      TextAnalysis.tokenQuantiles(Catalog.documents(s, dir))),

    // per-language exact vocabulary cardinality
    "ta_cardinality" -> ((s, dir) =>
      TextAnalysis.tokenCardinality(Catalog.documents(s, dir))),

    // heavy hitters: frequent tokens above an absolute count (exact,
    // one combinable shuffle)
    "ta_heavy" -> ((s, dir) =>
      TextAnalysis.heavyHitters(Catalog.documents(s, dir), minCount = 300)),

    // stratified sampling: deterministic per-language fractions
    // per-language winsorization of doc length: clamp to the exact
    // interpolated [p05, p95] band (bounds broadcast, clamp map-only) —
    // the outlier cap run before length stats feed mixture weights
    "ta_winsorize" -> ((s, dir) =>
      TextAnalysis.winsorize(Catalog.documents(s, dir))),

    "ta_stratified" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(Catalog.documents(s, dir),
        Map("en" -> 0.25, "es" -> 0.5, "de" -> 0.75))),

    // deterministic seeded sharding: per-shard balance card (map-only
    // assignment + one combinable aggregation)
    "ta_shard" -> ((s, dir) =>
      TextAnalysis.shardBalance(Catalog.documents(s, dir))),

    // per-doc token entropy + type-token ratio in integer micro-nats /
    // basis points: one row-local mapPartitions pass, zero shuffle
    // per-doc feature matrix: the training table for a real quality
    // classifier — structural + diversity + repetition + LM features
    "ta_features" -> ((s, dir) =>
      TextAnalysis.featureMatrix(Catalog.documents(s, dir))),

    "ta_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(Catalog.documents(s, dir))),

    // hashing-trick linear quality scorer (deterministic disclosed
    // weights): closure weight table, row-local integer scoring
    "ta_classify" -> ((s, dir) =>
      TextAnalysis.classifyQuality(Catalog.documents(s, dir))),

    // per-source quota cap: deterministic hash lottery, two-phase salted
    // top-N so a mega-source cannot straggle the window
    "dd_cap_source" -> ((s, dir) =>
      Dedup.capPerSource(Catalog.documents(s, dir))),

    // per-source TOKEN budget: hash-lottery prefix until the running
    // token total exceeds the budget (prior-sum salted pre-prune)
    "dd_budget_source" -> ((s, dir) =>
      Dedup.tokenBudgetPerSource(Catalog.documents(s, dir), budgetTokens = 800)),

    // sign random projection 64 -> 16 (JL): exact integer micro-unit
    // contract, sign matrix in the task closure (map-only)
    "sim_rp" -> ((s, dir) =>
      Similarity.randomProject(Catalog.embeddings(s, dir))),

    "ta_vocab" -> ((s, dir) => TextAnalysis.vocabTopK(Catalog.documents(s, dir))),

    // BPE merge training: the learned merge table (deterministic argmax
    // with lexicographic tie-break). The bounded 20-round loop unrolls
    // into a chained-CTE DuckDB oracle (OracleSql.bpeMerges), so the
    // driver records a full hash gate; BpeSpec additionally verifies the
    // merge sequence against an independent sequential reference.
    "ta_bpe" -> ((s, dir) =>
      operators.Bpe.bpeMerges(Catalog.documents(s, dir), nMerges = 20)),

    // BPE segmenter over a FIXED merge table (Bpe.DemoMerges): map-only
    // over the corpus, merge list broadcast via closure; the oracle
    // mirrors the rank-ordered merges as nested list folds.
    "ta_bpe_encode" -> ((s, dir) =>
      operators.Bpe.bpeEncode(Catalog.documents(s, dir), operators.Bpe.DemoMerges)),

    // per-language tokenizer fertility (subwords/word, basis points)
    // over the fixed demo merge table — the tokenizer-efficiency card
    "ta_fertility" -> ((s, dir) =>
      operators.Bpe.tokenizerFertility(Catalog.documents(s, dir))),

    // CAPSTONE — the corpus-release pipeline composed end to end from the
    // operators above: quality filter → exact dedup → near-dedup →
    // deterministic split → data-card counts, with each stage's keep-id
    // list materialized at a stage boundary (r3's all-lazy composition
    // re-derived the upstream dedup lineage per downstream branch — 20 s,
    // 26% of the whole bench; see TextAnalysis.releasePipeline).
    "ta_release" -> ((s, dir) =>
      TextAnalysis.releasePipeline(Catalog.documents(s, dir))),

    // CAPSTONE V2 — the classifier-era chain: model-scored keep ->
    // exact dedup -> near dedup -> per-source token budget, reported as
    // a per-stage shrinkage card (stage, n_docs, n_tokens)
    "ta_release2" -> ((s, dir) =>
      TextAnalysis.releasePipelineV2(Catalog.documents(s, dir))),

    // TF-IDF keyword extraction: top-3 terms per document
    "ta_tfidf" -> ((s, dir) => TextAnalysis.tfidfTopK(Catalog.documents(s, dir))),

    // BM25 keyword extraction: tf-saturating, length-normalized tfidf
    "ta_bm25" -> ((s, dir) => TextAnalysis.bm25TopK(Catalog.documents(s, dir))),

    // unigram-LM surprisal (perplexity-filter slot), BIGINT micro-bits
    "ta_unigram" -> ((s, dir) =>
      TextAnalysis.unigramSurprisal(Catalog.documents(s, dir))),

    // bigram-LM surprisal: context-sensitive word-salad detector
    "ta_bigram" -> ((s, dir) =>
      TextAnalysis.bigramSurprisal(Catalog.documents(s, dir))),

    // perplexity-band filter (the unigram scorer's APPLY form)
    "ta_lm_filter" -> ((s, dir) =>
      TextAnalysis.lmFilter(Catalog.documents(s, dir), 4890000L, 4950000L)),

    // DSIR importance weights: score every non-src1 doc by how
    // target-like (src1-like) its hashed-n-gram bag is — BIGINT
    // micro-nat log-ratios (Xie et al. 2023 importance resampling)
    "ta_dsir" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      TextAnalysis.dsirWeights(
        docs.where(col("source") =!= "src1"),
        docs.where(col("source") === "src1"))
    }),

    // DSIR selection: deterministic Gumbel top-50 resample ∝ weight
    "ta_dsir_select" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      TextAnalysis.dsirSelect(
        docs.where(col("source") =!= "src1"),
        docs.where(col("source") === "src1"))
    }),

    // persisted DSIR model: fit-once/score-many — fit commits a frozen
    // (bucket, micro) table, score applies it at ingest; same shared
    // math as ta_dsir, so it shares that oracle
    "ta_dsir_store" -> ((s, dir) => {
      val (root, _) = freshScratch(s, "dsir_m")
      val docs = Catalog.documents(s, dir)
      val raw = docs.where(col("source") =!= "src1")
      graft.operators.DsirModel.fit(raw, docs.where(col("source") === "src1"), root)
      graft.operators.DsirModel.score(s, root, raw)
    }),

    // PII scrub over documents with a deterministic composed contact
    // suffix (the corpus itself carries no PII; oracle mirrors the compose).
    "ta_scrub" -> ((s, dir) =>
      TextAnalysis.scrub(Catalog.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com or https://ex.test/d/"), col("doc_id"),
          lit(" ref 1234567"), col("doc_id")).as("text")))),

    // ================= multimodal + streaming =================

    "mm_binary_meta" -> ((s, dir) => Multimodal.binaryMeta(Catalog.documents(s, dir))),

    "mm_frames" -> ((s, dir) => Multimodal.frameSamplePlan(Catalog.documents(s, dir))),

    "st_hourly" -> ((s, dir) => EventStream.hourlyCounts(s, dir)),

    "st_debounce" -> ((s, dir) => EventStream.debouncedTotals(s, dir)),

    "st_sessions" -> ((s, dir) => EventStream.sessionCounts(s, dir)),

    "st_sliding" -> ((s, dir) => EventStream.slidingCounts(s, dir)),

    // Streaming-dedup batch analog: an at-least-once feed (every 7th
    // event replayed) deduped back to exactly-once, summarized by type
    // (the streaming form — dropDuplicatesWithinWatermark — is driven by
    // StreamingSemanticsSpec; this verifies the dedup arithmetic).
    "st_dedup" -> ((s, dir) => {
      val ev = Catalog.events(s, dir)
      val replayed = ev.unionByName(ev.where(col("event_id") % 7 === 0))
      EventStream.dedupBatch(replayed)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // T1 lifecycle routing: CDC change rows → index/delete/skip decisions
    "t1_route" -> ((s, dir) =>
      Scans.lifecycleRoute(Catalog.lifecycleCdc(s, dir))),

    // J7 as-of join: each purchase attributed to the user's latest prior
    // click — union-and-window (ONE user_id shuffle), not an inequality
    // join. Epoch-micros BIGINT output.
    "j7_asof" -> ((s, dir) => Temporal.asofAttribution(Catalog.events(s, dir))),

    // J8 interval join: ALL clicks within 30 min before each purchase —
    // equi-join on user_id + residual range predicate
    "j8_interval" -> ((s, dir) => Temporal.intervalJoin(Catalog.events(s, dir))),

    // J9 ordered funnel: signup -> click -> purchase conversion counts
    "j9_funnel" -> ((s, dir) => Temporal.funnel(Catalog.events(s, dir))),

    // cohort retention triangle: signup-week cohorts x weeks-since-signup
    "j10_cohort" -> ((s, dir) =>
      Temporal.cohortRetention(Catalog.events(s, dir))),

    // hourly event-rate anomaly: z-score (integer milli) vs the trailing
    // 24 observed hourly buckets, from exact integer window sums
    "a5_rate_anomaly" -> ((s, dir) =>
      Temporal.rateAnomaly(Catalog.events(s, dir))),

    // dense hourly resample with explicit zero-filled gaps: the grid
    // generates row-locally from each event_type's aggregated span
    // (sequence/explode over key-cardinality rows — no global-calendar
    // cross join), so sparse hours appear as (0, 0) rows downstream
    // rate math can trust
    "t2_resample" -> ((s, dir) => {
      val ev = Catalog.events(s, dir).select(col("event_type"), col("ts"),
        floor(col("value").cast("double") * 100 + 0.5).cast("long").as("cents"))
      Temporal.resample(ev, "event_type", "ts", "cents", 3600000000L)
        .orderBy("event_type", "bucket_us")
    }),

    // near-dup cluster-size histogram over the shared components chain
    "dd_cluster_hist" -> ((s, dir) =>
      Dedup.clusterSizeHistogram(Catalog.documents(s, dir))),

    // semi-structured payload rollup: typed field out of the JSON props
    "s8_json_props" -> ((s, dir) => Scans.propsRollup(Catalog.events(s, dir))),

    // OLAP grouping sets: revenue subtotals at (flag, status), (flag), ()
    // — Spark ROLLUP ≡ DuckDB ROLLUP, null-marked subtotal rows. sum_qty
    // as BIGINT (quantity is integral) — same driver-hash rationale as q1.
    "q9_rollup" -> ((s, dir) =>
      Catalog.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")),

    // full CUBE with an explicit grouping_id: all four aggregation
    // levels (flag×status, per-flag, per-status, grand total) in ONE
    // pass — Spark expands the cube map-side and partial-aggregates
    // each level before the single shuffle, the plan a 100 TB OLAP
    // rollup wants (vs four scans + union). gid disambiguates subtotal
    // NULLs from data NULLs, cast INT on both sides.
    "q27_cube" -> ((s, dir) =>
      Catalog.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          grouping_id().cast("int").as("gid"))
        .orderBy("gid", "l_returnflag", "l_linestatus")),

    // customer value ladder: the remaining window-function family in
    // one deterministic exact-integer query — ntile quartiles over the
    // FULL segment (computed before the top-50 cut), lag gap to the
    // next-bigger spender in cents, row_number for the cut. The window
    // runs over the partial-agged per-customer totals (one row per
    // customer crosses the window shuffle, never per order).
    "q28_value_ladder" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment")
        .orderBy(col("total_cents").desc, col("c_custkey"))
      val totals = Catalog.orders(s, dir)
        .groupBy("o_custkey")
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("total_cents"))
      val cust = Catalog.customer(s, dir).select("c_custkey", "c_mktsegment")
      totals.join(cust, totals("o_custkey") === cust("c_custkey"))
        .select(col("c_mktsegment"), col("c_custkey").cast("long").as("c_custkey"),
          col("total_cents"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("gap_cents",
          coalesce(lag(col("total_cents"), 1).over(w) - col("total_cents"), lit(0L)))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 50)
        .orderBy("c_mktsegment", "rn")
    }),

    // NOTE: rounds 2–4 carried diag_dec_* driver-hash probes here. They
    // are retired — both shapes (natural (28,2) and post-agg (38,2) cast)
    // failed the driver hash while q3/q5/q8's decimals pass, confirming
    // BIGINT fixed-point as the aggregate output contract for gated
    // small-row aggregates. Conclusion recorded in COVERAGE.md.
  )

  // ======================= DuckDB oracles =======================

  private val P = OracleSql.prologue

  /** SQL mirror of [[Catalog.eventLog]] — the reference's log-row shape
    * (`class-events.php:105`) derived from the events stream table. */
  private val EventLogSql =
    """WITH event_log AS (
      |  SELECT event_id, ts, 1 AS site_id, user_id AS product_id,
      |    CASE WHEN CAST(props->>'k' AS INTEGER) % 2 = 0
      |         THEN 'local' ELSE 'vs' END AS target,
      |    event_type AS action,
      |    CASE WHEN event_type = 'error' THEN 'error' ELSE 'success' END AS outcome,
      |    round(value, 2) AS duration_ms
      |  FROM events
      |)
      |""".stripMargin
  private val stripHtmlSql =
    // trim(collapse-ws(strip-tags(x))) — mirror of Functions.stripHtml
    (x: String) => s"trim(regexp_replace(regexp_replace($x, '<[^>]*>', '', 'g'), '\\s+', ' ', 'g'))"
  private def sectionSql(label: String, value: String): String =
    s"CASE WHEN $value IS NOT NULL AND length($value) > 0 THEN '$label: ' || $value END"
  private val normalizedTextSql: String = {
    val sections = Seq(
      sectionSql("Title", stripHtmlSql("title")),
      sectionSql("Description", stripHtmlSql("description")),
      sectionSql("SKU", "sku"),
      sectionSql("Price", "price"),
      sectionSql("Brand", "brand"),
      sectionSql("Size", "attr_size"))
    s"concat_ws(chr(10), ${sections.mkString(", ")})"
  }
  /** SQL mirror of Functions.renderValueSet over a sorted-distinct list. */
  private def valueSetSql(l: String, cap: Int): String =
    s"""CASE WHEN len($l) > $cap
       |      THEN array_to_string($l[1:$cap], ', ') || ' (+' || (len($l) - $cap) || ' more)'
       |      ELSE array_to_string($l, ', ') END""".stripMargin
  /** SQL mirror of the F15 prettifier (ucwords semantics: first letters
    * uppercase, word tails PRESERVED — matching Functions.prettySlug and
    * the PHP reference). */
  private def prettySql(v: String): String =
    s"""array_to_string(list_transform(
       |        string_split(replace($v, '_', '-'), '-'),
       |        w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ')""".stripMargin
  /** Mirror of Catalog.variationAttributes (all three attribute keys). */
  private val VattrsCte: String =
    """vattrs AS (
      |  SELECT CAST(1000000 + p_partkey * 10 + i AS BIGINT) AS product_id,
      |    a.attr_key, a.attr_value
      |  FROM part, UNNEST(generate_series(1, 3)) t(i), LATERAL (
      |    SELECT 'attr_size' AS attr_key,
      |      CASE WHEN i = 1 THEN 'S' WHEN i = 2 THEN 'M' ELSE 'L' END AS attr_value
      |    UNION ALL SELECT 'pa_color',
      |      CASE WHEN (p_partkey + i * i) % 3 = 0 THEN 'royal-blue'
      |           WHEN (p_partkey + i * i) % 3 = 1 THEN 'forest-green'
      |           ELSE 'matte_black' END
      |    UNION ALL SELECT 'acf:rating', CAST((p_partkey + i) % 5 + 1 AS VARCHAR)
      |  ) a
      |  WHERE p_partkey % 2 = 0
      |)""".stripMargin
  /** Mirror of VariationRollup.attrLabel: pa_color → Color,
    * acf:rating → ACF Rating, else prettified key. */
  private def attrLabelSql(k: String): String =
    s"""CASE WHEN $k LIKE 'pa\\_%' ESCAPE '\\' THEN ${prettySql(s"substr($k, 4)")}
       |     WHEN $k LIKE 'acf:%' THEN 'ACF ' || ${prettySql(s"substr($k, 5)")}
       |     ELSE ${prettySql(k)} END""".stripMargin
  /** Shared a1 rollup CTE chain (children -> agg ⋈ attr block -> rendered),
    * appended after the catalog prologue. */
  private val RollupCtes: String =
    s""", children AS (
      |  SELECT * FROM products
      |  WHERE post_type = 'product_variation' AND post_status = 'publish'
      |), $VattrsCte, attr_pretty AS (
      |  SELECT c.parent_id, v.attr_key,
      |    CASE WHEN v.attr_key LIKE 'pa\\_%' ESCAPE '\\'
      |      THEN ${prettySql("v.attr_value")}
      |      ELSE v.attr_value END AS pv
      |  FROM children c JOIN vattrs v ON v.product_id = c.product_id
      |), attr_sets AS (
      |  SELECT parent_id, attr_key,
      |    list_sort(list_distinct(list(pv))) AS l
      |  FROM attr_pretty GROUP BY parent_id, attr_key
      |), attr_block AS (
      |  SELECT parent_id,
      |    string_agg(${attrLabelSql("attr_key")} || ': ' || ${valueSetSql("l", 2)},
      |               '; ' ORDER BY attr_key) AS attrs_text
      |  FROM attr_sets GROUP BY parent_id
      |), agg AS (
      |  SELECT parent_id,
      |    COUNT(*) AS n_variations,
      |    MIN(CAST(price AS DOUBLE)) AS pmin,
      |    MAX(CAST(price AS DOUBLE)) AS pmax,
      |    list_sort(list_distinct(list(attr_size))) AS size_list,
      |    list_sort(list_distinct(list(sku))) AS sku_list
      |  FROM children GROUP BY parent_id
      |), rendered AS (
      |  SELECT parent_id, n_variations,
      |    printf('%.2f', pmin) AS price_min,
      |    printf('%.2f', pmax) AS price_max,
      |    ${valueSetSql("size_list", 2)} AS sizes,
      |    ${valueSetSql("sku_list", 2)} AS skus,
      |    attrs_text
      |  FROM agg LEFT JOIN attr_block USING (parent_id)
      |)
      |""".stripMargin
  private val RollupTextSql: String =
    "'Variations: ' || n_variations || '; Price range: ' || price_min || " +
    "' - ' || price_max || '; Sizes: ' || sizes || '; SKUs: ' || skus || " +
    "COALESCE('; ' || attrs_text, '')"

  /** sha32: first 8 hex chars of sha256 as integer (mirror of Functions.sha32). */
  private def sha32Sql(x: String): String =
    s"CAST(CAST(concat('0x', substr(sha256($x), 1, 8)) AS UBIGINT) AS BIGINT)"

  /** Bounded deterministic quantizer-training sample over `src` — the
    * mirror of Similarity.trainSample (rank by sha32('train:'+vec_id)
    * with vec_id tiebreak, cap = Similarity.DefaultTrainCap): at or
    * under the cap the sample IS the corpus, so gated-SF results are
    * unchanged; past it the mirrored training cost is capped exactly
    * like the engine's (round-13 ask #3, the FAISS sampled-training
    * norm). */
  private def trainSampleCte(name: String, src: String): String =
    s"""$name AS (
       |  SELECT vec_id, embedding FROM (
       |    SELECT vec_id, embedding,
       |      ROW_NUMBER() OVER (ORDER BY
       |        ${sha32Sql("'train:' || CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
       |    FROM $src)
       |  WHERE rn <= ${graft.operators.Similarity.DefaultTrainCap}
       |)""".stripMargin

  /** DuckDB mirror of Similarity.bandSigs (8 bands × 4 sign bits over
    * `embedding`): a list of 'j:bbbb' band signatures. The two-branch
    * CASE (no ELSE) yields NULL for out-of-range coordinates, exactly
    * like the Spark side's try_element_at — NULL sigs join nothing. */
  private def bandSigsSql(bandBits: Int = 8): String =
    "list_value(" + (0 until 8).map(j =>
      s"'$j:' || " + (1 to bandBits).map { i =>
        val e = s"embedding[${j * bandBits + i}]"
        s"CASE WHEN $e >= 0 THEN '1' WHEN $e < 0 THEN '0' END"
      }.mkString(" || ")).mkString(", ") + ")"

  /** DuckDB mirror of Similarity.cosineNearDupCells — the TWO-LEVEL
    * corpus-adaptive quantizer chain: c = GREATEST(8, ceil(n/32)) child
    * cells, s = GREATEST(4, ceil(√c)) super-cells (both seeded from the
    * smallest ids); every vector ranks its top-2 supers; child seeds
    * join their top-1 super; the Lloyd round takes the top-1 child
    * INSIDE the top-1 super (9-dp means); final membership = top-2
    * refined children across the vector's 2 supers (children keep their
    * seed's super). All cosines 6-dp, ties to the smallest id. Then
    * DISTINCT same-cell (d1 < d2) candidates, exact-cosine scoring at
    * ≥ `threshold`. Emits CTE `pairs` (d1, d2, cos) over `src`. */
  private def cellPairsCtes(src: String, threshold: Double): String =
    s"""${cellTrainCtes(src)}, ${cellAssignCte("caM", "vsup", src)}, ccand AS (
       |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |  FROM caM a JOIN caM b USING (cell) WHERE a.vec_id < b.vec_id
       |), pairs AS (
       |  SELECT d1, d2, cos FROM (
       |    SELECT c.d1, c.d2,
       |      round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos
       |    FROM ccand c JOIN $src x ON c.d1 = x.vec_id
       |    JOIN $src y ON c.d2 = y.vec_id)
       |  WHERE cos >= $threshold
       |)""".stripMargin

  /** Top-2 super ranking of `src` against the trained `sseeds` — the
    * mirror of Similarity.topSupers, emitted once per assigned frame
    * (the training chain emits `vsup` for its own corpus; the
    * incremental oracle adds one for the incoming batch). */
  private def cellVsupCte(name: String, src: String): String =
    s"""$name AS (
       |  SELECT vec_id, sid, srn FROM (
       |    SELECT e.vec_id, su.sid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${cosSql("e.embedding", "su.se")}, 6) DESC, su.sid) AS srn
       |    FROM $src e CROSS JOIN sseeds su)
       |  WHERE srn <= 2
       |)""".stripMargin

  /** Final cell membership of `src` through super ranking `vsup` —
    * top-2 refined children across the vector's 2 supers (the mirror of
    * Similarity.assignWithQuantizer at probes = 2). */
  private def cellAssignCte(name: String, vsup: String, src: String): String =
    s"""$name AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, cc.centroid_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${cosSql("e.embedding", "cc.ce")}, 6) DESC, cc.centroid_id) AS r
       |    FROM $vsup v JOIN $src e ON e.vec_id = v.vec_id
       |    JOIN ccsup cc ON cc.sid = v.sid)
       |  WHERE r <= 2
       |)""".stripMargin

  /** Training chain of the corpus-adaptive two-level quantizer over
    * `src` (mirror of Similarity.trainCellQuantizer): adaptive cell
    * count, super/child seeds, super ranking, one Lloyd round inside
    * the top-1 super. Emits CTEs through `ccsup` (refined children
    * keyed by their seed's super) plus `vsup` (src's super ranking). */
  private def cellTrainCtes(src: String): String =
    s"""cnn AS (
       |  SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 32.0) AS BIGINT)) AS c,
       |    GREATEST(4, CAST(CEIL(SQRT(GREATEST(8,
       |      CEIL(COUNT(*) / 32.0)))) AS BIGINT)) AS s
       |  FROM $src
       |), sseeds AS (
       |  SELECT sid, se FROM (
       |    SELECT vec_id AS sid, embedding AS se,
       |      ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
       |    FROM $src) q, cnn
       |  WHERE q.rn <= cnn.s
       |), cseeds AS (
       |  SELECT centroid_id, ce FROM (
       |    SELECT vec_id AS centroid_id, embedding AS ce,
       |      ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
       |    FROM $src) q, cnn
       |  WHERE q.rn <= cnn.c
       |), ${cellVsupCte("vsup", src)}, csup AS (
       |  SELECT centroid_id, ce, sid FROM (
       |    SELECT ch.centroid_id, ch.ce, su.sid,
       |      ROW_NUMBER() OVER (PARTITION BY ch.centroid_id
       |        ORDER BY round(${cosSql("ch.ce", "su.se")}, 6) DESC, su.sid) AS r
       |    FROM cseeds ch CROSS JOIN sseeds su)
       |  WHERE r = 1
       |), ca0 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, ch.centroid_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${cosSql("e.embedding", "ch.ce")}, 6) DESC, ch.centroid_id) AS r
       |    FROM vsup v JOIN $src e ON e.vec_id = v.vec_id AND v.srn = 1
       |    JOIN csup ch ON ch.sid = v.sid)
       |  WHERE r = 1
       |), cmeanc AS (
       |  SELECT a.cell, j, round(avg(CAST(e.embedding[j] AS DOUBLE)), 9) AS m
       |  FROM ca0 a JOIN $src e ON e.vec_id = a.vec_id,
       |    UNNEST(generate_series(1, len(e.embedding))) t(j)
       |  GROUP BY a.cell, j
       |), ccents AS (
       |  SELECT cell AS centroid_id, list(m ORDER BY j) AS ce
       |  FROM cmeanc GROUP BY cell
       |), ccsup AS (
       |  SELECT cc.centroid_id, cc.ce, ch.sid
       |  FROM ccents cc JOIN csup ch USING (centroid_id)
       |)""".stripMargin

  /** Nano-scaled squared L2 between two lists (mirror of
    * Similarity.nanoL2; list_sum folds left-to-right like Spark's
    * aggregate(), so the double arithmetic is order-identical). */
  private def nanoL2Sql(a: String, b: String): String =
    s"""CAST(round(list_sum(list_transform(list_zip($a, $b), p ->
       |      (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
       |      * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1e9, 0)
       |      AS BIGINT)""".stripMargin

  /** Shared PQ training/assignment CTE chain (mirror of
    * Similarity.pqBlocks/pqCodebook/pqAssign) over any (vec_id,
    * embedding) source: blocks → seed centroids → seed assignment → one
    * Lloyd round → final assignment `a1` (vec_id, blk, cell, nano).
    * Used by sim_pq / sim_pq_topk (src = embeddings) and sim_ivfpq
    * (src = coarse-residuals). */
  private def pqChain(src: String): String =
    s"""${trainSampleCte("tsampq", src)}, blocks AS (
       |  SELECT vec_id, b AS blk, embedding[b*8+1 : b*8+8] AS sub
       |  FROM $src, UNNEST(generate_series(0, 7)) t(b)
       |), cseed AS (
       |  SELECT vec_id FROM tsampq ORDER BY vec_id LIMIT 16
       |), cents0 AS (
       |  SELECT blk, vec_id AS cid, sub AS ce FROM blocks JOIN cseed USING (vec_id)
       |), d0 AS (
       |  SELECT bl.vec_id, bl.blk, bl.sub, c.cid,
       |    ${nanoL2Sql("bl.sub", "c.ce")} AS nano
       |  FROM blocks bl JOIN cents0 c USING (blk)
       |  JOIN tsampq ts ON ts.vec_id = bl.vec_id
       |), a0 AS (
       |  SELECT vec_id, blk, sub, cid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, blk
       |      ORDER BY nano, cid) AS rn FROM d0)
       |  WHERE rn = 1
       |), cmean AS (
       |  SELECT blk, cell, j, round(avg(CAST(sub[j] AS DOUBLE)), 9) AS mv
       |  FROM a0, UNNEST(generate_series(1, 8)) t(j)
       |  GROUP BY blk, cell, j
       |), cents1 AS (
       |  SELECT blk, cell AS cid, list(mv ORDER BY j) AS ce
       |  FROM cmean GROUP BY blk, cell
       |), d1 AS (
       |  SELECT bl.vec_id, bl.blk, c.cid,
       |    ${nanoL2Sql("bl.sub", "c.ce")} AS nano
       |  FROM blocks bl JOIN cents1 c USING (blk)
       |), a1 AS (
       |  SELECT vec_id, blk, cid AS cell, nano FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, blk
       |      ORDER BY nano, cid) AS rn FROM d1)
       |  WHERE rn = 1
       |)""".stripMargin
  /** Per-doc signal oracles shared between their standalone rows and the
    * ta_features composition (single source of truth — the matrix can
    * never drift from the signals it joins). */
  private val QualityOracle: String =
    """SELECT doc_id,
      |  CAST(length(text) AS INTEGER) AS n_chars,
      |  CAST(n_tokens AS INTEGER) AS n_tokens,
      |  round(non_space / CAST(greatest(n_tokens, 1) AS DOUBLE), 4) AS avg_token_len,
      |  round(stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE), 4) AS stop_ratio,
      |  round(least(1.0, n_tokens / 100.0) * (1.0 - stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE)), 4) AS quality
      |FROM (
      |  SELECT doc_id, text,
      |    len(regexp_extract_all(text, '\S+')) AS n_tokens,
      |    length(replace(text, ' ', '')) AS non_space,
      |    (length(text) - length(replace(text, ' the ', ''))) / 5 AS stop_hits
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  private val RepetitionOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\S+')) AS w
      |  FROM documents
      |), counts AS (
      |  SELECT doc_id, w, COUNT(*) AS n FROM tok GROUP BY doc_id, w
      |), stats AS (
      |  SELECT doc_id,
      |    CAST(SUM(n) AS INTEGER) AS n_tokens,
      |    CAST(COUNT(*) AS INTEGER) AS n_types,
      |    CAST(MAX(n) AS INTEGER) AS top_n
      |  FROM counts GROUP BY doc_id
      |), bi AS (
      |  SELECT doc_id,
      |    CAST(len(ts) - 1 AS INTEGER) AS n_bi,
      |    CAST(len(list_distinct(list_transform(
      |      generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1]))) AS INTEGER) AS n_bi_d
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ts
      |        FROM documents)
      |  WHERE len(ts) >= 2
      |)
      |SELECT s.doc_id, n_tokens, n_types,
      |  round(top_n / CAST(n_tokens AS DOUBLE), 4) AS top_word_ratio,
      |  round(n_types / CAST(n_tokens AS DOUBLE), 4) AS type_token_ratio,
      |  round(1.0 - n_bi_d / CAST(n_bi AS DOUBLE), 4) AS dup_bigram_ratio,
      |  CAST(round(top_n / CAST(n_tokens AS DOUBLE), 4) <= 0.12
      |    AND round(n_types / CAST(n_tokens AS DOUBLE), 4) >= 0.35 AS INTEGER) AS keep
      |FROM stats s JOIN bi USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private val EntropyOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS t
      |  FROM documents
      |), tc AS (
      |  SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY 1, 2
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS nd
      |  FROM tc GROUP BY 1
      |), ent AS (
      |  SELECT tc.doc_id,
      |    CAST(SUM(CAST(round((CAST(tc.c AS DOUBLE) / a.n)
      |      * ln(CAST(a.n AS DOUBLE) / tc.c) * 1e6, 0) AS BIGINT)) AS BIGINT) AS e
      |  FROM tc JOIN agg a USING (doc_id) GROUP BY 1
      |)
      |SELECT d.doc_id,
      |  COALESCE(a.n, 0) AS n_tokens,
      |  COALESCE(a.nd, 0) AS n_distinct,
      |  CASE WHEN COALESCE(a.n, 0) = 0 THEN 0
      |       ELSE a.nd * 10000 // a.n END AS ttr_bps,
      |  COALESCE(e.e, 0) AS entropy_micro
      |FROM documents d
      |LEFT JOIN agg a ON d.doc_id = a.doc_id
      |LEFT JOIN ent e ON d.doc_id = e.doc_id
      |ORDER BY d.doc_id""".stripMargin

  private val UnigramOracle: String =
    OracleSql.unigramScored +
      """SELECT doc_id, n_tokens, micro_bits, micro_bpt FROM scored
        |ORDER BY doc_id""".stripMargin

  /** Shared DSIR chain (ta_dsir / ta_dsir_select): hashed unigram+bigram
    * bags for raw (source<>'src1') and target (='src1') corpora, add-one
    * smoothed bucket log-ratios in micro-nats, per-doc BIGINT sums —
    * the exact arithmetic of TextAnalysis.dsirWeights. Final CTE is
    * `weights`. */
  private val DsirCtes: String =
    s"""WITH tgt AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
       |  FROM documents WHERE source = 'src1'
       |), raw AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
       |  FROM documents WHERE source <> 'src1'
       |), rg AS (
       |  SELECT doc_id, unnest(ts) AS g FROM raw
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-1),
       |                        i -> ts[i] || ' ' || ts[i+1])) AS g FROM raw
       |), tg AS (
       |  SELECT doc_id, unnest(ts) AS g FROM tgt
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-1),
       |                        i -> ts[i] || ' ' || ts[i+1])) AS g FROM tgt
       |), rb AS MATERIALIZED (
       |  SELECT doc_id, ${sha32Sql("g")} % 4096 AS bucket, COUNT(*) AS c
       |  FROM rg GROUP BY 1, 2
       |), tb AS (
       |  SELECT ${sha32Sql("g")} % 4096 AS bucket, COUNT(*) AS ct
       |  FROM tg GROUP BY 1
       |), rbb AS (
       |  SELECT bucket, SUM(c) AS cr FROM rb GROUP BY 1
       |), tot AS (
       |  SELECT (SELECT COALESCE(SUM(ct), 0) FROM tb) AS nt,
       |         (SELECT COALESCE(SUM(cr), 0) FROM rbb) AS nr
       |), micro AS (
       |  SELECT COALESCE(rbb.bucket, tb.bucket) AS bucket,
       |    CAST(round((ln((COALESCE(ct, 0) + 1) / CAST(nt + 4096 AS DOUBLE)) -
       |                ln((COALESCE(cr, 0) + 1) / CAST(nr + 4096 AS DOUBLE)))
       |               * 1000000.0, 0) AS BIGINT) AS micro
       |  FROM rbb FULL OUTER JOIN tb ON rbb.bucket = tb.bucket CROSS JOIN tot
       |), perdoc AS (
       |  SELECT rb.doc_id, SUM(rb.c) AS n_grams,
       |    SUM(rb.c * m.micro) AS micro_logw
       |  FROM rb JOIN micro m USING (bucket) GROUP BY 1
       |), weights AS (
       |  SELECT r.doc_id,
       |    CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       |    CAST(COALESCE(p.micro_logw, 0) AS BIGINT) AS micro_logw
       |  FROM (SELECT DISTINCT doc_id FROM raw) r
       |  LEFT JOIN perdoc p USING (doc_id)
       |)
       |""".stripMargin

  private val PackOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, len(regexp_extract_all(text, '\S+')) AS n_tokens
      |  FROM documents
      |), offs AS (
      |  SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
      |    CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS stream_offset
      |  FROM toks
      |)
      |SELECT doc_id, lang, n_tokens, stream_offset,
      |  CAST(floor(stream_offset / 2048.0) AS BIGINT) AS pack_id
      |FROM offs
      |ORDER BY doc_id""".stripMargin

  private val cosSql =
    // double-precision sequential dot/norms — mirror of Functions.cosine
    (a: String, b: String) =>
      s"""(list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |    * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  /** The corpus-recomputed BM25 top-10 oracle chain (exact micro-point
    * integer sums, the ta_bm25 math restricted to the query terms),
    * parameterized by the corpus relation so lx_search /
    * lx_search_inc / lx_search_del all share one definition. */
  private def lxBm25Sql(src: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
       |  FROM $src
       |), tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
       |), dl AS (
       |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
       |), dfreq AS (
       |  SELECT token, COUNT(*) AS df
       |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1
       |), consts AS (
       |  SELECT (SELECT COUNT(*) FROM $src) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS sum_dl, COUNT(*) AS n_dl FROM dl
       |), scored AS (
       |  SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
       |    CAST(round(
       |      ln(1.0 + CAST(n_docs - df + 0.5 AS DOUBLE)
       |               / CAST(df + 0.5 AS DOUBLE))
       |      * (CAST(tf AS DOUBLE) * 2.2)
       |      / (tf + 1.2 * (0.25 + 0.75 *
       |          (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_dl))))
       |      * 1e6, 0) AS BIGINT) AS micro
       |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), consts
       |  WHERE tf.token IN ('vector', 'merge', 'spark')
       |), agg AS (
       |  SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_micro
       |  FROM scored GROUP BY 1
       |), ranked AS (
       |  SELECT doc_id, score_micro,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank
       |  FROM agg
       |)
       |SELECT doc_id, score_micro, rank FROM ranked
       |WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** Shared minhash-band CTE chain (dd_lsh_pairs / dd_components /
    * ta_release), parameterized by the source relation so the same chain
    * can run over a filtered corpus stage. */
  private def lshBandsCtes(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts FROM $src
       |), sh AS (
       |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
       |  FROM toks, UNNEST(generate_series(1, len(ts) - 2)) t(i)
       |  WHERE len(ts) >= 3
       |), hs AS (
       |  SELECT doc_id, ${sha32Sql("g")} AS h FROM sh
       |), mh AS (
       |  SELECT doc_id, j, MIN((h * (2 * j + 1) + 1000003 * j) % 4294967296) AS mh
       |  FROM hs, UNNEST(generate_series(0, 15)) u(j)
       |  GROUP BY doc_id, j
       |), bands AS (
       |  SELECT doc_id, CAST(floor(j / 4) AS BIGINT) AS band,
       |    sha256(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS sig
       |  FROM mh GROUP BY doc_id, CAST(floor(j / 4) AS BIGINT)
       |)""".stripMargin

  // WITH RECURSIVE: componentsCtes' transitive closure needs it; harmless
  // for the band-only consumers (a RECURSIVE prefix with no recursive CTE
  // is valid SQL)
  private val LshBandsCtes: String = "WITH RECURSIVE " + lshBandsCtes("documents")

  /** Shared connected-components chain over the LSH pair graph
    * (dd_components / dd_near_apply / ta_release): a recursive-CTE
    * transitive closure whose per-doc MIN over reachable ids is the
    * exact fixpoint the Spark side's convergence-driven label
    * propagation computes — any chain depth, no unrolled round cap.
    * `src` is the vertex-universe relation; the enclosing WITH must be
    * WITH RECURSIVE. The final CTE keeps its historical name `l3`. */
  private def componentsCtes(src: String): String =
    s""", pairs AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
      |  WHERE a.doc_id < b.doc_id
      |), edges AS (
      |  SELECT d1 AS a, d2 AS b FROM pairs
      |  UNION ALL SELECT d2 AS a, d1 AS b FROM pairs
      |), reach AS (
      |  SELECT doc_id, doc_id AS r FROM $src
      |  UNION
      |  SELECT re.doc_id, e.b AS r FROM reach re JOIN edges e ON e.a = re.r
      |), l3 AS (
      |  SELECT doc_id, MIN(r) AS label FROM reach GROUP BY doc_id
      |)""".stripMargin

  private val ComponentsCtes: String = componentsCtes("documents")

  /** Shared SemDeDup CTE chain (sim_semdedup / sim_semdedup_apply):
    * sign-LSH buckets → cosine pairs → symmetric edges → recursive-CTE
    * transitive closure whose per-vector MIN over reachable ids is the
    * exact fixpoint the Spark side's convergence-driven propagation
    * computes — any chain depth, no unrolled round cap (the same mirror
    * shape as [[componentsCtes]], keyed on vec_id). The final CTE keeps
    * its historical name `l3`. Consumers must say WITH RECURSIVE. */
  /** The cells-based incremental-dedup mirror (round 14): the quantizer
    * TRAINS on cor (cellTrainCtes src = cor — cnn/seeds/Lloyd all
    * corpus-only), cor assigns through its own vsup, inc through a
    * fresh super ranking against the SAME trained seeds; candidates are
    * cell-mates. Shared verbatim by sim_semdedup_inc (in-query) and
    * sim_semdedup_store (persisted probe — round-15; row-identity
    * spec-pinned). */
  private lazy val SemDedupIncSql: String =
    s"""WITH inc AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 >= 8
         |), cor AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 < 8
         |), ${cellTrainCtes("cor")},
         |${cellAssignCte("corA", "vsup", "cor")},
         |${cellVsupCte("vsupI", "inc")},
         |${cellAssignCte("incA", "vsupI", "inc")},
         |cand AS (
         |  SELECT DISTINCT i.vec_id, c.vec_id AS cid
         |  FROM incA i JOIN corA c USING (cell)
         |  WHERE i.vec_id <> c.vec_id
         |), scored AS (
         |  SELECT cand.vec_id, round(${cosSql("i.embedding", "c.embedding")}, 6) AS cos
         |  FROM cand JOIN inc i ON cand.vec_id = i.vec_id
         |  JOIN cor c ON cand.cid = c.vec_id
         |)
         |SELECT i.vec_id, COUNT(s.cos) AS n_candidates, MAX(s.cos) AS max_cos,
         |  CAST(COALESCE(MAX(s.cos) >= 0.35, FALSE) AS INTEGER) AS is_dup
         |FROM inc i LEFT JOIN scored s ON i.vec_id = s.vec_id
         |GROUP BY i.vec_id
         |ORDER BY i.vec_id""".stripMargin

  private lazy val SemDedupCtes: String =
    s"""${cellPairsCtes("embeddings", 0.35)}, edges AS (
       |  SELECT d1 AS a, d2 AS bb FROM pairs
       |  UNION ALL SELECT d2 AS a, d1 AS bb FROM pairs
       |), reach AS (
       |  SELECT vec_id, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT re.vec_id, e.bb AS r FROM reach re JOIN edges e ON e.a = re.r
       |), l3 AS (
       |  SELECT vec_id, MIN(r) AS label FROM reach GROUP BY vec_id
       |)""".stripMargin

  /** Shared n4b ACF id-lookup CTE chain (n4b_acf_lookup / n7_full_text):
    * acfl source rows, attachments dim, ref explode, dim joins,
    * order-preserving reassembly (`joined`), row-local renders (`locals`). */
  private val AcfLookupCtes: String =
    """, acfl AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS product_id, 'badge' AS field_name,
        |    'taxonomy' AS field_type, CAST(p_partkey % 25 AS VARCHAR) AS value FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'related', 'post_object',
        |    CAST(p_partkey % 100 + 1 AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'cross_sells', 'relationship',
        |    CAST(p_partkey % 100 + 1 AS VARCHAR) || '|' || CAST(p_partkey % 100 + 51 AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'hero_image', 'image',
        |    CAST(p_partkey % 199 + 1 AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'gallery_imgs', 'gallery',
        |    CAST(p_partkey % 199 + 1 AS VARCHAR) || '|' || CAST(p_partkey % 199 + 2 AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'spec_sheet', 'file',
        |    CAST(p_partkey % 197 + 3 AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'features', 'repeater',
        |    'name=' || p_name || ',qty=' || CAST(p_partkey % 9 + 1 AS VARCHAR) ||
        |    '|name=' || p_brand || ',qty=' || CAST(p_partkey % 5 + 1 AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'sections', 'flexible_content',
        |    'intro:text=' || p_type || '|dims:w=' || CAST(p_size AS VARCHAR) ||
        |    ',h=' || CAST(p_partkey % 40 AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'blurb', 'wysiwyg',
        |    '<b>' || p_name || '</b> <i>' || p_type || '</i>' FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'container_sel', 'select',
        |    'PKG-' || CAST(p_size AS VARCHAR) FROM part
        |), attachments AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS attachment_id,
        |    CASE WHEN p_partkey % 4 = 0 THEN '' ELSE 'Alt ' || p_name END AS alt,
        |    CASE WHEN p_partkey % 2 = 0 THEN 'Caption ' || CAST(p_partkey AS VARCHAR) ELSE '' END AS caption,
        |    'https://example.test/media/' || CAST(p_partkey AS VARCHAR) || '.jpg' AS url
        |  FROM part
        |), refs AS (
        |  SELECT product_id, field_name, field_type, g.i AS pos,
        |    CAST(string_split(value, '|')[g.i] AS BIGINT) AS ref_id
        |  FROM acfl, UNNEST(generate_series(1, len(string_split(value, '|')))) g(i)
        |  WHERE field_type IN ('taxonomy', 'post_object', 'relationship', 'image', 'gallery', 'file')
        |), items AS (
        |  SELECT r.product_id, r.field_name, r.pos,
        |    CASE WHEN r.field_type = 'taxonomy' THEN n.n_name
        |         WHEN r.field_type IN ('post_object', 'relationship') THEN pt.p_name
        |         WHEN r.field_type = 'file' THEN a.url
        |         WHEN a.alt <> '' THEN a.alt
        |         WHEN a.caption <> '' THEN a.caption
        |         ELSE a.url END AS item
        |  FROM refs r
        |  LEFT JOIN nation n ON r.ref_id = n.n_nationkey
        |  LEFT JOIN part pt ON r.ref_id = pt.p_partkey
        |  LEFT JOIN attachments a ON r.ref_id = a.attachment_id
        |), joined AS (
        |  SELECT product_id, field_name, string_agg(item, ', ' ORDER BY pos) AS rendered
        |  FROM items GROUP BY product_id, field_name
        |), locals AS (
        |  SELECT product_id, field_name,
        |    CASE field_type
        |      WHEN 'wysiwyg' THEN trim(regexp_replace(regexp_replace(value, '<[^>]*>', '', 'g'), '\s+', ' ', 'g'))
        |      WHEN 'select' THEN value
        |      WHEN 'repeater' THEN array_to_string(list_transform(string_split(value, '|'), r ->
        |          array_to_string(list_transform(string_split(r, ','), kv ->
        |            string_split(kv, '=')[1] || ': ' || string_split(kv, '=')[2]), '; ')), ' / ')
        |      ELSE array_to_string(list_transform(string_split(value, '|'), r ->
        |          regexp_extract(r, '^([^:]+):(.*)$', 1) || ' — ' ||
        |          array_to_string(list_transform(string_split(regexp_extract(r, '^([^:]+):(.*)$', 2), ','), kv ->
        |            string_split(kv, '=')[1] || ': ' || string_split(kv, '=')[2]), '; ')), ' / ')
        |    END AS rendered
        |  FROM acfl
        |  WHERE field_type IN ('wysiwyg', 'select', 'repeater', 'flexible_content')
        |)""".stripMargin

  /** sim_ann_store is the persisted-index form of sim_ivf_kmeans with
    * nProbes=1 — same trained quantizer, same output contract — so it
    * shares that oracle verbatim (AnnIndexSpec pins the row-for-row
    * equality of the two paths). */
  def oracleSql: Map[String, String] =
    baseOracleSql +
      ("sim_ann_store" -> baseOracleSql("sim_ivf_kmeans")) +
      // the persisted IVF-PQ index shares the in-query operator's oracle
      // for the same reason (same training, same output contract;
      // AnnIndexPqSpec pins the row-for-row equality of the two paths)
      ("sim_annpq_store" -> baseOracleSql("sim_ivfpq_topk")) +
      // the persisted DSIR model is fit and applied by the SAME shared
      // dsirMicro/dsirApply code as the in-query weights (DsirSpec pins
      // fit-then-score ≡ dsirWeights row-for-row), so it shares ta_dsir's
      // oracle verbatim
      ("ta_dsir_store" -> baseOracleSql("ta_dsir")) +
      // two-stage re-rank: the same ivf-pq derivation with the ADC pool
      // widened to 20 and an exact-cosine re-rank stage appended
      ("sim_annpq_rerank" -> baseOracleSql("sim_ivfpq_topk").replace(
        ")\nSELECT qid, cid, adist_nano, CAST(rn AS INTEGER) AS rn\nFROM ranked WHERE rn <= 5\nORDER BY qid, rn",
        s"""), pool AS (
           |  SELECT qid, cid FROM ranked WHERE rn <= 20
           |), rer AS (
           |  SELECT p.qid, p.cid,
           |    round(${cosSql("cv.embedding", "qv.embedding")}, 6) AS cos
           |  FROM pool p
           |  JOIN embeddings qv ON qv.vec_id = p.qid
           |  JOIN embeddings cv ON cv.vec_id = p.cid
           |), rranked AS (
           |  SELECT qid, cid, cos,
           |    ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY cos DESC, cid) AS rn
           |  FROM rer
           |)
           |SELECT qid, cid, cos, CAST(rn AS INTEGER) AS rn
           |FROM rranked WHERE rn <= 5
           |ORDER BY qid, rn""".stripMargin))

  private lazy val baseOracleSql: Map[String, String] = Map(

    // BIGINT fixed-point sums (cents / 1e-4 units) on BOTH sides — the
    // st_debounce/st_sessions total_cents pattern, the only output family
    // with a perfect driver-hash pass record (decimal failed r2 AND r3;
    // r4 probes closed the question — COVERAGE.md "driver-hash decimal
    // contract"). DuckDB SUM(BIGINT) → HUGEINT, so each
    // sum is cast back to BIGINT to match Spark's LongType.
    "q6_forecast" ->
      """SELECT
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |         * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS revenue_e4,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND floor(l_discount * 100 + 0.5) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS sum_disc_price_e4,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, orderdate
        |ORDER BY revenue_e4 DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q7_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(rev_e4) AS BIGINT) AS revenue_e4
        |FROM (
        |  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS rev_e4
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        |    AND cn.n_name IN ('NATION_1', 'NATION_2')
        |    AND sn.n_name <> cn.n_name
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q14_promo" ->
      """SELECT COUNT(*) AS n_items,
        |  CAST(round(CAST(SUM(CASE WHEN p_type = 'ECONOMY'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 10000
        |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 0) AS BIGINT) AS promo_bps
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,

    "q15_top_supplier" ->
      """SELECT s_suppkey, s_name, revenue_e4 FROM (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-07-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
        |  GROUP BY l_suppkey) r
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY revenue_e4 DESC, s_suppkey
        |LIMIT 10""".stripMargin,

    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_e4 DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q4_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q5_regional" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue_e4 DESC, n_name""".stripMargin,

    "q8_topn_per_group" ->
      """WITH totals AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT c_mktsegment, c_custkey, total_cents,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY total_cents DESC, c_custkey) AS rn
        |  FROM totals JOIN customer ON o_custkey = c_custkey
        |)
        |SELECT c_mktsegment, c_custkey, total_cents, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin,

    // same ranking semantics as q8 — the Spark side computes it with
    // the bounded top-k aggregate instead of a window, so the hash
    // match proves the two plans are row-for-row interchangeable
    "q8b_topk_agg" ->
      """WITH totals AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT c_mktsegment, CAST(c_custkey AS BIGINT) AS c_custkey,
        |    total_cents,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY total_cents DESC, c_custkey) AS rn
        |  FROM totals JOIN customer ON o_custkey = c_custkey
        |)
        |SELECT c_mktsegment, c_custkey, total_cents, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
        |)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
        |  sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_cents DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    "q11_nation_share" ->
      """WITH r AS (
        |  SELECT n_name,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_e4
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY n_name
        |), t AS (SELECT CAST(SUM(revenue_e4) AS BIGINT) AS total_e4 FROM r)
        |SELECT n_name, revenue_e4,
        |  revenue_e4 // (total_e4 // 10000) AS share_bps
        |FROM r, t
        |WHERE revenue_e4 // (total_e4 // 10000) >= 400
        |ORDER BY revenue_e4 DESC, n_name""".stripMargin,

    "q22_dormant" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS balance_cents
        |  FROM customer
        |), s AS (
        |  SELECT CAST(SUM(balance_cents) AS BIGINT) AS total, COUNT(*) AS cnt
        |  FROM c WHERE balance_cents > 0
        |)
        |SELECT c_custkey, c_name, balance_cents
        |FROM c, s
        |WHERE balance_cents * cnt > total
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '1998-05-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    "q16_part_suppliers" ->
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (
        |  SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
        |GROUP BY p_brand, p_size
        |ORDER BY n_supp DESC, p_brand, p_size""".stripMargin,

    "q25_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
        |    CAST(SUM(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS disc_bps
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, measure, value FROM (
        |  SELECT l_returnflag, 'disc_bps' AS measure, disc_bps AS value FROM a
        |  UNION ALL
        |  SELECT l_returnflag, 'price_cents', price_cents FROM a
        |  UNION ALL
        |  SELECT l_returnflag, 'qty', qty FROM a)
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q26_setops" ->
      """WITH h1 AS (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |), h2 AS (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |)
        |SELECT grp, o_custkey FROM (
        |  SELECT 'both' AS grp, o_custkey FROM (SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2)
        |  UNION ALL
        |  SELECT 'only_h1', o_custkey FROM (SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2))
        |ORDER BY grp, o_custkey""".stripMargin,

    "q24_pivot" ->
      """SELECT n_name,
        |  CAST(SUM(CASE WHEN year(l_shipdate) = 1995 THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) END) AS BIGINT) AS y1995_e4,
        |  CAST(SUM(CASE WHEN year(l_shipdate) = 1996 THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) END) AS BIGINT) AS y1996_e4,
        |  CAST(SUM(CASE WHEN year(l_shipdate) = 1997 THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) END) AS BIGINT) AS y1997_e4,
        |  CAST(SUM(CASE WHEN year(l_shipdate) = 1998 THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) END) AS BIGINT) AS y1998_e4
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q23_trailing" ->
      """WITH monthly AS (
        |  SELECT l_suppkey, strftime(l_shipdate, '%Y-%m') AS month,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS rev_e4
        |  FROM lineitem
        |  WHERE l_suppkey < 10
        |  GROUP BY l_suppkey, month
        |)
        |SELECT l_suppkey, month, rev_e4,
        |  CAST(SUM(rev_e4) OVER (PARTITION BY l_suppkey ORDER BY month
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail3_e4
        |FROM monthly
        |ORDER BY l_suppkey, month""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "j12_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "j13_zorder_scan" ->
      """SELECT l_partkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey <= 200
        |GROUP BY l_partkey
        |ORDER BY l_partkey""".stripMargin,

    "j14_zorder_quantiled" ->
      """SELECT l_suppkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey <= 40 AND l_partkey <= 400
        |GROUP BY l_suppkey
        |ORDER BY l_suppkey""".stripMargin,

    "q19_disjunctive" ->
      """SELECT p_brand, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#33' AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q21_sole_blame" ->
      """WITH f AS (
        |  SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 120 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), po AS (
        |  SELECT l_orderkey,
        |    COUNT(DISTINCT l_suppkey) AS n_supp,
        |    COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
        |    MAX(CASE WHEN late THEN l_suppkey END) AS late_supp
        |  FROM f GROUP BY l_orderkey
        |)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM po JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 20""".stripMargin,

    "j11_bloom_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 16 = 0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q2_min_cost_supp" ->
      """WITH c AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cost_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size = 15
        |), m AS (
        |  SELECT l_partkey, MIN(cost_cents) AS min_cost_cents
        |  FROM c GROUP BY l_partkey
        |), w AS (
        |  SELECT c.l_partkey, MIN(c.l_suppkey) AS s_suppkey, m.min_cost_cents
        |  FROM c JOIN m ON c.l_partkey = m.l_partkey
        |              AND c.cost_cents = m.min_cost_cents
        |  GROUP BY c.l_partkey, m.min_cost_cents
        |)
        |SELECT p_partkey, p_name, s.s_suppkey, s.s_name, w.min_cost_cents
        |FROM w JOIN part ON w.l_partkey = p_partkey
        |       JOIN supplier s ON w.s_suppkey = s.s_suppkey
        |ORDER BY p_partkey""".stripMargin,

    "q20_excess_supp" ->
      """WITH shipped AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red %'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, sum_qty
        |FROM shipped JOIN supplier ON l_suppkey = s_suppkey
        |WHERE sum_qty > 2000
        |ORDER BY s_suppkey""".stripMargin,

    // mirrors HistSpec("total_cents", 0, 60000000, 10).bucketSql:
    // truncating BIGINT division, all-nonnegative in the in-range
    // branch, plus every (priority, bin) cell including empty ones
    "ia_priority_hist" ->
      """WITH o AS (
        |  SELECT o_orderpriority,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS tc
        |  FROM orders
        |), b AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN tc < 0 THEN 0
        |         WHEN tc >= 60000000 THEN 11
        |         ELSE CAST(1 + (tc * 10) // 60000000 AS INT) END AS bin
        |  FROM o
        |), g AS (
        |  SELECT o_orderpriority, CAST(bin AS BIGINT) AS bin,
        |    COUNT(*) AS n_in_bin
        |  FROM b GROUP BY 1, 2
        |), p AS (SELECT DISTINCT o_orderpriority FROM o),
        |bins AS (SELECT CAST(i AS BIGINT) AS bin
        |         FROM UNNEST(generate_series(0, 11)) t(i))
        |SELECT p.o_orderpriority, bins.bin,
        |  COALESCE(g.n_in_bin, 0) AS n_in_bin
        |FROM p CROSS JOIN bins
        |LEFT JOIN g ON g.o_orderpriority = p.o_orderpriority
        |           AND g.bin = bins.bin
        |ORDER BY p.o_orderpriority, bins.bin""".stripMargin,

    // the BASE-TABLE aggregate — the Spark side is optimizer-rewritten
    // to serve this from the maintained (lang, source) view, so the
    // hash match proves view-rewrite result-identity
    "ia_rewrite" ->
      """SELECT lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
        |  MIN(CAST(n_chars AS BIGINT)) AS min_chars,
        |  MAX(CAST(n_chars AS BIGINT)) AS max_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // base-table AVG — the Spark side serves it from the view as
    // Σsum/Σcnt_v (the NON-NULL value count, avg's true divisor; the
    // oracle mirrors with COUNT(n_chars)); exact-integer sums below 2^53
    // make the double division bit-identical on both engines
    "ia_rewrite_avg" ->
      """SELECT lang,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "ia_priority_rollup" ->
      """WITH o AS (
        |  SELECT o_orderpriority,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS tc
        |  FROM orders
        |)
        |SELECT o_orderpriority, COUNT(*) AS cnt,
        |  CAST(SUM(tc) AS BIGINT) AS sum_total_cents,
        |  MIN(tc) AS min_total_cents,
        |  MAX(tc) AS max_total_cents,
        |  COUNT(tc) AS cnt_total_cents,
        |  CAST(SUM(tc) AS BIGINT) // COUNT(tc) AS avg_total_cents
        |FROM o
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "j15_bloom_codegen" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 8 = 3
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q17_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem
        |), pa AS (
        |  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty, COUNT(*) AS cnt
        |  FROM li GROUP BY l_partkey
        |)
        |SELECT COUNT(*) AS n_items, CAST(SUM(cents) AS BIGINT) AS total_cents
        |FROM li JOIN pa USING (l_partkey)
        |WHERE qty * 5 * cnt < sum_qty""".stripMargin,

    "s1_initial_scan" -> (P +
      s"""SELECT product_id, strftime(post_modified_gmt, '%Y-%m-%d %H:%M:%S') AS modified
         |FROM products
         |WHERE post_status = 'publish'
         |  AND product_id NOT IN (SELECT DISTINCT product_id FROM sync_state)
         |ORDER BY post_modified_gmt DESC, product_id DESC
         |LIMIT $ScanLimit""".stripMargin),

    "s2_modified_scan" -> (P +
      s"""SELECT product_id, strftime(post_modified_gmt, '%Y-%m-%d %H:%M:%S') AS modified
         |FROM products p
         |LEFT JOIN (SELECT product_id, MAX(GREATEST(updated_at, last_synced_at)) AS last_sync
         |           FROM sync_state GROUP BY product_id) ls USING (product_id)
         |WHERE post_status = 'publish'
         |  AND post_modified_gmt >= TIMESTAMP '$Since'
         |  AND (last_sync IS NULL OR last_sync < post_modified_gmt)
         |ORDER BY post_modified_gmt DESC, product_id DESC
         |LIMIT $ScanLimit""".stripMargin),

    "s2_drafts" -> (P +
      s"""SELECT product_id, strftime(post_modified_gmt, '%Y-%m-%d %H:%M:%S') AS modified
         |FROM products p
         |LEFT JOIN (SELECT product_id, MAX(GREATEST(updated_at, last_synced_at)) AS last_sync
         |           FROM sync_state GROUP BY product_id) ls USING (product_id)
         |WHERE post_status IN ('publish', 'draft', 'private')
         |  AND post_modified_gmt >= TIMESTAMP '$Since'
         |  AND (last_sync IS NULL OR last_sync < post_modified_gmt)
         |ORDER BY post_modified_gmt DESC, product_id DESC
         |LIMIT $ScanLimit""".stripMargin),

    "s3_error_scan" -> (P +
      """SELECT DISTINCT product_id FROM sync_state
        |WHERE status = 'error'
        |ORDER BY product_id DESC
        |LIMIT 50""".stripMargin),

    "d1_priority_union" -> (P +
      s""", err AS (
         |  SELECT product_id, 0 AS prio FROM (
         |    SELECT DISTINCT product_id FROM sync_state WHERE status = 'error'
         |    ORDER BY product_id DESC LIMIT $ScanLimit)
         |), mods AS (
         |  SELECT product_id, 1 AS prio FROM (
         |    SELECT product_id, post_modified_gmt
         |    FROM products p
         |    LEFT JOIN (SELECT product_id, MAX(GREATEST(updated_at, last_synced_at)) AS last_sync
         |               FROM sync_state GROUP BY product_id) ls USING (product_id)
         |    WHERE post_status = 'publish'
         |      AND post_modified_gmt >= TIMESTAMP '$Since'
         |      AND (last_sync IS NULL OR last_sync < post_modified_gmt)
         |    ORDER BY post_modified_gmt DESC, product_id DESC
         |    LIMIT $ScanLimit)
         |), init AS (
         |  SELECT product_id, 2 AS prio FROM (
         |    SELECT product_id, post_modified_gmt
         |    FROM products
         |    WHERE post_status = 'publish'
         |      AND product_id NOT IN (SELECT DISTINCT product_id FROM sync_state)
         |    ORDER BY post_modified_gmt DESC, product_id DESC
         |    LIMIT $ScanLimit)
         |)
         |SELECT product_id, MIN(prio) AS prio
         |FROM (SELECT * FROM err UNION ALL SELECT * FROM mods UNION ALL SELECT * FROM init)
         |GROUP BY product_id
         |ORDER BY prio, product_id
         |LIMIT $ScanLimit""".stripMargin),

    "d2_variation_dedup" -> (P +
      """SELECT DISTINCT id FROM (
        |  SELECT product_id AS id FROM products WHERE post_type = 'product_variation'
        |  UNION ALL
        |  SELECT parent_id AS id FROM products WHERE post_type = 'product_variation')
        |ORDER BY id""".stripMargin),

    "s5_variation_children" -> (P +
      """SELECT product_id, parent_id, sku, attr_size
        |FROM products
        |WHERE post_type = 'product_variation' AND parent_id % 50 = 0
        |  AND post_status = 'publish'
        |ORDER BY parent_id, product_id""".stripMargin),

    "s6_product_search" -> (P +
      """SELECT product_id, title, sku, MIN(stage) AS stage FROM (
        |  SELECT product_id, title, sku, 1 AS stage FROM products WHERE sku = 'SKU-12'
        |  UNION ALL
        |  SELECT product_id, title, sku, 2 AS stage FROM products WHERE contains(lower(title), 'sku-12')
        |  UNION ALL
        |  SELECT product_id, title, sku, 3 AS stage FROM products WHERE contains(sku, 'SKU-12'))
        |GROUP BY product_id, title, sku
        |ORDER BY stage, product_id
        |LIMIT 20""".stripMargin),

    "s7_event_read" -> (EventLogSql +
      s"""SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         |  product_id, target, action, outcome, duration_ms
         |FROM event_log
         |WHERE product_id = 7 AND action = 'purchase' AND outcome = 'success'
         |ORDER BY ts DESC, event_id DESC
         |LIMIT $ScanLimit""".stripMargin),

    "s7b_event_paged" -> (EventLogSql +
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  product_id, target, action, outcome, duration_ms
        |FROM event_log
        |WHERE target = 'vs' AND action = 'view'
        |ORDER BY ts DESC, event_id DESC
        |LIMIT 50 OFFSET 100""".stripMargin),

    "s7c_event_csv" -> (EventLogSql +
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  site_id, product_id, target, action, outcome, duration_ms
        |FROM event_log
        |WHERE outcome = 'success'
        |ORDER BY ts DESC, event_id DESC
        |LIMIT 5000""".stripMargin),

    "k5_purge_site" -> (P +
      """SELECT vector_id, CAST(product_id % 3 + 1 AS INTEGER) AS site_id
        |FROM sync_state
        |WHERE CAST(product_id % 3 + 1 AS INTEGER) <> 2
        |ORDER BY vector_id""".stripMargin),

    "a1_variation_rollup" -> (P + RollupCtes +
      s"""SELECT parent_id, n_variations, price_min, price_max, sizes, skus, attrs_text,
         |  $RollupTextSql AS rollup_text
         |FROM rendered
         |ORDER BY parent_id""".stripMargin),

    "a1b_attr_rollup" -> (P +
      s""", children AS (
         |  SELECT * FROM products
         |  WHERE post_type = 'product_variation' AND post_status = 'publish'
         |), $VattrsCte, pretty AS (
         |  SELECT c.parent_id, v.attr_key,
         |    CASE WHEN v.attr_key LIKE 'pa\\_%' ESCAPE '\\'
         |      THEN ${prettySql("v.attr_value")}
         |      ELSE v.attr_value END AS pv
         |  FROM children c JOIN vattrs v ON v.product_id = c.product_id
         |), sets AS (
         |  SELECT parent_id, attr_key,
         |    list_sort(list_distinct(list(pv))) AS l
         |  FROM pretty GROUP BY parent_id, attr_key
         |)
         |SELECT parent_id, attr_key, ${valueSetSql("l", 2)} AS vals
         |FROM sets
         |ORDER BY parent_id, attr_key""".stripMargin),

    "n6_collapse" -> (P + RollupCtes +
      s""", rolled AS (
         |  SELECT parent_id, $RollupTextSql AS rollup_text FROM rendered
         |)
         |SELECT product_id,
         |  $normalizedTextSql ||
         |    COALESCE(chr(10) || rollup_text, '') AS text
         |FROM products LEFT JOIN rolled ON rolled.parent_id = products.product_id
         |WHERE post_type = 'product'
         |ORDER BY product_id""".stripMargin),

    "a3_job_metrics" -> (P +
      """SELECT status, COUNT(*) AS n FROM sync_state
        |GROUP BY status
        |ORDER BY status""".stripMargin),

    "f_scalars" -> (P +
      s"""SELECT product_id,
         |  ${stripHtmlSql("description")} AS plain,
         |  'SKU: ' || sku AS sku_line,
         |  printf('%.2f', CAST(price AS DOUBLE)) AS price_fmt,
         |  CAST(ceil(strlen(title) / 4.0) AS INT) AS title_tokens,
         |  ${sha32Sql("sku")} AS sku_h,
         |  CASE WHEN length(title) > 20 THEN substr(title, 1, 20) || '…'
         |       ELSE title END AS title_trunc
         |FROM products
         |ORDER BY product_id""".stripMargin),

    "n1_selected" -> (P +
      s""", meta_lines AS (
         |  SELECT CAST(p_partkey AS BIGINT) AS product_id,
         |    'material: ' || p_type AS meta_block FROM part
         |), term_lines AS (
         |  SELECT CAST(p_partkey AS BIGINT) AS product_id,
         |    'product_cat: cat-' || CAST(p_partkey % 8 AS VARCHAR) AS term_block
         |  FROM part
         |), acf_lines AS (
         |  SELECT CAST(p_partkey AS BIGINT) AS product_id,
         |    'rating: ' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS acf_block
         |  FROM part
         |)
         |SELECT product_id,
         |  concat_ws(chr(10),
         |    concat_ws(chr(10),
         |      ${sectionSql("Title", stripHtmlSql("title"))},
         |      ${sectionSql("Description", stripHtmlSql("description"))},
         |      ${sectionSql("SKU", "sku")}),
         |    meta_block, term_block, acf_block) AS text
         |FROM products
         |LEFT JOIN meta_lines USING (product_id)
         |LEFT JOIN term_lines USING (product_id)
         |LEFT JOIN acf_lines USING (product_id)
         |ORDER BY product_id""".stripMargin),

    "n1_normalize" -> (P +
      s"""SELECT product_id, $normalizedTextSql AS text
         |FROM products
         |ORDER BY product_id""".stripMargin),

    "n2_fingerprint" -> (P +
      s"""SELECT product_id,
         |  sha256($normalizedTextSql || '|' ||
         |    'size=800,overlap=100,model=text-embedding-3-small,dim=3072') AS product_sha
         |FROM products
         |ORDER BY product_id""".stripMargin),

    "n3_meta" ->
      """WITH meta AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS product_id, 'material' AS key, p_type AS value FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'container', 'PKG-' || CAST(p_size AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), '_edit_lock', '17000000' || CAST(p_partkey % 10 AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), '_private_note', 'note-' || p_partkey FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'warranty_months', CAST(p_partkey % 36 + 1 AS VARCHAR) FROM part
        |), visible AS (
        |  SELECT * FROM meta
        |  WHERE key NOT IN ('_edit_lock', '_thumbnail_id')
        |    AND key NOT LIKE '\_%' ESCAPE '\'
        |)
        |SELECT product_id,
        |  string_agg(key || ': ' || value, '; ' ORDER BY key, value) AS meta_line,
        |  '{' || string_agg('"' || key || '":"' || value || '"', ',' ORDER BY key, value) || '}' AS meta_json
        |FROM visible
        |GROUP BY product_id
        |ORDER BY product_id""".stripMargin,

    "n4_acf" -> (P +
      s""", acf AS (
         |  SELECT CAST(p_partkey AS BIGINT) AS product_id, 'highlight' AS field_name, 'text' AS field_type, p_name AS value FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'is_featured', 'true_false', CAST(p_partkey % 2 AS VARCHAR) FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'rating', 'number', CAST(p_partkey % 5 + 1 AS VARCHAR) FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'release_date', 'date',
         |    strftime(TIMESTAMP '${OracleSql.Base}' + INTERVAL (p_partkey) DAY, '%Y-%m-%d') FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'colors', 'checkbox',
         |    CASE WHEN p_partkey % 3 = 0 THEN 'red|blue'
         |         WHEN p_partkey % 3 = 1 THEN 'green'
         |         ELSE 'red|green|blue' END FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'spec', 'group',
         |    'w=' || CAST(p_size AS VARCHAR) || '|brand=' || p_brand FROM part
         |)
         |SELECT product_id, field_name,
         |  CASE field_type
         |    WHEN 'true_false' THEN CASE WHEN value = '1' THEN 'true' ELSE 'false' END
         |    WHEN 'checkbox' THEN replace(value, '|', ', ')
         |    WHEN 'group' THEN replace(replace(value, '=', ': '), '|', '; ')
         |    ELSE value END AS rendered
         |FROM acf
         |ORDER BY product_id, field_name""".stripMargin),

    "n4b_acf_lookup" -> (P + AcfLookupCtes +
      """
        |SELECT product_id, field_name, rendered FROM joined
        |UNION ALL SELECT product_id, field_name, rendered FROM locals
        |ORDER BY product_id, field_name""".stripMargin),

    "n7_full_text" -> (P + AcfLookupCtes +
      s""", acf_scalar AS (
         |  SELECT product_id, field_name,
         |    CASE field_type
         |      WHEN 'true_false' THEN CASE WHEN value = '1' THEN 'true' ELSE 'false' END
         |      WHEN 'checkbox' THEN replace(value, '|', ', ')
         |      WHEN 'group' THEN replace(replace(value, '=', ': '), '|', '; ')
         |      ELSE value END AS rendered
         |  FROM (
         |    SELECT CAST(p_partkey AS BIGINT) AS product_id, 'highlight' AS field_name, 'text' AS field_type, p_name AS value FROM part
         |    UNION ALL SELECT CAST(p_partkey AS BIGINT), 'is_featured', 'true_false', CAST(p_partkey % 2 AS VARCHAR) FROM part
         |    UNION ALL SELECT CAST(p_partkey AS BIGINT), 'rating', 'number', CAST(p_partkey % 5 + 1 AS VARCHAR) FROM part
         |    UNION ALL SELECT CAST(p_partkey AS BIGINT), 'release_date', 'date',
         |      strftime(TIMESTAMP '${OracleSql.Base}' + INTERVAL (p_partkey) DAY, '%Y-%m-%d') FROM part
         |    UNION ALL SELECT CAST(p_partkey AS BIGINT), 'colors', 'checkbox',
         |      CASE WHEN p_partkey % 3 = 0 THEN 'red|blue'
         |           WHEN p_partkey % 3 = 1 THEN 'green'
         |           ELSE 'red|green|blue' END FROM part
         |    UNION ALL SELECT CAST(p_partkey AS BIGINT), 'spec', 'group',
         |      'w=' || CAST(p_size AS VARCHAR) || '|brand=' || p_brand FROM part
         |  )
         |), acf_all AS (
         |  SELECT * FROM acf_scalar
         |  UNION ALL SELECT product_id, field_name, rendered FROM joined
         |  UNION ALL SELECT product_id, field_name, rendered FROM locals
         |), acf_lines AS (
         |  SELECT product_id,
         |    string_agg(field_name || ': ' || rendered, chr(10)
         |      ORDER BY field_name, field_name || ': ' || rendered) AS acf_block
         |  FROM acf_all GROUP BY product_id
         |), meta0 AS (
         |  SELECT CAST(p_partkey AS BIGINT) AS product_id, 'material' AS key, p_type AS value FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'container', 'PKG-' || CAST(p_size AS VARCHAR) FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), '_edit_lock', '17000000' || CAST(p_partkey % 10 AS VARCHAR) FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), '_private_note', 'note-' || p_partkey FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'warranty_months', CAST(p_partkey % 36 + 1 AS VARCHAR) FROM part
         |), meta_lines AS (
         |  SELECT product_id,
         |    string_agg(key || ': ' || value, chr(10)
         |      ORDER BY key, key || ': ' || value) AS meta_block
         |  FROM meta0
         |  WHERE key NOT IN ('_edit_lock', '_thumbnail_id')
         |    AND key NOT LIKE '\\_%' ESCAPE '\\'
         |  GROUP BY product_id
         |), terms0 AS (
         |  SELECT CAST(p_partkey AS BIGINT) AS product_id, 'product_cat' AS taxonomy,
         |    'cat-' || CAST(p_partkey % 8 AS VARCHAR) AS term FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'product_tag',
         |    'tag-' || CAST(p_partkey % 5 AS VARCHAR) FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'pa_color',
         |    CASE WHEN p_partkey % 3 = 0 THEN 'royal-blue'
         |         WHEN p_partkey % 3 = 1 THEN 'forest-green'
         |         ELSE 'matte_black' END FROM part
         |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'pa_finish',
         |    CASE WHEN p_partkey % 2 = 0 THEN 'brushed-steel' ELSE 'oiled_oak' END FROM part
         |), trendered AS (
         |  SELECT product_id, taxonomy,
         |    CASE WHEN taxonomy LIKE 'pa\\_%' ESCAPE '\\'
         |      THEN upper(substr(taxonomy, 4, 1)) || substr(taxonomy, 5)
         |      ELSE taxonomy END AS label,
         |    CASE WHEN taxonomy LIKE 'pa\\_%' ESCAPE '\\'
         |      THEN ${prettySql("term")}
         |      ELSE term END AS v
         |  FROM terms0
         |), tagg AS (
         |  SELECT product_id, taxonomy, label, string_agg(v, ', ' ORDER BY v) AS terms
         |  FROM trendered GROUP BY product_id, taxonomy, label
         |), term_lines AS (
         |  SELECT product_id,
         |    string_agg(label || ': ' || terms, chr(10)
         |      ORDER BY taxonomy, label || ': ' || terms) AS term_block
         |  FROM tagg GROUP BY product_id
         |)
         |SELECT product_id,
         |  concat_ws(chr(10), $normalizedTextSql, meta_block, term_block, acf_block) AS text
         |FROM products
         |LEFT JOIN meta_lines USING (product_id)
         |LEFT JOIN term_lines USING (product_id)
         |LEFT JOIN acf_lines USING (product_id)
         |ORDER BY product_id""".stripMargin),

    "n5_terms" -> (P +
      """, terms0 AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS product_id, 'product_cat' AS taxonomy,
        |    'cat-' || CAST(p_partkey % 8 AS VARCHAR) AS term FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'product_tag',
        |    'tag-' || CAST(p_partkey % 5 AS VARCHAR) FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'pa_color',
        |    CASE WHEN p_partkey % 3 = 0 THEN 'royal-blue'
        |         WHEN p_partkey % 3 = 1 THEN 'forest-green'
        |         ELSE 'matte_black' END FROM part
        |  UNION ALL SELECT CAST(p_partkey AS BIGINT), 'pa_finish',
        |    CASE WHEN p_partkey % 2 = 0 THEN 'brushed-steel' ELSE 'oiled_oak' END FROM part
        |), rendered AS (
        |  SELECT product_id, taxonomy,
        |    CASE WHEN taxonomy LIKE 'pa\_%' ESCAPE '\'
        |      THEN upper(substr(taxonomy, 4, 1)) || substr(taxonomy, 5)
        |      ELSE taxonomy END AS label,
        |    CASE WHEN taxonomy LIKE 'pa\_%' ESCAPE '\'
        |      THEN array_to_string(list_transform(
        |        string_split(replace(term, '_', '-'), '-'),
        |        w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ')
        |      ELSE term END AS v
        |  FROM terms0
        |)
        |SELECT product_id, taxonomy, label, string_agg(v, ', ' ORDER BY v) AS terms
        |FROM rendered
        |GROUP BY product_id, taxonomy, label
        |ORDER BY product_id, taxonomy""".stripMargin),

    "k3_delete_filter" -> (P +
      """SELECT vector_id, product_id FROM sync_state
        |WHERE NOT (product_id % 10 = 3 AND site_id = 1)
        |ORDER BY vector_id""".stripMargin),

    "k4_delete_ids" -> (P +
      """SELECT vector_id FROM sync_state
        |WHERE vector_id NOT IN (
        |  SELECT vector_id FROM sync_state WHERE product_id % 7 = 0)
        |ORDER BY vector_id""".stripMargin),

    "j4_chunk_delta" ->
      """WITH fresh AS (
        |  SELECT doc_id, i AS idx, sha256(substr(text, i * 200 + 1, 200)) AS sha
        |  FROM documents, UNNEST(generate_series(0, CAST(ceil(length(text) / 200.0) AS INT) - 1)) t(i)
        |  WHERE length(text) > 0
        |), old_docs AS (
        |  SELECT doc_id,
        |    rpad(t0, CAST(length(t0) + CASE WHEN doc_id % 7 = 0 THEN 300 ELSE 0 END AS INTEGER), 'x') AS text
        |  FROM (SELECT doc_id,
        |          CASE WHEN doc_id % 5 = 0 THEN 'OLD:' || text ELSE text END AS t0
        |        FROM documents)
        |), existing AS (
        |  SELECT doc_id, i AS idx, sha256(substr(text, i * 200 + 1, 200)) AS sha
        |  FROM old_docs, UNNEST(generate_series(0, CAST(ceil(length(text) / 200.0) AS INT) - 1)) t(i)
        |  WHERE length(text) > 0
        |)
        |SELECT COALESCE(f.doc_id, e.doc_id) AS doc_id,
        |       CAST(COALESCE(f.idx, e.idx) AS INTEGER) AS idx,
        |  CASE WHEN f.sha IS NULL THEN 'delete'
        |       WHEN e.sha IS NULL THEN 'upsert'
        |       WHEN e.sha <> f.sha THEN 'upsert'
        |       ELSE 'skip' END AS action
        |FROM fresh f FULL OUTER JOIN existing e USING (doc_id, idx)
        |ORDER BY doc_id, idx""".stripMargin,

    "a4_delta_summary" ->
      """WITH fresh AS (
        |  SELECT doc_id, i AS idx, sha256(substr(text, i * 200 + 1, 200)) AS sha
        |  FROM documents, UNNEST(generate_series(0, CAST(ceil(length(text) / 200.0) AS INT) - 1)) t(i)
        |  WHERE length(text) > 0
        |), old_docs AS (
        |  SELECT doc_id,
        |    rpad(t0, CAST(length(t0) + CASE WHEN doc_id % 7 = 0 THEN 300 ELSE 0 END AS INTEGER), 'x') AS text
        |  FROM (SELECT doc_id,
        |          CASE WHEN doc_id % 5 = 0 THEN 'OLD:' || text ELSE text END AS t0
        |        FROM documents)
        |), existing AS (
        |  SELECT doc_id, i AS idx, sha256(substr(text, i * 200 + 1, 200)) AS sha
        |  FROM old_docs, UNNEST(generate_series(0, CAST(ceil(length(text) / 200.0) AS INT) - 1)) t(i)
        |  WHERE length(text) > 0
        |)
        |SELECT action, COUNT(*) AS n FROM (
        |  SELECT CASE WHEN f.sha IS NULL THEN 'delete'
        |              WHEN e.sha IS NULL THEN 'upsert'
        |              WHEN e.sha <> f.sha THEN 'upsert'
        |              ELSE 'skip' END AS action
        |  FROM fresh f FULL OUTER JOIN existing e USING (doc_id, idx))
        |GROUP BY action
        |ORDER BY action""".stripMargin,

    "dd_exact" ->
      """SELECT MIN(doc_id) AS keep_id, h, COUNT(*) AS n
        |FROM (SELECT doc_id,
        |        sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
        |      FROM documents)
        |GROUP BY h
        |ORDER BY h""".stripMargin,

    // recomputes the index's BM25 from the raw corpus — exact
    // micro-point integer sums, the ta_bm25 math restricted to the
    // query terms
    "lx_search" -> lxBm25Sql("documents"),

    // IDENTICAL math to lx_search — the Spark side answers from the
    // incrementally-ingested index, so matching proves exact merge
    "lx_search_inc" -> lxBm25Sql("documents"),

    // the FILTERED-corpus recompute — the Spark side answers from the
    // full-corpus index after tombstoned deletes, so matching proves
    // delete ≡ rebuild-without-victims (df and corpus stats corrected
    // algebraically, dead postings masked)
    "lx_search_del" ->
      lxBm25Sql("(SELECT * FROM documents WHERE doc_id % 7 <> 0)"),

    // the UPDATED-corpus recompute — the Spark side answers from the
    // built index after an atomic upsert of the modified docs, so
    // matching proves upsert ≡ rebuild-with-updated-corpus
    "lx_search_upd" ->
      lxBm25Sql("(SELECT doc_id, CASE WHEN doc_id % 11 = 3 " +
        "THEN text || ' updated revision text' ELSE text END AS text " +
        "FROM documents)"),

    // the WINNER-ONLY recompute — the Spark side upserts a CDC batch
    // holding two seq-ordered versions per modified doc; matching
    // proves the last-wins collapse (losing version's tokens absent,
    // stats counted once)
    "lx_search_cdc" ->
      lxBm25Sql("(SELECT doc_id, CASE WHEN doc_id % 13 = 5 " +
        "THEN text || ' final merge revision' ELSE text END AS text " +
        "FROM documents)"),

    "lx_hybrid" ->
      s"""WITH tok AS (
         |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
         |), dfreq AS (
         |  SELECT token, COUNT(*) AS df
         |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1
         |), consts AS (
         |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         |    CAST(SUM(dl) AS BIGINT) AS sum_dl, COUNT(*) AS n_dl FROM dl
         |), scored AS (
         |  SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
         |    CAST(round(
         |      ln(1.0 + CAST(n_docs - df + 0.5 AS DOUBLE)
         |               / CAST(df + 0.5 AS DOUBLE))
         |      * (CAST(tf AS DOUBLE) * 2.2)
         |      / (tf + 1.2 * (0.25 + 0.75 *
         |          (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_dl))))
         |      * 1e6, 0) AS BIGINT) AS micro
         |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), consts
         |  WHERE tf.token IN ('vector', 'merge', 'spark')
         |), agg AS (
         |  SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_micro
         |  FROM scored GROUP BY 1
         |), lexpool AS (
         |  SELECT doc_id, rank_lex FROM (
         |    SELECT doc_id,
         |      CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank_lex
         |    FROM agg)
         |  WHERE rank_lex <= 50
         |), vq AS (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
         |), vscored AS (
         |  SELECT CAST(vec_id AS BIGINT) AS doc_id,
         |    round(${cosSql("embedding", "qe")}, 6) AS cos
         |  FROM embeddings, vq WHERE vec_id <> 0
         |), vecpool AS (
         |  SELECT doc_id, rank_vec FROM (
         |    SELECT doc_id,
         |      CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS rank_vec
         |    FROM vscored)
         |  WHERE rank_vec <= 50
         |), fused AS (
         |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, rank_lex, rank_vec,
         |    COALESCE(1000000 // (60 + rank_lex), 0)
         |      + COALESCE(1000000 // (60 + rank_vec), 0) AS rrf_micro
         |  FROM lexpool l FULL OUTER JOIN vecpool v ON l.doc_id = v.doc_id
         |)
         |SELECT doc_id, rank_lex, rank_vec, CAST(rrf_micro AS BIGINT) AS rrf_micro
         |FROM fused
         |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin,

    // lx_hybrid with the vector pool from the PERSISTED ANN index:
    // the bm25 chain verbatim + the sim_ivf_kmeans training/probe
    // chain verbatim (nProbes=1 ≡ the assigned cell), fused by the
    // same integer RRF
    "lx_hybrid_ann" ->
      s"""WITH tok AS (
         |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
         |), dfreq AS (
         |  SELECT token, COUNT(*) AS df
         |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1
         |), consts AS (
         |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         |    CAST(SUM(dl) AS BIGINT) AS sum_dl, COUNT(*) AS n_dl FROM dl
         |), bscored AS (
         |  SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
         |    CAST(round(
         |      ln(1.0 + CAST(n_docs - df + 0.5 AS DOUBLE)
         |               / CAST(df + 0.5 AS DOUBLE))
         |      * (CAST(tf AS DOUBLE) * 2.2)
         |      / (tf + 1.2 * (0.25 + 0.75 *
         |          (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_dl))))
         |      * 1e6, 0) AS BIGINT) AS micro
         |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), consts
         |  WHERE tf.token IN ('vector', 'merge', 'spark')
         |), agg AS (
         |  SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_micro
         |  FROM bscored GROUP BY 1
         |), lexpool AS (
         |  SELECT doc_id, rank_lex FROM (
         |    SELECT doc_id,
         |      CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank_lex
         |    FROM agg)
         |  WHERE rank_lex <= 50
         |), ${trainSampleCte("tsam", "embeddings")}, cents0 AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM tsam ORDER BY vec_id LIMIT 8
         |), a0 AS (
         |  SELECT vec_id, embedding, centroid_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.embedding", "c.ce")}, 6) DESC, c.centroid_id) AS arn
         |    FROM tsam e CROSS JOIN cents0 c)
         |  WHERE arn = 1
         |), cmean AS (
         |  SELECT cell, j, round(avg(CAST(embedding[j] AS DOUBLE)), 9) AS m
         |  FROM a0, UNNEST(generate_series(1, len(embedding))) t(j)
         |  GROUP BY cell, j
         |), cents1 AS (
         |  SELECT cell AS centroid_id, list(m ORDER BY j) AS ce FROM cmean GROUP BY cell
         |), a1 AS (
         |  SELECT vec_id, embedding, centroid_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.embedding", "c.ce")}, 6) DESC, c.centroid_id) AS arn
         |    FROM embeddings e CROSS JOIN cents1 c)
         |  WHERE arn = 1
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe, cell FROM a1 WHERE vec_id = 0
         |), vscored AS (
         |  SELECT CAST(c.vec_id AS BIGINT) AS doc_id,
         |    round(${cosSql("q.qe", "c.embedding")}, 6) AS cos
         |  FROM q JOIN a1 c USING (cell)
         |  WHERE c.vec_id <> q.qid
         |), vecpool AS (
         |  SELECT doc_id, rank_vec FROM (
         |    SELECT doc_id,
         |      CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS rank_vec
         |    FROM vscored)
         |  WHERE rank_vec <= 50
         |), fused AS (
         |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, rank_lex, rank_vec,
         |    COALESCE(1000000 // (60 + rank_lex), 0)
         |      + COALESCE(1000000 // (60 + rank_vec), 0) AS rrf_micro
         |  FROM lexpool l FULL OUTER JOIN vecpool v ON l.doc_id = v.doc_id
         |)
         |SELECT CAST(0 AS BIGINT) AS qid, doc_id, rank_lex, rank_vec,
         |  CAST(rrf_micro AS BIGINT) AS rrf_micro
         |FROM fused
         |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin,

    // the ORIGINAL events table — the Spark side aggregates the
    // compacted layout, so matching proves compaction content-neutral
    "cp_compact_scan" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // mirrors FuzzyJoin.resolve with dualBlock: same corruption, the
    // prefix-5 OR suffix-5 block union, same levenshtein threshold
    "dd_fuzzy" ->
      """WITH probe AS (
        |  SELECT p_partkey AS probe_key,
        |    substring(p_name, 1, 1) || substring(p_name, 3) AS p_text
        |  FROM part WHERE p_partkey % 10 = 0
        |), master AS (
        |  SELECT p_partkey AS match_key, p_name AS m_text FROM part
        |)
        |SELECT probe_key, match_key,
        |  CAST(levenshtein(p_text, m_text) AS INTEGER) AS dist
        |FROM probe JOIN master
        |  ON substring(p_text, 1, 5) = substring(m_text, 1, 5)
        |  OR substring(reverse(p_text), 1, 5) = substring(reverse(m_text), 1, 5)
        |WHERE levenshtein(p_text, m_text) <= 2
        |ORDER BY probe_key, match_key""".stripMargin,

    // mirrors resolveCapped: top-cap window over the pair multiset per
    // probe key by (dist, match_key), capped = full match count > cap
    // (the Spark side never materializes the multiset; equivalence
    // argued in FuzzyJoin.resolveCapped's scaladoc)
    "dd_fuzzy_capped" ->
      """WITH probe AS (
        |  SELECT p_partkey AS probe_key,
        |    substring(p_name, 1, 1) || substring(p_name, 3) AS p_text
        |  FROM part WHERE p_partkey % 10 = 0
        |), master AS (
        |  SELECT p_partkey AS match_key, p_name AS m_text FROM part
        |), pairs AS (
        |  SELECT probe_key, match_key,
        |    CAST(levenshtein(p_text, m_text) AS INTEGER) AS dist,
        |    ROW_NUMBER() OVER (PARTITION BY probe_key
        |      ORDER BY levenshtein(p_text, m_text), match_key) AS rn,
        |    COUNT(*) OVER (PARTITION BY probe_key) AS n_matches
        |  FROM probe JOIN master
        |    ON substring(p_text, 1, 5) = substring(m_text, 1, 5)
        |    OR substring(reverse(p_text), 1, 5) = substring(reverse(m_text), 1, 5)
        |  WHERE levenshtein(p_text, m_text) <= 2
        |)
        |SELECT probe_key, match_key, dist,
        |  CAST(n_matches > 10 AS INTEGER) AS capped
        |FROM pairs WHERE rn <= 10
        |ORDER BY probe_key, match_key""".stripMargin,

    "dd_fuzzy_best" ->
      """WITH probe AS (
        |  SELECT p_partkey AS probe_key,
        |    substring(p_name, 1, 1) || substring(p_name, 3) AS p_text
        |  FROM part WHERE p_partkey % 10 = 0
        |), master AS (
        |  SELECT p_partkey AS match_key, p_name AS m_text FROM part
        |), pairs AS (
        |  SELECT probe_key, match_key,
        |    CAST(levenshtein(p_text, m_text) AS INTEGER) AS dist,
        |    ROW_NUMBER() OVER (PARTITION BY probe_key
        |      ORDER BY levenshtein(p_text, m_text), match_key) AS rn
        |  FROM probe JOIN master
        |    ON substring(p_text, 1, 5) = substring(m_text, 1, 5)
        |    OR substring(reverse(p_text), 1, 5) = substring(reverse(m_text), 1, 5)
        |  WHERE levenshtein(p_text, m_text) <= 2
        |)
        |SELECT probe_key, match_key, dist FROM pairs WHERE rn = 1
        |ORDER BY probe_key""".stripMargin,

    // mirrors TableDiff.hashed: sha256 over chr(1)-joined columns with
    // chr(0) null sentinels, then a full-outer join on the key
    "dt_diff" ->
      """WITH b AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |), a AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || '!' AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 19 = 0
        |), hb AS (
        |  SELECT doc_id, sha256(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(0)),
        |    coalesce(CAST(lang AS VARCHAR), chr(0)),
        |    coalesce(CAST(source AS VARCHAR), chr(0)),
        |    coalesce(CAST(n_chars AS VARCHAR), chr(0)))) AS before_hash
        |  FROM b
        |), ha AS (
        |  SELECT doc_id, sha256(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(0)),
        |    coalesce(CAST(lang AS VARCHAR), chr(0)),
        |    coalesce(CAST(source AS VARCHAR), chr(0)),
        |    coalesce(CAST(n_chars AS VARCHAR), chr(0)))) AS after_hash
        |  FROM a
        |)
        |SELECT COALESCE(hb.doc_id, ha.doc_id) AS doc_id,
        |  CASE WHEN hb.doc_id IS NULL THEN 'added'
        |       WHEN ha.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  before_hash, after_hash
        |FROM hb FULL OUTER JOIN ha ON hb.doc_id = ha.doc_id
        |WHERE hb.doc_id IS NULL OR ha.doc_id IS NULL
        |   OR before_hash <> after_hash
        |ORDER BY doc_id""".stripMargin,

    "dt_diff_summary" ->
      """WITH b AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |), a AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || '!' AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 19 = 0
        |), hb AS (
        |  SELECT doc_id, sha256(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(0)),
        |    coalesce(CAST(lang AS VARCHAR), chr(0)),
        |    coalesce(CAST(source AS VARCHAR), chr(0)),
        |    coalesce(CAST(n_chars AS VARCHAR), chr(0)))) AS before_hash
        |  FROM b
        |), ha AS (
        |  SELECT doc_id, sha256(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(0)),
        |    coalesce(CAST(lang AS VARCHAR), chr(0)),
        |    coalesce(CAST(source AS VARCHAR), chr(0)),
        |    coalesce(CAST(n_chars AS VARCHAR), chr(0)))) AS after_hash
        |  FROM a
        |), d AS (
        |  SELECT CASE WHEN hb.doc_id IS NULL THEN 'added'
        |              WHEN ha.doc_id IS NULL THEN 'removed'
        |              WHEN before_hash <> after_hash THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM hb FULL OUTER JOIN ha ON hb.doc_id = ha.doc_id
        |)
        |SELECT status, COUNT(*) AS n FROM d
        |GROUP BY status ORDER BY status""".stripMargin,

    "dd_src_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT h) AS n_unique,
        |  CAST((COUNT(*) - COUNT(DISTINCT h)) * 10000 // COUNT(*) AS BIGINT)
        |    AS dup_bps
        |FROM (SELECT source,
        |        sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
        |      FROM documents)
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "dd_minhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
         |  FROM toks, UNNEST(generate_series(1, len(ts) - 2)) t(i)
         |  WHERE len(ts) >= 3
         |), hs AS (
         |  SELECT doc_id, ${sha32Sql("g")} AS h FROM sh
         |)
         |SELECT doc_id, CAST(j AS INTEGER) AS j,
         |  MIN((h * (2 * j + 1) + 1000003 * j) % 4294967296) AS mh
         |FROM hs, UNNEST(generate_series(0, 15)) u(j)
         |GROUP BY doc_id, j
         |ORDER BY doc_id, j""".stripMargin,

    "dd_lsh_pairs" -> (LshBandsCtes +
      """
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |WHERE a.doc_id < b.doc_id
        |ORDER BY d1, d2""".stripMargin),

    // the persisted-index probe: same band chain (signatures are
    // row-local, so one full-corpus pass splits exactly like the
    // engine's separate batch/corpus passes), batch side = doc_id%10>=8,
    // index side = doc_id%10<8; n_sig_match counts agreeing minhashes
    "dd_index_query" -> (LshBandsCtes +
      """
        |, cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8
        |)
        |SELECT c.doc_id, c.dup_id,
        |  CAST(SUM(CASE WHEN am.mh = bm.mh THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sig_match
        |FROM cand c
        |JOIN mh am ON am.doc_id = c.doc_id
        |JOIN mh bm ON bm.doc_id = c.dup_id AND bm.j = am.j
        |GROUP BY c.doc_id, c.dup_id
        |ORDER BY c.doc_id, c.dup_id""".stripMargin),

    // verdict aggregation of the index probe: per incoming doc, the
    // candidate count, the best candidate by (sig matches, smallest
    // id) — mirrored via max-match join-back + MIN(dup_id) — and the
    // new/near_dup/likely_exact verdict at k=16
    "dd_index_classify" -> (LshBandsCtes +
      """
        |, cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8
        |), pm AS (
        |  SELECT c.doc_id, c.dup_id,
        |    CAST(SUM(CASE WHEN am.mh = bm.mh THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_sig_match
        |  FROM cand c
        |  JOIN mh am ON am.doc_id = c.doc_id
        |  JOIN mh bm ON bm.doc_id = c.dup_id AND bm.j = am.j
        |  GROUP BY c.doc_id, c.dup_id
        |), agg AS (
        |  SELECT doc_id, COUNT(DISTINCT dup_id) AS n_candidates,
        |    MAX(n_sig_match) AS best_sig_match
        |  FROM pm GROUP BY doc_id
        |), best AS (
        |  SELECT a.doc_id, a.n_candidates, a.best_sig_match,
        |    MIN(p.dup_id) AS best_dup_id
        |  FROM agg a JOIN pm p ON p.doc_id = a.doc_id
        |                      AND p.n_sig_match = a.best_sig_match
        |  GROUP BY a.doc_id, a.n_candidates, a.best_sig_match
        |)
        |SELECT d.doc_id,
        |  COALESCE(b.n_candidates, 0) AS n_candidates,
        |  b.best_dup_id,
        |  COALESCE(b.best_sig_match, 0) AS best_sig_match,
        |  CASE WHEN b.doc_id IS NULL THEN 'new'
        |       WHEN b.best_sig_match = 16 THEN 'likely_exact'
        |       ELSE 'near_dup' END AS verdict
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
        |LEFT JOIN best b ON b.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    "dd_split_leak" -> (LshBandsCtes +
      s"""
        |, pairs AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id < b.doc_id
        |), sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ${sha32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
        |         WHEN ${sha32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), e AS (
        |  SELECT d1 AS eval_id, d2 AS other_id FROM pairs
        |  UNION ALL SELECT d2 AS eval_id, d1 AS other_id FROM pairs
        |)
        |SELECT e.eval_id AS doc_id, se.split,
        |  COUNT(DISTINCT e.other_id) AS n_train_dups
        |FROM e JOIN sp se ON se.doc_id = e.eval_id
        |       JOIN sp so ON so.doc_id = e.other_id
        |WHERE se.split IN ('val', 'test') AND so.split = 'train'
        |GROUP BY e.eval_id, se.split
        |ORDER BY doc_id""".stripMargin),

    "dd_method_overlap" -> (LshBandsCtes +
      s"""
        |, tp AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id < b.doc_id
        |), ${cellPairsCtes("embeddings", 0.35)},
        |sp AS (
        |  SELECT d1, d2 FROM pairs
        |)
        |SELECT method, COUNT(*) AS n_pairs FROM (
        |  SELECT CASE WHEN tp.d1 IS NOT NULL AND sp.d1 IS NOT NULL THEN 'both'
        |              WHEN tp.d1 IS NOT NULL THEN 'text_only'
        |              ELSE 'semantic_only' END AS method
        |  FROM tp FULL OUTER JOIN sp ON tp.d1 = sp.d1 AND tp.d2 = sp.d2
        |)
        |GROUP BY method
        |ORDER BY method""".stripMargin),

    "dd_leak_apply" -> (LshBandsCtes +
      s"""
        |, pairs AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id < b.doc_id
        |), sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ${sha32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
        |         WHEN ${sha32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents
        |), e AS (
        |  SELECT d1 AS eval_id, d2 AS other_id FROM pairs
        |  UNION ALL SELECT d2 AS eval_id, d1 AS other_id FROM pairs
        |), leaks AS (
        |  SELECT DISTINCT e.eval_id
        |  FROM e JOIN sp se ON se.doc_id = e.eval_id
        |         JOIN sp so ON so.doc_id = e.other_id
        |  WHERE se.split IN ('val', 'test') AND so.split = 'train'
        |)
        |SELECT d.doc_id, sp.split, CAST(length(d.text) AS BIGINT) AS text_len
        |FROM documents d JOIN sp ON sp.doc_id = d.doc_id
        |WHERE d.doc_id NOT IN (SELECT eval_id FROM leaks)
        |ORDER BY d.doc_id""".stripMargin),

    // exact connected components over the LSH pair graph (recursive
    // transitive closure, min id per component) — the same fixpoint the
    // Spark side's convergence-driven label propagation reaches.
    "dd_components" -> (LshBandsCtes + ComponentsCtes +
      """
        |SELECT doc_id, label AS cluster FROM l3
        |ORDER BY doc_id""".stripMargin),

    // Near-dedup APPLY: each cluster keeps its canonical (min) doc_id.
    "dd_near_apply" -> (LshBandsCtes + ComponentsCtes +
      """
        |SELECT doc_id FROM l3 WHERE doc_id = label
        |ORDER BY doc_id""".stripMargin),

    // Survivor policy by source priority: curated (src0-src9) rank 0,
    // crawl rank 1; per-cluster (prio, doc_id) winner.
    "dd_near_src" -> (LshBandsCtes + ComponentsCtes +
      """, pr AS (
        |  SELECT l3.doc_id, l3.label AS cluster, d.source,
        |    CASE WHEN d.source IN ('src0','src1','src2','src3','src4',
        |      'src5','src6','src7','src8','src9') THEN 0 ELSE 1 END AS prio
        |  FROM l3 JOIN documents d USING (doc_id)
        |), surv AS (
        |  SELECT doc_id, cluster, source,
        |    ROW_NUMBER() OVER (PARTITION BY cluster
        |      ORDER BY prio, doc_id) AS rn
        |  FROM pr
        |)
        |SELECT doc_id, cluster, source FROM surv WHERE rn = 1
        |ORDER BY doc_id""".stripMargin),

    // Incremental dedup: bands/shas computed once over all docs, split by
    // the same doc_id%10 rule the Spark query uses (the per-doc band/sha
    // values are independent of the split, so one chain serves both sides).
    "dd_incremental" -> (LshBandsCtes +
      """, shas AS (
        |  SELECT doc_id,
        |    sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
        |  FROM documents
        |), exact_ids AS (
        |  SELECT DISTINCT s.doc_id FROM shas s
        |  JOIN (SELECT DISTINCT h FROM shas WHERE doc_id % 10 < 8) c USING (h)
        |  WHERE s.doc_id % 10 >= 8
        |), near_ids AS (
        |  SELECT DISTINCT b.doc_id FROM bands b
        |  JOIN (SELECT DISTINCT band, sig FROM bands WHERE doc_id % 10 < 8) c
        |    USING (band, sig)
        |  WHERE b.doc_id % 10 >= 8
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id IN (SELECT doc_id FROM exact_ids) THEN 'exact_dup'
        |       WHEN doc_id IN (SELECT doc_id FROM near_ids) THEN 'near_dup'
        |       ELSE 'new' END AS status
        |FROM documents WHERE doc_id % 10 >= 8
        |ORDER BY doc_id""".stripMargin),

    "dd_simhash" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, w
         |  FROM (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\\S+')) AS w
         |        FROM documents)
         |), hs AS (
         |  SELECT doc_id, ${sha32Sql("w")} AS h FROM toks
         |), bits AS (
         |  SELECT doc_id, b,
         |    SUM(CASE WHEN floor(h / power(2, b)) % 2 = 1 THEN 1 ELSE -1 END) AS score
         |  FROM hs, UNNEST(generate_series(0, 15)) u(b)
         |  GROUP BY doc_id, b
         |)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN score >= 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "dd_apply" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id IN (
        |  SELECT MIN(doc_id) FROM (
        |    SELECT doc_id,
        |      sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
        |    FROM documents)
        |  GROUP BY h)
        |ORDER BY doc_id""".stripMargin,

    "ta_filter" ->
      """SELECT doc_id, quality FROM (
        |  SELECT doc_id,
        |    round(least(1.0, n_tokens / 100.0) * (1.0 - stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE)), 4) AS quality
        |  FROM (
        |    SELECT doc_id,
        |      len(regexp_extract_all(text, '\S+')) AS n_tokens,
        |      (length(text) - length(replace(text, ' the ', ''))) / 5 AS stop_hits
        |    FROM documents))
        |WHERE quality >= 0.5
        |ORDER BY doc_id""".stripMargin,

    "dd_simhash_pairs" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, w
         |  FROM (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\\S+')) AS w
         |        FROM documents)
         |), hs AS (
         |  SELECT doc_id, ${sha32Sql("w")} AS h FROM toks
         |), bits AS (
         |  SELECT doc_id, b,
         |    SUM(CASE WHEN floor(h / power(2, b)) % 2 = 1 THEN 1 ELSE -1 END) AS score
         |  FROM hs, UNNEST(generate_series(0, 31)) u(b)
         |  GROUP BY doc_id, b
         |), sh AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN score >= 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id
         |), blocks AS (
         |  SELECT doc_id, simhash, blk, (simhash >> (blk * 8)) % 256 AS v
         |  FROM sh, UNNEST(generate_series(0, 3)) t(blk)
         |)
         |SELECT DISTINCT d1, d2, hamming FROM (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.v = b.v AND a.doc_id < b.doc_id)
         |WHERE hamming <= 3
         |ORDER BY d1, d2""".stripMargin,

    "dd_jaccard" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, w
         |  FROM (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\\S+')) AS w
         |        FROM documents)
         |), sets AS (
         |  SELECT doc_id, list(DISTINCT ${sha32Sql("w")}) AS hs
         |  FROM tok GROUP BY doc_id
         |)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  round(len(list_intersect(a.hs, b.hs))
         |        / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 4) AS jaccard
         |FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
         |ORDER BY d1""".stripMargin,

    // exact-Jaccard verification mirror: the SAME band chain generates
    // candidates, then per-pair true overlap over the DISTINCT 32-bit
    // shingle-hash sets (post-hash distinct on BOTH engines, so the
    // negligible 2^32 collision behavior is identical)
    "dd_jaccard_verify" ->
      (LshBandsCtes +
        """, pairs AS (
          |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
          |  WHERE a.doc_id < b.doc_id
          |), hsd AS (
          |  SELECT DISTINCT doc_id, h FROM hs
          |), sizes AS (
          |  SELECT doc_id, COUNT(*) AS n FROM hsd GROUP BY 1
          |), inter AS (
          |  SELECT p.d1, p.d2, COUNT(*) AS inter
          |  FROM pairs p
          |  JOIN hsd h1 ON h1.doc_id = p.d1
          |  JOIN hsd h2 ON h2.doc_id = p.d2 AND h2.h = h1.h
          |  GROUP BY 1, 2
          |), scored AS (
          |  SELECT p.d1, p.d2,
          |    COALESCE(i.inter, 0) AS inter, s1.n AS n1, s2.n AS n2,
          |    round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
          |          / (s1.n + s2.n - COALESCE(i.inter, 0)), 6) AS jaccard
          |  FROM pairs p
          |  LEFT JOIN inter i ON i.d1 = p.d1 AND i.d2 = p.d2
          |  JOIN sizes s1 ON s1.doc_id = p.d1
          |  JOIN sizes s2 ON s2.doc_id = p.d2
          |)
          |SELECT d1, d2, inter, n1, n2, jaccard,
          |  CAST(jaccard >= 0.5 AS INTEGER) AS is_dup
          |FROM scored ORDER BY d1, d2""".stripMargin),

    "sim_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
         |scored AS (
         |  SELECT qid, cid, round(${cosSql("qe", "ce")}, 6) AS cos
         |  FROM q CROSS JOIN c
         |  WHERE qid <> cid
         |), ranked AS (
         |  SELECT qid, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM scored
         |)
         |SELECT qid, cid, cos, CAST(rn AS INTEGER) AS rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    "sim_hardneg" ->
      s"""WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
         |           FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS cid, label AS clabel, embedding AS ce FROM embeddings),
         |scored AS (
         |  SELECT qid, qlabel, cid, clabel, round(${cosSql("qe", "ce")}, 6) AS cos
         |  FROM q CROSS JOIN c
         |  WHERE qlabel <> clabel
         |), ranked AS (
         |  SELECT qid, qlabel, cid, clabel, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM scored
         |)
         |SELECT qid, qlabel, cid, clabel, cos, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    "sim_lsh_buckets" ->
      s"""SELECT bucket, COUNT(*) AS n FROM (
         |  SELECT ${(1 to 8).map(i =>
             s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")} AS bucket
         |  FROM embeddings)
         |GROUP BY bucket
         |ORDER BY bucket""".stripMargin,

    // banded candidates since round 11 — pairs share ANY sign band
    "sim_near_dup" ->
      (s"WITH ${cellPairsCtes("embeddings", 0.35)}\n" +
        "SELECT d1, d2, cos FROM pairs ORDER BY d1, d2"),

    "sim_decon" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    ${(1 to 8).map(i =>
             s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")} AS bucket
         |  FROM embeddings
         |), t AS (
         |  SELECT vec_id, embedding, bucket FROM b
         |  WHERE vec_id % 20 <> 0 OR vec_id >= 2000
         |), bm AS (
         |  SELECT vec_id AS bench_id, embedding AS be, bucket FROM b
         |  WHERE vec_id % 20 = 0 AND vec_id < 2000
         |), hits AS (
         |  SELECT t.vec_id, bm.bench_id,
         |    round(${cosSql("t.embedding", "bm.be")}, 6) AS cos
         |  FROM t JOIN bm ON t.bucket = bm.bucket
         |)
         |SELECT vec_id, COUNT(*) AS n_hits, MAX(cos) AS max_cos,
         |  MIN(bench_id) AS bench_id
         |FROM hits WHERE cos >= 0.25
         |GROUP BY vec_id
         |ORDER BY vec_id""".stripMargin,

    // banded decontamination: candidates share ANY of 8 four-bit
    // sign-bands ('j:bbbb' prefixed so bands can't cross-collide)
    "sim_decon_banded" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${bandSigsSql(4)} AS sigs FROM embeddings
         |), t AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 20 <> 0 OR vec_id >= 2000
         |), ts AS (
         |  SELECT vec_id, unnest(sigs) AS sig FROM e
         |  WHERE vec_id % 20 <> 0 OR vec_id >= 2000
         |), bs AS (
         |  SELECT vec_id AS bench_id, unnest(sigs) AS sig FROM e
         |  WHERE vec_id % 20 = 0 AND vec_id < 2000
         |), cand AS (
         |  SELECT DISTINCT ts.vec_id, bs.bench_id FROM ts JOIN bs USING (sig)
         |), bm AS (
         |  SELECT vec_id AS bench_id, embedding AS be FROM embeddings
         |  WHERE vec_id % 20 = 0 AND vec_id < 2000
         |), hits AS (
         |  SELECT c.vec_id, c.bench_id,
         |    round(${cosSql("t.embedding", "bm.be")}, 6) AS cos
         |  FROM cand c JOIN t ON c.vec_id = t.vec_id
         |  JOIN bm ON c.bench_id = bm.bench_id
         |)
         |SELECT vec_id, COUNT(*) AS n_hits, MAX(cos) AS max_cos,
         |  MIN(bench_id) AS bench_id
         |FROM hits WHERE cos >= 0.25
         |GROUP BY vec_id
         |ORDER BY vec_id""".stripMargin,

    "sim_knn" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    ${(1 to 8).map(i =>
             s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")} AS bucket
         |  FROM embeddings
         |), scored AS (
         |  SELECT a.vec_id AS src, bb.vec_id AS dst,
         |    round(${cosSql("a.embedding", "bb.embedding")}, 6) AS cos
         |  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id <> bb.vec_id
         |), ranked AS (
         |  SELECT src, dst, cos,
         |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
         |  FROM scored
         |)
         |SELECT src, dst, cos, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 3
         |ORDER BY src, rn""".stripMargin,

    // cells-based incremental mirror (round 14): the quantizer TRAINS on
    // cor (cellTrainCtes src = cor — cnn/seeds/Lloyd all corpus-only),
    // cor assigns through its own vsup, inc through a fresh super
    // ranking against the SAME trained seeds; candidates are cell-mates
    "sim_semdedup_inc" -> SemDedupIncSql,

    // the persisted-index probe (sim_semdedup_store) is spec-pinned
    // row-identical to the in-query operator on this split
    // (SemDedupIndexSpec), so it shares the mirror verbatim — same
    // training CTEs, same assignment, same verdict aggregate
    "sim_semdedup_store" -> SemDedupIncSql,

    // retrieval over the persisted dedup artifact: the same training
    // chain (cellTrainCtes over the WHOLE table), corpus assignment,
    // head queries probe their own 2 cells, exact-cosine rank — the
    // sim_ann_store shape on the two-level quantizer
    "sim_semdedup_search" ->
      s"""WITH ${cellTrainCtes("embeddings")},
         |${cellAssignCte("corA", "vsup", "embeddings")},
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8
         |), qa AS (
         |  SELECT vec_id AS qid, cell FROM corA WHERE vec_id < 8
         |), cand AS (
         |  SELECT DISTINCT qa.qid, c.vec_id AS cid
         |  FROM qa JOIN corA c USING (cell)
         |  WHERE c.vec_id <> qa.qid
         |), scored AS (
         |  SELECT cand.qid, cand.cid,
         |    round(${cosSql("q.qe", "e.embedding")}, 6) AS cos
         |  FROM cand JOIN q ON q.qid = cand.qid
         |  JOIN embeddings e ON e.vec_id = cand.cid
         |), ranked AS (
         |  SELECT qid, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM scored
         |)
         |SELECT qid, cid, cos, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    "sim_knn_classify" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    ${(1 to 8).map(i =>
             s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")} AS bucket
         |  FROM embeddings
         |), scored AS (
         |  SELECT a.vec_id AS src, bb.vec_id AS dst,
         |    round(${cosSql("a.embedding", "bb.embedding")}, 6) AS cos
         |  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id <> bb.vec_id
         |), g AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
         |    FROM scored)
         |  WHERE rn <= 3
         |), votes AS (
         |  SELECT g.src, e.label AS nlabel, COUNT(*) AS v
         |  FROM g JOIN embeddings e ON e.vec_id = g.dst
         |  GROUP BY g.src, e.label
         |), pick AS (
         |  SELECT src, nlabel AS pred FROM (
         |    SELECT src, nlabel,
         |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY v DESC, nlabel) AS rk
         |    FROM votes)
         |  WHERE rk = 1
         |)
         |SELECT p.src AS vec_id, e.label, p.pred,
         |  CAST(p.pred = e.label AS INTEGER) AS agree
         |FROM pick p JOIN embeddings e ON e.vec_id = p.src
         |ORDER BY vec_id""".stripMargin,

    // SemDeDup mirror: cosine edges + the same recursive-CTE transitive
    // closure as dd_components, keyed on vec_id — the exact fixpoint the
    // Spark side's convergence-driven propagation reaches
    "sim_semdedup" ->
      (s"WITH RECURSIVE $SemDedupCtes\n" +
        """SELECT vec_id, label AS cluster,
          |  CAST(vec_id = label AS INTEGER) AS survivor
          |FROM l3 ORDER BY vec_id""".stripMargin),

    // source-priority survivor mirror: the same cluster chain, survivor
    // by (priority, vec_id) rank within each cluster
    "sim_semdedup_priority" ->
      (s"WITH RECURSIVE $SemDedupCtes\n" +
        """, pr AS (
          |  SELECT l3.vec_id, l3.label AS cluster, d.source,
          |    CASE WHEN d.source IN ('src0','src1','src2','src3','src4')
          |      THEN 0 ELSE 1 END AS prio
          |  FROM l3 JOIN documents d ON d.doc_id = l3.vec_id
          |), surv AS (
          |  SELECT vec_id, cluster, source,
          |    ROW_NUMBER() OVER (PARTITION BY cluster
          |      ORDER BY prio, vec_id) AS rn
          |  FROM pr
          |)
          |SELECT vec_id, cluster, source FROM surv WHERE rn = 1
          |ORDER BY vec_id""".stripMargin),

    // SemDeDup APPLY mirror: survivor ids join the documents corpus
    "sim_semdedup_apply" ->
      (s"WITH RECURSIVE $SemDedupCtes\n" +
        """SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS text_len
          |FROM documents d JOIN l3 ON d.doc_id = l3.vec_id
          |WHERE l3.vec_id = l3.label
          |ORDER BY d.doc_id""".stripMargin),

    "sim_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8
         |), assigned AS (
         |  SELECT vec_id, embedding, centroid_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.embedding", "c.ce")}, 6) DESC, c.centroid_id) AS arn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE arn = 1
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe, cell FROM assigned WHERE vec_id < 8
         |), cand AS (
         |  SELECT vec_id AS cid, embedding AS ce, cell FROM assigned
         |), scored AS (
         |  SELECT qid, cid, round(${cosSql("qe", "ce")}, 6) AS cos
         |  FROM q JOIN cand USING (cell)
         |  WHERE qid <> cid
         |), ranked AS (
         |  SELECT qid, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM scored
         |)
         |SELECT qid, cid, cos, CAST(rn AS INTEGER) AS rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    "sim_ivf2" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8
         |), cranked AS (
         |  SELECT e.vec_id, e.embedding, c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${cosSql("e.embedding", "c.ce")}, 6) DESC, c.centroid_id) AS arn
         |  FROM embeddings e CROSS JOIN cents c
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe, centroid_id AS cell
         |  FROM cranked WHERE vec_id < 8 AND arn <= 2
         |), cand AS (
         |  SELECT vec_id AS cid, embedding AS ce, centroid_id AS cell
         |  FROM cranked WHERE arn = 1
         |), scored AS (
         |  SELECT qid, cid, round(${cosSql("qe", "ce")}, 6) AS cos
         |  FROM q JOIN cand USING (cell)
         |  WHERE qid <> cid
         |), rankd AS (
         |  SELECT qid, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM scored
         |)
         |SELECT qid, cid, cos, CAST(rn AS INTEGER) AS rn FROM rankd WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    "sim_ivf_kmeans" ->
      s"""WITH ${trainSampleCte("tsam", "embeddings")}, cents0 AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM tsam ORDER BY vec_id LIMIT 8
         |), a0 AS (
         |  SELECT vec_id, embedding, centroid_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.embedding", "c.ce")}, 6) DESC, c.centroid_id) AS arn
         |    FROM tsam e CROSS JOIN cents0 c)
         |  WHERE arn = 1
         |), cmean AS (
         |  SELECT cell, j, round(avg(CAST(embedding[j] AS DOUBLE)), 9) AS m
         |  FROM a0, UNNEST(generate_series(1, len(embedding))) t(j)
         |  GROUP BY cell, j
         |), cents1 AS (
         |  SELECT cell AS centroid_id, list(m ORDER BY j) AS ce FROM cmean GROUP BY cell
         |), a1 AS (
         |  SELECT vec_id, embedding, centroid_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.embedding", "c.ce")}, 6) DESC, c.centroid_id) AS arn
         |    FROM embeddings e CROSS JOIN cents1 c)
         |  WHERE arn = 1
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe, cell FROM a1 WHERE vec_id < 8
         |), cand AS (
         |  SELECT vec_id AS cid, embedding AS ce, cell FROM a1
         |), scored AS (
         |  SELECT qid, cid, round(${cosSql("qe", "ce")}, 6) AS cos
         |  FROM q JOIN cand USING (cell)
         |  WHERE qid <> cid
         |), ranked AS (
         |  SELECT qid, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM scored
         |)
         |SELECT qid, cid, cos, CAST(rn AS INTEGER) AS rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    "sim_decon_exact" ->
      s"""WITH ev AS (
         |  SELECT vec_id AS eval_id, embedding AS ee FROM embeddings
         |  ORDER BY vec_id LIMIT 8
         |), tr AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id NOT IN (SELECT eval_id FROM ev)
         |), s AS (
         |  SELECT t.vec_id, e.eval_id,
         |    round(${cosSql("t.embedding", "e.ee")}, 6) AS cos
         |  FROM tr t CROSS JOIN ev e
         |), r AS (
         |  SELECT vec_id, eval_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, eval_id) AS rn
         |  FROM s
         |)
         |SELECT vec_id, eval_id, cos AS max_cos, cos >= 0.3 AS contaminated
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // sim_prototypes: the sim_ivf_kmeans training chain (seed → Lloyd
    // mean 9dp → reassign at 6dp cosine), then per-cell prototypicality
    // rank and the floor(dropFrac·n_cell) drop line
    "sim_prototypes" ->
      s"""WITH ${trainSampleCte("tsam", "embeddings")}, cents0 AS (
         |  SELECT vec_id AS centroid_id, embedding AS ce FROM tsam ORDER BY vec_id LIMIT 8
         |), a0 AS (
         |  SELECT vec_id, embedding, centroid_id AS cell FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.embedding", "c.ce")}, 6) DESC, c.centroid_id) AS arn
         |    FROM tsam e CROSS JOIN cents0 c)
         |  WHERE arn = 1
         |), cmean AS (
         |  SELECT cell, j, round(avg(CAST(embedding[j] AS DOUBLE)), 9) AS m
         |  FROM a0, UNNEST(generate_series(1, len(embedding))) t(j)
         |  GROUP BY cell, j
         |), cents1 AS (
         |  SELECT cell AS centroid_id, list(m ORDER BY j) AS ce FROM cmean GROUP BY cell
         |), a1 AS (
         |  SELECT vec_id, centroid_id AS cell, ccos FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      round(${cosSql("e.embedding", "c.ce")}, 6) AS ccos,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.embedding", "c.ce")}, 6) DESC, c.centroid_id) AS arn
         |    FROM embeddings e CROSS JOIN cents1 c)
         |  WHERE arn = 1
         |), sizes AS (
         |  SELECT cell, COUNT(*) AS n_cell FROM a1 GROUP BY 1
         |), ranked AS (
         |  SELECT vec_id, cell, ccos,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY cell
         |      ORDER BY ccos DESC, vec_id) AS INTEGER) AS proto_rank
         |  FROM a1
         |)
         |SELECT r.vec_id, r.cell, r.ccos, r.proto_rank, s.n_cell,
         |  r.proto_rank > floor(0.3 * s.n_cell) AS kept
         |FROM ranked r JOIN sizes s USING (cell)
         |ORDER BY r.vec_id""".stripMargin,

    "sim_quantize" ->
      """WITH scaled AS (
        |  SELECT vec_id, embedding,
        |    greatest(round(
        |      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |      / 127.0, 9), 1e-9) AS scale
        |  FROM embeddings
        |), coded AS (
        |  SELECT vec_id, embedding, scale,
        |    list_transform(embedding, x ->
        |      CAST(least(greatest(round(CAST(x AS DOUBLE) / scale, 0), -127), 127) AS INTEGER)) AS codes
        |  FROM scaled
        |)
        |SELECT vec_id, scale,
        |  CAST(to_json(codes) AS VARCHAR) AS codes,
        |  round(list_sum(list_transform(list_zip(embedding, codes), p ->
        |      (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)
        |      * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)))
        |    / len(codes), 12) AS mse
        |FROM coded
        |ORDER BY vec_id""".stripMargin,

    "sim_centroids" ->
      """WITH cm AS (
        |  SELECT label, j,
        |    CAST(round(avg(CAST(embedding[j] AS DOUBLE)) * 1e9, 0) AS BIGINT) AS m,
        |    COUNT(*) AS n
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(j)
        |  GROUP BY label, j
        |)
        |SELECT label,
        |  CAST(to_json(list(m ORDER BY j)) AS VARCHAR) AS centroid_nano,
        |  CAST(MAX(n) AS BIGINT) AS n_members
        |FROM cm GROUP BY label
        |ORDER BY label""".stripMargin,

    // nano-rounded centroids feed the cosine so both engines score
    // bit-identical inputs; the outlier test compares the ROUNDED cos
    "sim_outliers" ->
      s"""WITH cm AS (
         |  SELECT label, j,
         |    CAST(round(avg(CAST(embedding[j] AS DOUBLE)) * 1e9, 0) AS BIGINT) AS m
         |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(j)
         |  GROUP BY label, j
         |), cent AS (
         |  SELECT label, list(CAST(m AS DOUBLE) / 1e9 ORDER BY j) AS c
         |  FROM cm GROUP BY label
         |), scored AS (
         |  SELECT e.vec_id, e.label,
         |    round(${cosSql("e.embedding", "cent.c")}, 6) AS cos
         |  FROM embeddings e JOIN cent USING (label)
         |)
         |SELECT vec_id, label, cos,
         |  CAST(cos < -0.10 AS INT) AS is_outlier
         |FROM scored ORDER BY vec_id""".stripMargin,

    // PQ mirror: nano-scaled integer L2 makes argmin ties and error sums
    // exact on both engines; the Lloyd mean rounds to 9 dp (ivf_kmeans
    // contract). list_sum folds left-to-right like Spark's aggregate().
    "sim_pq" -> ("WITH " + pqChain("embeddings") +
      """
        |SELECT vec_id,
        |  CAST(to_json(list(cell ORDER BY blk)) AS VARCHAR) AS codes,
        |  CAST(SUM(nano) AS BIGINT) AS err_nano
        |FROM a1 GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin),

    // ADC search mirror: per-query LUT vs the codebook, candidate
    // distance = integer sum of its codes' LUT entries
    "sim_pq_topk" -> ("WITH " + pqChain("embeddings") +
      s""", lutq AS (
         |  SELECT bl.vec_id AS qid, bl.blk, c.cid,
         |    ${nanoL2Sql("bl.sub", "c.ce")} AS dq
         |  FROM blocks bl JOIN cents1 c USING (blk)
         |  WHERE bl.vec_id < 8
         |), scored AS (
         |  SELECT l.qid, co.vec_id AS cid, CAST(SUM(l.dq) AS BIGINT) AS adist_nano
         |  FROM a1 co JOIN lutq l ON co.blk = l.blk AND co.cell = l.cid
         |  GROUP BY l.qid, co.vec_id
         |), ranked AS (
         |  SELECT qid, cid, adist_nano,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY adist_nano, cid) AS rn
         |  FROM scored WHERE qid <> cid
         |)
         |SELECT qid, cid, adist_nano, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin),

    // IVF-PQ mirror: integer nano-L2 coarse assignment, exact double
    // residuals, then the shared PQ chain over the residual table
    "sim_ivfpq" -> (s"""WITH ${trainSampleCte("tsam", "embeddings")}, coarse0 AS (
         |  SELECT vec_id AS ccell, embedding AS cce FROM tsam
         |  ORDER BY vec_id LIMIT 8
         |), c0scored AS (
         |  SELECT e.vec_id, e.embedding, c.ccell,
         |    ${nanoL2Sql("e.embedding", "c.cce")} AS c0nano
         |  FROM tsam e CROSS JOIN coarse0 c
         |), c0assign AS (
         |  SELECT vec_id, embedding, ccell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY c0nano, ccell) AS c0rn FROM c0scored)
         |  WHERE c0rn = 1
         |), ccmean AS (
         |  SELECT ccell, j, round(avg(CAST(embedding[j] AS DOUBLE)), 9) AS m
         |  FROM c0assign, UNNEST(generate_series(1, len(embedding))) t(j)
         |  GROUP BY ccell, j
         |), coarse AS (
         |  SELECT ccell, list(m ORDER BY j) AS cce FROM ccmean GROUP BY ccell
         |), cscored AS (
         |  SELECT e.vec_id, e.embedding, c.ccell, c.cce,
         |    ${nanoL2Sql("e.embedding", "c.cce")} AS cnano
         |  FROM embeddings e CROSS JOIN coarse c
         |), cassign AS (
         |  SELECT vec_id, embedding, ccell, cce FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY cnano, ccell) AS crn FROM cscored)
         |  WHERE crn = 1
         |), resid AS (
         |  SELECT vec_id, list_transform(list_zip(embedding, cce), p ->
         |    CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS embedding
         |  FROM cassign
         |), """.stripMargin + pqChain("resid") +
      """, pqcodes AS (
        |  SELECT vec_id,
        |    CAST(to_json(list(cell ORDER BY blk)) AS VARCHAR) AS codes,
        |    CAST(SUM(nano) AS BIGINT) AS err_nano
        |  FROM a1 GROUP BY vec_id
        |)
        |SELECT vec_id, ccell AS cell, codes, err_nano
        |FROM pqcodes JOIN cassign USING (vec_id)
        |ORDER BY vec_id""".stripMargin),

    // IVF-PQ search mirror: per-(query, probed-cell) residual LUT, cell
    // pruning via the candcodes.ccell = lut.pcell equi-join
    "sim_ivfpq_topk" -> (s"""WITH ${trainSampleCte("tsam", "embeddings")}, coarse0 AS (
         |  SELECT vec_id AS ccell, embedding AS cce FROM tsam
         |  ORDER BY vec_id LIMIT 8
         |), c0scored AS (
         |  SELECT e.vec_id, e.embedding, c.ccell,
         |    ${nanoL2Sql("e.embedding", "c.cce")} AS c0nano
         |  FROM tsam e CROSS JOIN coarse0 c
         |), c0assign AS (
         |  SELECT vec_id, embedding, ccell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY c0nano, ccell) AS c0rn FROM c0scored)
         |  WHERE c0rn = 1
         |), ccmean AS (
         |  SELECT ccell, j, round(avg(CAST(embedding[j] AS DOUBLE)), 9) AS m
         |  FROM c0assign, UNNEST(generate_series(1, len(embedding))) t(j)
         |  GROUP BY ccell, j
         |), coarse AS (
         |  SELECT ccell, list(m ORDER BY j) AS cce FROM ccmean GROUP BY ccell
         |), cscored AS (
         |  SELECT e.vec_id, e.embedding, c.ccell, c.cce,
         |    ${nanoL2Sql("e.embedding", "c.cce")} AS cnano
         |  FROM embeddings e CROSS JOIN coarse c
         |), cassign AS (
         |  SELECT vec_id, embedding, ccell, cce FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY cnano, ccell) AS crn FROM cscored)
         |  WHERE crn = 1
         |), resid AS (
         |  SELECT vec_id, list_transform(list_zip(embedding, cce), p ->
         |    CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS embedding
         |  FROM cassign
         |), """.stripMargin + pqChain("resid") +
      s""", qprobe AS (
         |  SELECT qid, ccell AS pcell,
         |    list_transform(list_zip(qe, cce), p ->
         |      CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS rq
         |  FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qe, c.ccell, c.cce,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${nanoL2Sql("e.embedding", "c.cce")}, c.ccell) AS prn
         |    FROM embeddings e CROSS JOIN coarse c
         |    WHERE e.vec_id < 8)
         |  WHERE prn <= 2
         |), rqb AS (
         |  SELECT qid, pcell, b AS blk, rq[b*8+1 : b*8+8] AS sub
         |  FROM qprobe, UNNEST(generate_series(0, 7)) t(b)
         |), lutq AS (
         |  SELECT r.qid, r.pcell, r.blk, c.cid,
         |    ${nanoL2Sql("r.sub", "c.ce")} AS dq
         |  FROM rqb r JOIN cents1 c USING (blk)
         |), candcodes AS (
         |  SELECT a1.vec_id AS cid, ca.ccell, a1.blk, a1.cell
         |  FROM a1 JOIN cassign ca USING (vec_id)
         |), scored AS (
         |  SELECT l.qid, cc.cid, CAST(SUM(l.dq) AS BIGINT) AS adist_nano
         |  FROM candcodes cc JOIN lutq l
         |    ON cc.ccell = l.pcell AND cc.blk = l.blk AND cc.cell = l.cid
         |  GROUP BY l.qid, cc.cid
         |), ranked AS (
         |  SELECT qid, cid, adist_nano,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY adist_nano, cid) AS rn
         |  FROM scored WHERE qid <> cid
         |)
         |SELECT qid, cid, adist_nano, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin),

    "ta_langid" ->
      """SELECT doc_id, lang,
        |  CASE WHEN ce >= ca AND ce >= co THEN 'en'
        |       WHEN ca >= co THEN 'es'
        |       ELSE 'de' END AS lang_pred,
        |  CASE WHEN lang = (CASE WHEN ce >= ca AND ce >= co THEN 'en'
        |                         WHEN ca >= co THEN 'es'
        |                         ELSE 'de' END) THEN 1 ELSE 0 END AS hit
        |FROM (
        |  SELECT doc_id, lang,
        |    length(lower(text)) - length(replace(lower(text), 'e', '')) AS ce,
        |    length(lower(text)) - length(replace(lower(text), 'a', '')) AS ca,
        |    length(lower(text)) - length(replace(lower(text), 'o', '')) AS co
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "ta_quality" -> QualityOracle,

    "ta_tiers" ->
      s"""SELECT tier, COUNT(*) AS n_docs,
         |  MIN(quality) AS min_q, MAX(quality) AS max_q,
         |  CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
         |FROM (
         |  SELECT doc_id, n_tokens, quality,
         |    CAST(NTILE(10) OVER (ORDER BY quality, doc_id) AS INTEGER) AS tier
         |  FROM ($QualityOracle))
         |GROUP BY tier
         |ORDER BY tier""".stripMargin,

    "ta_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS bpe_ish_tokens,
        |  CAST(ceil(strlen(text) / 4.0) AS INT) AS approx_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "ta_fingerprint" ->
      """SELECT doc_id,
        |  sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  substr(sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fp64
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "ta_winnow" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts FROM documents
         |), hsx AS (
         |  SELECT doc_id,
         |    list_transform(ts, t -> ${sha32Sql("t")}) AS hs
         |  FROM toks WHERE len(ts) >= 8
         |), wins AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    (hs[i]*823543 + hs[i+1]*117649 + hs[i+2]*16807 + hs[i+3]*2401 +
         |     hs[i+4]*343 + hs[i+5]*49 + hs[i+6]*7 + hs[i+7]) % 4294967296 AS wh
         |  FROM hsx, UNNEST(generate_series(1, len(hs) - 7)) t(i)
         |)
         |SELECT doc_id, CAST(floor(pos / 4) AS BIGINT) AS band, MIN(wh) AS fp
         |FROM wins
         |GROUP BY doc_id, band
         |ORDER BY doc_id, band""".stripMargin,

    "ta_split" ->
      s"""SELECT doc_id,
         |  ${sha32Sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CASE WHEN ${sha32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
         |       WHEN ${sha32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "ta_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(t AS BIGINT)) AS BIGINT) AS total_tokens,
        |  round(avg(CAST(t AS DOUBLE)), 4) AS mean_tokens,
        |  round(avg(q), 4) AS mean_quality
        |FROM (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '\S+')) AS t,
        |    least(1.0, len(regexp_extract_all(text, '\S+')) / 100.0) *
        |      (1.0 - ((length(text) - length(replace(text, ' the ', ''))) / 5)
        |             / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE)) AS q
        |  FROM documents)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "ta_pack" -> PackOracle,

    // per-lang packing-efficiency card over the same shared SQL
    "ta_pack_stats" ->
      s"""SELECT lang,
         |  CAST(MAX(pack_id) + 1 AS BIGINT) AS n_packs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_tokens) AS BIGINT) * 10000
         |    // ((MAX(pack_id) + 1) * 2048) AS util_bps
         |FROM ($PackOracle)
         |GROUP BY lang
         |ORDER BY lang""".stripMargin,

    "ta_sample" ->
      s"""SELECT doc_id,
         |  round(least(1.0, len(regexp_extract_all(text, '\\S+')) / 100.0)
         |    * (1.0 - ((length(text) - length(replace(text, ' the ', ''))) / 5)
         |           / CAST(greatest(len(regexp_extract_all(text, '\\S+')), 1) AS DOUBLE)), 4) AS quality,
         |  (${sha32Sql("'sample:' || CAST(doc_id AS VARCHAR)")} % 1000000) / 1000000.0 AS u,
         |  CAST((${sha32Sql("'sample:' || CAST(doc_id AS VARCHAR)")} % 1000000) / 1000000.0
         |    < round(least(1.0, len(regexp_extract_all(text, '\\S+')) / 100.0)
         |        * (1.0 - ((length(text) - length(replace(text, ' the ', ''))) / 5)
         |               / CAST(greatest(len(regexp_extract_all(text, '\\S+')), 1) AS DOUBLE)), 4) * 0.5
         |    AS INTEGER) AS sampled
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "ta_mix" ->
      """WITH counts AS (
        |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT lang, n_docs,
        |    SUM(n_docs) OVER () AS total,
        |    COUNT(*) OVER () AS k
        |  FROM counts
        |)
        |SELECT lang, n_docs,
        |  round(n_docs / CAST(total AS DOUBLE), 6) AS share,
        |  round(1.0 / CAST(k AS DOUBLE), 6) AS target_share,
        |  round(least(4.0, (1.0 / CAST(k AS DOUBLE))
        |    / (n_docs / CAST(total AS DOUBLE))), 4) AS repeat_factor
        |FROM tot
        |ORDER BY lang""".stripMargin,

    // T=2 temperature sampling: sqrt is IEEE-exact on both engines and
    // each sqrt quantizes to integer micros BEFORE the normalizing sum
    "ta_mix_temp" ->
      """WITH counts AS (
        |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        |), q AS (
        |  SELECT lang, n_docs,
        |    SUM(n_docs) OVER () AS total,
        |    CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e6, 0) AS BIGINT) AS sqm
        |  FROM counts
        |), t AS (
        |  SELECT lang, n_docs, total, sqm, SUM(sqm) OVER () AS sq_sum FROM q
        |)
        |SELECT lang, n_docs,
        |  round(n_docs / CAST(total AS DOUBLE), 6) AS share,
        |  round(sqm / CAST(sq_sum AS DOUBLE), 6) AS temp_share,
        |  round((sqm / CAST(sq_sum AS DOUBLE))
        |    / (n_docs / CAST(total AS DOUBLE)), 4) AS repeat_factor
        |FROM t
        |ORDER BY lang""".stripMargin,

    "ta_repetition" -> RepetitionOracle,

    "ta_vocab" ->
      """WITH tok AS (
        |  SELECT lang, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |), counts AS (
        |  SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token
        |), ranked AS (
        |  SELECT lang, token, n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS INTEGER) AS rank
        |  FROM counts
        |)
        |SELECT lang, token, n, rank FROM ranked WHERE rank <= 20
        |ORDER BY lang, rank""".stripMargin,

    // Generated: the bounded BPE training loop unrolled into 20 chained
    // CTE rounds (pair-count/argmax + list_reduce rewrite per round).
    "ta_bpe" -> OracleSql.bpeMerges(20),

    // Generated: rank-ordered merge applications unrolled into nested
    // row-local list folds over each document's word list.
    "ta_bpe_encode" -> OracleSql.bpeEncode(operators.Bpe.DemoMerges),

    "ta_fertility" -> OracleSql.bpeFertility(operators.Bpe.DemoMerges),

    "ta_release" -> (
      s"""WITH RECURSIVE q AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      round(least(1.0, n_tokens / 100.0) * (1.0 - stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE)), 4) AS quality
         |    FROM (
         |      SELECT doc_id,
         |        len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |        (length(text) - length(replace(text, ' the ', ''))) / 5 AS stop_hits
         |      FROM documents))
         |  WHERE quality >= 0.5
         |), d1 AS (
         |  SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM q)
         |), keep1 AS (
         |  SELECT MIN(doc_id) AS doc_id
         |  FROM (SELECT doc_id,
         |          sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
         |        FROM d1)
         |  GROUP BY h
         |), d2 AS (
         |  SELECT * FROM d1 WHERE doc_id IN (SELECT doc_id FROM keep1)
         |), ${lshBandsCtes("d2")}${componentsCtes("d2")}
         |, keep2 AS (
         |  SELECT doc_id FROM l3 WHERE doc_id = label
         |), d3 AS (
         |  SELECT * FROM d2 WHERE doc_id IN (SELECT doc_id FROM keep2)
         |)
         |SELECT
         |  CASE WHEN ${sha32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
         |       WHEN ${sha32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
         |       ELSE 'test' END AS split,
         |  lang, COUNT(*) AS n_docs
         |FROM d3
         |GROUP BY 1, lang
         |ORDER BY split, lang""".stripMargin),

    "ta_release2" -> {
      val ntok =
        "CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS BIGINT)"
      def cardSql(stage: String, rel: String) =
        s"""SELECT '$stage' AS stage, COUNT(*) AS n_docs,
           |  COALESCE(CAST(SUM($ntok) AS BIGINT), 0) AS n_tokens FROM $rel"""
          .stripMargin
      s"""WITH RECURSIVE ctoks AS (
         |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS t
         |  FROM documents
         |), ctw AS (
         |  SELECT doc_id,
         |    ${sha32Sql("'w:v1:' || CAST(" + sha32Sql("t") + " % 1024 AS VARCHAR)")}
         |      % 2001 - 1000 AS w
         |  FROM ctoks
         |), cagg AS (
         |  SELECT doc_id, COUNT(*) AS n, CAST(SUM(w) AS BIGINT) AS sum_w
         |  FROM ctw GROUP BY 1
         |), d1 AS (
         |  SELECT * FROM documents WHERE doc_id IN
         |    (SELECT doc_id FROM cagg WHERE sum_w * 1000 // n >= 0)
         |), keep1 AS (
         |  SELECT MIN(doc_id) AS doc_id FROM (
         |    SELECT doc_id,
         |      sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
         |    FROM d1)
         |  GROUP BY h
         |), d2 AS (
         |  SELECT * FROM d1 WHERE doc_id IN (SELECT doc_id FROM keep1)
         |), ${lshBandsCtes("d2")}${componentsCtes("d2")}
         |, d3 AS (
         |  SELECT * FROM d2 WHERE doc_id IN
         |    (SELECT doc_id FROM l3 WHERE doc_id = label)
         |), bbase AS (
         |  SELECT doc_id, source, $ntok AS n_tok,
         |    ${sha32Sql("'budget:v1:' || CAST(doc_id AS VARCHAR)")} AS pri
         |  FROM d3
         |), bwin AS (
         |  SELECT doc_id,
         |    SUM(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM bbase
         |), d4 AS (
         |  SELECT * FROM d3 WHERE doc_id IN
         |    (SELECT doc_id FROM bwin WHERE cum <= 800)
         |)
         |${cardSql("00_input", "documents")}
         |UNION ALL ${cardSql("10_classify", "d1")}
         |UNION ALL ${cardSql("20_exact", "d2")}
         |UNION ALL ${cardSql("30_near", "d3")}
         |UNION ALL ${cardSql("40_budget", "d4")}
         |ORDER BY stage""".stripMargin
    },

    "ta_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
        |), dfreq AS (
        |  SELECT token, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
        |), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (token), nd
        |), ranked AS (
        |  SELECT doc_id, token, tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, token) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, token, tfidf FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "ta_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
        |), dfreq AS (
        |  SELECT token, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
        |), consts AS (
        |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS sum_dl, COUNT(*) AS n_dl FROM dl
        |), scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    round(
        |      ln(1.0 + CAST(n_docs - df + 0.5 AS DOUBLE)
        |               / CAST(df + 0.5 AS DOUBLE))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (tf + 1.2 * (0.25 + 0.75 *
        |          (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_dl)))),
        |      6) AS bm25
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), consts
        |), ranked AS (
        |  SELECT doc_id, token, bm25,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY bm25 DESC, token) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, token, bm25 FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "ta_unigram" -> UnigramOracle,

    "ta_bigram" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
        |  FROM documents
        |), bgs AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(ts)-1),
        |                          i -> ts[i] || ' ' || ts[i+1])) AS bg
        |  FROM toks
        |), tfbg AS (
        |  SELECT doc_id, bg, COUNT(*) AS tf FROM bgs GROUP BY 1, 2
        |), cbg AS MATERIALIZED (
        |  SELECT bg, SUM(tf) AS c FROM tfbg GROUP BY 1
        |), cl AS (
        |  SELECT split_part(bg, ' ', 1) AS l, SUM(c) AS cl FROM cbg GROUP BY 1
        |), perdoc AS (
        |  SELECT t.doc_id, SUM(t.tf) AS n_bigrams,
        |    SUM(t.tf * CAST(round(ln(CAST(cl.cl AS DOUBLE) / b.c)
        |                          / ln(2.0) * 1000000.0, 0) AS BIGINT))
        |      AS micro_bits
        |  FROM tfbg t JOIN cbg b USING (bg)
        |  JOIN cl ON split_part(t.bg, ' ', 1) = cl.l
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(p.micro_bits, 0) AS BIGINT) AS micro_bits,
        |  CASE WHEN p.n_bigrams > 0
        |       THEN CAST(round(p.micro_bits / CAST(p.n_bigrams AS DOUBLE), 0)
        |                 AS BIGINT) END AS micro_bpb
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "ta_lm_filter" ->
      (OracleSql.unigramScored +
        """SELECT d.doc_id, d.lang, d.source, s.micro_bpt
          |FROM documents d JOIN scored s USING (doc_id)
          |WHERE s.micro_bpt BETWEEN 4890000 AND 4950000
          |ORDER BY d.doc_id""".stripMargin),

    "ta_dsir" ->
      (DsirCtes +
        """SELECT doc_id, n_grams, micro_logw FROM weights
          |ORDER BY doc_id""".stripMargin),

    "ta_dsir_select" ->
      (DsirCtes +
        s""", gum AS (
          |  SELECT doc_id, n_grams, micro_logw,
          |    CAST(round(-ln(-ln((${sha32Sql("'dsir:7:' || CAST(doc_id AS VARCHAR)")} + 0.5)
          |                       / 4294967296.0)) * 1000000.0, 0) AS BIGINT)
          |      AS micro_gumbel
          |  FROM weights
          |), ranked AS (
          |  SELECT doc_id, n_grams, micro_logw, micro_gumbel,
          |    CAST(ROW_NUMBER() OVER (
          |      ORDER BY micro_logw + micro_gumbel DESC, doc_id) AS INTEGER)
          |      AS rank
          |  FROM gum
          |)
          |SELECT rank, doc_id, n_grams, micro_logw, micro_gumbel
          |FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin),

    // quantile_cont ≡ Spark percentile (the ta_quantiles parity),
    // bounds rounded 4dp before the clamp on both sides
    "ta_winsorize" ->
      """WITH bounds AS (
        |  SELECT lang,
        |    round(quantile_cont(n_chars, 0.05), 4) AS lo,
        |    round(quantile_cont(n_chars, 0.95), 4) AS hi
        |  FROM documents GROUP BY lang
        |)
        |SELECT doc_id, lang, n_chars, lo, hi,
        |  round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi), 4) AS clamped
        |FROM documents JOIN bounds USING (lang)
        |ORDER BY doc_id""".stripMargin,

    "ta_quantiles" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  round(quantile_cont(t, 0.5), 4) AS p50,
        |  round(quantile_cont(t, 0.9), 4) AS p90,
        |  round(quantile_cont(t, 0.99), 4) AS p99,
        |  CAST(MAX(t) AS BIGINT) AS p100
        |FROM (SELECT lang, len(regexp_extract_all(text, '\S+')) AS t
        |      FROM documents)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "ta_cardinality" ->
      """SELECT lang, COUNT(*) AS n_tokens,
        |  COUNT(DISTINCT token) AS n_distinct
        |FROM (SELECT lang, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |      FROM documents)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "j9_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), s1 AS (
        |  SELECT user_id, min(us) AS t FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, min(e.us) AS t FROM ev e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.us >= s1.t GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, min(e.us) AS t FROM ev e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us >= s2.t GROUP BY e.user_id
        |), n AS (
        |  SELECT (SELECT COUNT(*) FROM s1) AS n1,
        |         (SELECT COUNT(*) FROM s2) AS n2,
        |         (SELECT COUNT(*) FROM s3) AS n3
        |)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'signup' AS event_type, n1 AS n_users,
        |    CASE WHEN n1 = 0 THEN 0.0
        |         ELSE round(n1 / CAST(n1 AS DOUBLE), 4) END AS conversion FROM n
        |  UNION ALL
        |  SELECT 2, 'click', n2,
        |    CASE WHEN n1 = 0 THEN 0.0
        |         ELSE round(n2 / CAST(n1 AS DOUBLE), 4) END FROM n
        |  UNION ALL
        |  SELECT 3, 'purchase', n3,
        |    CASE WHEN n1 = 0 THEN 0.0
        |         ELSE round(n3 / CAST(n1 AS DOUBLE), 4) END FROM n)
        |ORDER BY step""".stripMargin,

    "j10_cohort" ->
      """WITH coh AS (
        |  SELECT user_id, min(epoch_us(ts)) AS es,
        |    min(epoch_us(ts)) // 604800000000 AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id
        |), sz AS (
        |  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
        |  FROM coh GROUP BY 1
        |), act AS (
        |  SELECT c.cohort_week,
        |    (epoch_us(e.ts) - c.es) // 604800000000 AS week_offset,
        |    e.user_id
        |  FROM events e JOIN coh c USING (user_id)
        |  WHERE epoch_us(e.ts) >= c.es
        |)
        |SELECT a.cohort_week, a.week_offset,
        |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active,
        |  s.cohort_users
        |FROM act a JOIN sz s USING (cohort_week)
        |GROUP BY 1, 2, s.cohort_users
        |ORDER BY 1, 2""".stripMargin,

    // mirrors Temporal.resample: truncating-div hourly buckets in
    // epoch micros, per-key dense grid via generate_series
    "t2_resample" ->
      """WITH b AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
        |    CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |), agg AS (
        |  SELECT event_type, bucket_us, COUNT(*) AS n_events,
        |    CAST(SUM(cents) AS BIGINT) AS total
        |  FROM b GROUP BY 1, 2
        |), spans AS (
        |  SELECT event_type, MIN(bucket_us) AS mn, MAX(bucket_us) AS mx
        |  FROM agg GROUP BY 1
        |), grid AS (
        |  SELECT event_type, CAST(g AS BIGINT) AS bucket_us
        |  FROM spans, UNNEST(generate_series(mn, mx, 3600000000)) t(g)
        |)
        |SELECT grid.event_type, grid.bucket_us,
        |  COALESCE(n_events, 0) AS n_events, COALESCE(total, 0) AS total
        |FROM grid LEFT JOIN agg USING (event_type, bucket_us)
        |ORDER BY event_type, bucket_us""".stripMargin,

    "a5_rate_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), win AS (
        |  SELECT event_type, hour, n,
        |    CAST(SUM(n) OVER w AS BIGINT) AS s,
        |    CAST(SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
        |      OVER w AS DECIMAL(38,0)) AS ss,
        |    COUNT(*) OVER w AS m
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, epoch_us(hour) AS hour,
        |  n, TRY_CAST(s AS BIGINT) AS s, TRY_CAST(ss AS BIGINT) AS ss,
        |  CASE WHEN CAST(24 * CAST(ss AS HUGEINT)
        |              - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE)
        |            / (24.0 * 24.0) > 0
        |       THEN CAST(round((CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / 24.0)
        |         / sqrt(CAST(24 * CAST(ss AS HUGEINT)
        |                 - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE)
        |               / (24.0 * 24.0))
        |         * 1000, 0) AS BIGINT)
        |       END AS z_milli
        |FROM win WHERE m = 24
        |ORDER BY event_type, hour""".stripMargin,

    "dd_cluster_hist" -> (LshBandsCtes + ComponentsCtes +
      """, cs AS (
        |  SELECT label AS cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
        |  FROM l3 GROUP BY 1
        |)
        |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
        |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin),

    "s8_json_props" ->
      """WITH parsed AS (
        |  SELECT event_type,
        |    CASE WHEN props IS NOT NULL AND json_valid(props)
        |          AND regexp_matches(json_extract_string(props, '$.k'),
        |                             '^-?[0-9]+$')
        |         THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
        |         END AS k
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(MAX(k) AS BIGINT) AS max_k
        |FROM parsed GROUP BY 1 ORDER BY 1""".stripMargin,

    "ta_heavy" ->
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |      FROM documents)
        |GROUP BY token HAVING COUNT(*) >= 300
        |ORDER BY n DESC, token""".stripMargin,

    "ta_stratified" ->
      s"""SELECT doc_id, lang,
         |  (${sha32Sql("'strat:' || CAST(doc_id AS VARCHAR)")} % 1000000) / 1000000.0 AS u,
         |  CAST(CASE lang WHEN 'en' THEN 0.25 WHEN 'es' THEN 0.5
         |       WHEN 'de' THEN 0.75 ELSE 1.0 END AS DOUBLE) AS rate,
         |  CAST((${sha32Sql("'strat:' || CAST(doc_id AS VARCHAR)")} % 1000000) / 1000000.0
         |    < CAST(CASE lang WHEN 'en' THEN 0.25 WHEN 'es' THEN 0.5
         |           WHEN 'de' THEN 0.75 ELSE 1.0 END AS DOUBLE)
         |    AS INTEGER) AS sampled
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "ta_shard" ->
      s"""SELECT
         |  CAST(${sha32Sql("'shard:v1:' || CAST(doc_id AS VARCHAR)")} % 8 AS INTEGER) AS shard,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  COUNT(DISTINCT lang) AS n_langs
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "ta_entropy" -> EntropyOracle,

    "ta_features" ->
      s"""SELECT q.doc_id, q.n_tokens, q.quality,
         |  e.ttr_bps, e.entropy_micro,
         |  r.top_word_ratio, r.dup_bigram_ratio, r.keep,
         |  u.micro_bpt
         |FROM ($QualityOracle) q
         |JOIN ($EntropyOracle) e ON q.doc_id = e.doc_id
         |JOIN ($RepetitionOracle) r ON q.doc_id = r.doc_id
         |JOIN ($UnigramOracle) u ON q.doc_id = u.doc_id
         |ORDER BY q.doc_id""".stripMargin,

    "ta_classify" ->
      s"""WITH toks AS (
         |  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS t
         |  FROM documents
         |), tw AS (
         |  SELECT doc_id,
         |    ${sha32Sql("'w:v1:' || CAST(" + sha32Sql("t") + " % 1024 AS VARCHAR)")}
         |      % 2001 - 1000 AS w
         |  FROM toks
         |), agg AS (
         |  SELECT doc_id, COUNT(*) AS n, CAST(SUM(w) AS BIGINT) AS sum_w
         |  FROM tw GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  COALESCE(a.n, 0) AS n_tokens,
         |  COALESCE(a.sum_w, 0) AS sum_w,
         |  CASE WHEN a.n IS NULL THEN NULL
         |       ELSE a.sum_w * 1000 // a.n END AS mean_w_milli,
         |  CAST(CASE WHEN a.n IS NOT NULL AND a.sum_w * 1000 // a.n >= 0
         |       THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "dd_cap_source" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${sha32Sql("'cap:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
         |  FROM documents)
         |SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
         |FROM r WHERE rk <= 20 ORDER BY source, rk""".stripMargin,

    "dd_budget_source" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS BIGINT) AS n_tok,
         |    ${sha32Sql("'budget:v1:' || CAST(doc_id AS VARCHAR)")} AS pri
         |  FROM documents
         |), win AS (
         |  SELECT doc_id, source, n_tok,
         |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
         |  FROM base
         |)
         |SELECT doc_id, source, n_tok, cum_tok
         |FROM win WHERE cum_tok <= 800
         |ORDER BY source, cum_tok, doc_id""".stripMargin,

    "sim_rp" ->
      s"""WITH js AS (SELECT UNNEST(generate_series(0, 63)) AS j),
         |ks AS (SELECT UNNEST(generate_series(0, 15)) AS k),
         |sgn AS (
         |  SELECT j, k,
         |    CASE WHEN ${sha32Sql("'rp:v1:' || CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)")}
         |      % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM js, ks
         |)
         |SELECT e.vec_id, CAST(sgn.k AS INTEGER) AS k,
         |  CAST(SUM(sgn.s * CAST(round(CAST(e.embedding[sgn.j + 1] AS DOUBLE)
         |    * 1e6, 0) AS BIGINT)) AS BIGINT) AS y_micro
         |FROM embeddings e JOIN sgn ON sgn.j < len(e.embedding)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dd_decontaminate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
         |  FROM toks, UNNEST(generate_series(1, len(ts) - 2)) t(i)
         |  WHERE len(ts) >= 3
         |), hs AS (
         |  SELECT DISTINCT doc_id, ${sha32Sql("g")} AS h FROM sh
         |), bench AS (
         |  SELECT DISTINCT h FROM hs WHERE doc_id < 5
         |), agg AS (
         |  SELECT hs.doc_id, COUNT(*) AS n_shingles,
         |    CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM hs LEFT JOIN bench b ON hs.h = b.h
         |  GROUP BY hs.doc_id
         |)
         |SELECT doc_id, n_shingles, n_hit,
         |  round(n_hit / n_shingles, 4) AS overlap,
         |  CAST(round(n_hit / n_shingles, 4) >= 0.5 AS INTEGER) AS contaminated
         |FROM agg
         |ORDER BY doc_id""".stripMargin,

    "dd_spans" ->
      s"""WITH base AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts
         |  FROM documents
         |), grams AS (
         |  SELECT doc_id, i,
         |    ${sha32Sql("array_to_string(ts[i:i+7], ' ')")} AS h
         |  FROM base, UNNEST(generate_series(1, len(ts) - 7)) t(i)
         |  WHERE len(ts) >= 8
         |), duph AS (
         |  SELECT h FROM (SELECT DISTINCT h, doc_id FROM grams)
         |  GROUP BY h HAVING COUNT(*) >= 2
         |), dup AS (
         |  SELECT doc_id, i FROM grams WHERE h IN (SELECT h FROM duph)
         |), marked AS (
         |  SELECT doc_id, i,
         |    max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM dup
         |), islands0 AS (
         |  SELECT doc_id, i,
         |    SUM(CASE WHEN prev_end IS NULL OR i > prev_end THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY i
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM marked
         |), islands AS (
         |  SELECT doc_id, island, min(i) AS s, max(i + 7) AS e
         |  FROM islands0 GROUP BY doc_id, island
         |), per_doc AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |    CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens
         |  FROM islands GROUP BY doc_id
         |), dupc AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams
         |  FROM dup GROUP BY doc_id
         |)
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(greatest(len(ts) - 7, 0) AS BIGINT) AS n_grams,
         |  COALESCE(n_dup_grams, 0) AS n_dup_grams,
         |  COALESCE(n_spans, 0) AS n_spans,
         |  COALESCE(covered_tokens, 0) AS covered_tokens,
         |  CASE WHEN len(ts) = 0 THEN 0.0
         |       ELSE round(COALESCE(covered_tokens, 0) / CAST(len(ts) AS DOUBLE), 4)
         |  END AS dup_frac
         |FROM base LEFT JOIN dupc USING (doc_id) LEFT JOIN per_doc USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "dd_spans_apply" ->
      s"""WITH base AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts
         |  FROM documents
         |), grams AS (
         |  SELECT doc_id, i,
         |    ${sha32Sql("array_to_string(ts[i:i+7], ' ')")} AS h
         |  FROM base, UNNEST(generate_series(1, len(ts) - 7)) t(i)
         |  WHERE len(ts) >= 8
         |), duph AS (
         |  SELECT h FROM (SELECT DISTINCT h, doc_id FROM grams)
         |  GROUP BY h HAVING COUNT(*) >= 2
         |), dup AS (
         |  SELECT doc_id, i FROM grams WHERE h IN (SELECT h FROM duph)
         |), marked AS (
         |  SELECT doc_id, i,
         |    max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM dup
         |), islands0 AS (
         |  SELECT doc_id, i,
         |    SUM(CASE WHEN prev_end IS NULL OR i > prev_end THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY i
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM marked
         |), islands AS (
         |  SELECT doc_id, island, min(i) AS s, max(i + 7) AS e
         |  FROM islands0 GROUP BY doc_id, island
         |), cov AS (
         |  SELECT doc_id, flatten(list(generate_series(s, e) ORDER BY s)) AS covered
         |  FROM islands GROUP BY doc_id
         |)
         |SELECT doc_id,
         |  CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(len(covered), 0) AS BIGINT) AS n_cut_tokens,
         |  COALESCE(array_to_string(list_transform(
         |    list_filter(generate_series(1, len(ts)),
         |      i -> NOT list_contains(COALESCE(covered, []), i)),
         |    i -> ts[i]), ' '), '') AS cut_text
         |FROM base LEFT JOIN cov USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "ta_scrub" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or https://ex.test/d/' || CAST(doc_id AS VARCHAR) ||
        |    ' ref 1234567' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INTEGER) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS INTEGER) AS n_nums,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
        |FROM docs
        |ORDER BY doc_id""".stripMargin,

    "mm_binary_meta" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha,
        |  CAST(strlen(text) % 640 AS INT) AS width,
        |  CAST(strlen(text) % 480 AS INT) AS height,
        |  CASE WHEN strlen(text) % 3 = 0 THEN 'png'
        |       WHEN strlen(text) % 3 = 1 THEN 'jpeg'
        |       ELSE 'webp' END AS format
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "mm_frames" ->
      """WITH meta AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) // 1000 + 1 AS n_frames
        |  FROM documents
        |), m2 AS (
        |  SELECT doc_id, n_frames,
        |    greatest(CAST(1 AS BIGINT), (n_frames + 7) // 8) AS stride
        |  FROM meta
        |), frames AS (
        |  SELECT doc_id, n_frames, stride, f.fi AS frame_idx
        |  FROM m2, UNNEST(generate_series(0, n_frames - 1, stride)) f(fi)
        |)
        |SELECT doc_id, n_frames,
        |  CAST(frame_idx // stride AS INTEGER) AS sample_idx,
        |  frame_idx,
        |  round(frame_idx / 24.0, 3) AS ts_sec
        |FROM frames
        |WHERE frame_idx // stride < 8
        |ORDER BY doc_id, sample_idx""".stripMargin,

    "st_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS total_micros
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,

    "st_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM sess
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "t1_route" ->
      """WITH cdc AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS product_id,
        |    CASE WHEN p_partkey % 7 = 0 THEN 'revision'
        |         WHEN p_partkey % 7 = 1 THEN 'page'
        |         WHEN p_partkey % 2 = 0 THEN 'product'
        |         ELSE 'product_variation' END AS post_type,
        |    CASE WHEN p_partkey % 4 = 0 THEN 'publish'
        |         WHEN p_partkey % 4 = 1 THEN 'draft'
        |         WHEN p_partkey % 4 = 2 THEN 'publish'
        |         ELSE 'pending' END AS old_status,
        |    CASE WHEN p_partkey % 3 = 0 THEN 'publish'
        |         WHEN p_partkey % 3 = 1 THEN 'draft'
        |         ELSE 'trash' END AS new_status
        |  FROM part
        |)
        |SELECT product_id, post_type, old_status, new_status,
        |  CASE WHEN post_type NOT IN ('product', 'product_variation') THEN 'skip'
        |       WHEN new_status = 'publish' THEN 'index'
        |       WHEN new_status = 'trash' THEN 'delete'
        |       WHEN old_status = 'publish' AND new_status <> 'publish' THEN 'delete'
        |       ELSE 'skip' END AS action
        |FROM cdc
        |ORDER BY product_id""".stripMargin,

    // as-of attribution mirrored with the same union-and-window encoding
    // (DuckDB's native ASOF JOIN would also work; the shared window form
    // pins identical tie-break semantics on both engines)
    "j7_asof" ->
      """WITH tagged AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |), marked AS (
        |  SELECT event_id, user_id, ts_us, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src_ts_us
        |  FROM tagged
        |)
        |SELECT event_id, user_id, ts_us, src_id, src_ts_us,
        |  ts_us - src_ts_us AS gap_us
        |FROM marked WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "j8_interval" ->
      """WITH p AS (
        |  SELECT event_id AS target_id, user_id, epoch_us(ts) AS t_us
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS src_id, user_id, epoch_us(ts) AS s_us
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT target_id, user_id, t_us, src_id, s_us, t_us - s_us AS gap_us
        |FROM p JOIN c USING (user_id)
        |WHERE s_us <= t_us AND s_us >= t_us - 1800000000
        |ORDER BY target_id, src_id""".stripMargin,

    "st_dedup" ->
      """WITH replayed AS (
        |  SELECT event_id, event_type FROM events
        |  UNION ALL
        |  SELECT event_id, event_type FROM events WHERE event_id % 7 = 0
        |), deduped AS (
        |  SELECT DISTINCT event_id, event_type FROM replayed
        |)
        |SELECT event_type, COUNT(*) AS n FROM deduped
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "st_sliding" ->
      """WITH w AS (
        |  SELECT event_type,
        |    make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - i) * 900 * 1000000)
        |      AS win_start
        |  FROM events, UNNEST(generate_series(0, 3)) t(i)
        |)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, COUNT(*) AS n
        |FROM w
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin,

    "q9_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q28_value_ladder" ->
      """WITH totals AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM orders GROUP BY o_custkey
        |), ladder AS (
        |  SELECT c_mktsegment, CAST(c_custkey AS BIGINT) AS c_custkey,
        |    total_cents,
        |    NTILE(4) OVER w AS quartile,
        |    COALESCE(LAG(total_cents, 1) OVER w - total_cents, 0) AS gap_cents,
        |    ROW_NUMBER() OVER w AS rn
        |  FROM totals JOIN customer ON o_custkey = c_custkey
        |  WINDOW w AS (PARTITION BY c_mktsegment
        |               ORDER BY total_cents DESC, c_custkey)
        |)
        |SELECT c_mktsegment, c_custkey, total_cents,
        |  CAST(quartile AS INTEGER) AS quartile,
        |  CAST(gap_cents AS BIGINT) AS gap_cents,
        |  CAST(rn AS INTEGER) AS rn
        |FROM ladder WHERE rn <= 50
        |ORDER BY c_mktsegment, rn""".stripMargin,

    // GROUPING(a, b) in DuckDB and grouping_id() in Spark share the
    // bitmask convention (a = high bit) — pinned by this gate
    "q27_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "st_debounce" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
        |  MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_ts_s
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
  )
}
