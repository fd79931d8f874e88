package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg
import graft.plans.ViewRewrite

/** The materialized-view rewrite's two contracts:
  *
  *   - WHEN it fires, it is an identity on results and the optimized
  *     plan scans ONLY the maintained view (key-cardinality), never the
  *     fact — the whole point at 100 TB;
  *   - WHEN any soundness guard fails (non-key grouping or filter,
  *     distinct aggregate, un-cast narrow min/max, unregistered path),
  *     the plan is left byte-identical to the un-rewritten one.
  *
  * The driver-gated `ia_rewrite` query then hash-proves result identity
  * against the DuckDB base-table oracle at sf0.01.
  *
  * NOTE the registry is session-scoped and the spec session is shared
  * across suites, so every test deregisters in `finally` — a leaked
  * registration would (soundly, but surprisingly) serve other suites'
  * aggregates from this spec's tiny fact.
  */
class ViewRewriteSpec extends SparkSpec {

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  /** A tiny fact parquet + a maintained (k1, k2) aggregate over it,
    * ingested in `nBatches` disjoint batches. */
  private def fixture(nBatches: Int = 3): (String, String, DataFrame) = {
    import spark.implicits._
    val factDir = Files.createTempDirectory("vr_fact_").toString
    val root = Files.createTempDirectory("vr_view_").toString
    (1 to 60).map(i => (i.toLong, s"k${i % 3}", s"s${i % 2}", i * 7 % 19))
      .toDF("id", "k1", "k2", "v")
      .write.mode("overwrite").parquet(factDir)
    val fact = spark.read.parquet(factDir)
    (0 until nBatches).foreach { b =>
      IncrementalAgg.ingest(spark, root,
        fact.where(pmod(col("id"), lit(nBatches)) === b),
        keys = Seq("k1", "k2"), values = Seq("v"), batchId = b + 1L)
    }
    IncrementalAgg.registerView(spark, root, "vr_test", factDir,
      Seq("k1", "k2"), Seq("v"))
    (factDir, root, fact)
  }

  private def cleanup(): Unit = ViewRewrite.deregister(spark, "vr_test")

  test("rewritten aggregate scans only the view and matches the fact-computed answer") {
    val (factDir, root, fact) = fixture()
    try {
      val q = fact.groupBy("k1").agg(
        count(lit(1)).as("n"),
        sum(col("v").cast("long")).as("sv"),
        min(col("v").cast("long")).as("mn"),
        max(col("v").cast("long")).as("mx"))
      val paths = scanPaths(q)
      assert(!paths.exists(_.contains(factDir)),
        s"rewrite did not fire — plan still scans the fact: $paths")
      assert(paths.exists(_.contains(root)),
        s"plan scans neither fact nor view: $paths")

      ViewRewrite.deregister(spark, "vr_test")
      val expected = fact.groupBy("k1").agg(
        count(lit(1)).as("n"),
        sum(col("v").cast("long")).as("sv"),
        min(col("v").cast("long")).as("mn"),
        max(col("v").cast("long")).as("mx")).collect().toSet
      IncrementalAgg.registerView(spark, root, "vr_test", factDir,
        Seq("k1", "k2"), Seq("v"))
      assert(q.collect().toSet == expected)
    } finally cleanup()
  }

  test("subset-of-keys grouping and key-only filters are served by the view") {
    val (factDir, root, fact) = fixture()
    try {
      // group by k2 only (strict subset) with a filter on k1 (a key)
      val q = fact.where(col("k1") =!= "k1").groupBy("k2")
        .agg(sum(col("v").cast("long")).as("sv"), count(lit(1)).as("n"))
      val paths = scanPaths(q)
      assert(!paths.exists(_.contains(factDir)) && paths.exists(_.contains(root)),
        s"subset rewrite did not fire: $paths")
      ViewRewrite.deregister(spark, "vr_test")
      val expected = fact.where(col("k1") =!= "k1").groupBy("k2")
        .agg(sum(col("v").cast("long")).as("sv"), count(lit(1)).as("n"))
        .collect().toSet
      IncrementalAgg.registerView(spark, root, "vr_test", factDir,
        Seq("k1", "k2"), Seq("v"))
      assert(q.collect().toSet == expected)

      // global aggregate (empty grouping) also re-aggregates the view
      val g = fact.agg(sum(col("v").cast("long")).as("sv"))
      assert(!scanPaths(g).exists(_.contains(factDir)))
      ViewRewrite.deregister(spark, "vr_test")
      val total = fact.agg(sum(col("v").cast("long"))).head.getLong(0)
      IncrementalAgg.registerView(spark, root, "vr_test", factDir,
        Seq("k1", "k2"), Seq("v"))
      assert(g.head.getLong(0) == total)
    } finally cleanup()
  }

  test("soundness guards: non-key filter, distinct, un-cast min, foreign scan all bail") {
    val (factDir, _, fact) = fixture()
    try {
      // filter references a non-key column
      val f = fact.where(col("v") > 3).groupBy("k1")
        .agg(sum(col("v").cast("long")).as("sv"))
      assert(scanPaths(f).exists(_.contains(factDir)), "non-key filter must bail")

      // distinct aggregate
      val d = fact.groupBy("k1").agg(countDistinct("v").as("nd"),
        sum(col("v").cast("long")).as("sv"))
      assert(scanPaths(d).exists(_.contains(factDir)), "distinct must bail")

      // min over the raw INT column — serving it from the BIGINT view
      // would silently widen the output type, so the type guard bails
      val m = fact.groupBy("k1").agg(min("v").as("mn"),
        sum(col("v").cast("long")).as("sv"))
      assert(scanPaths(m).exists(_.contains(factDir)), "narrow min must bail")

      // count-only rollups are deliberately NOT served (usesValue guard)
      val c = fact.groupBy("k1").agg(count(lit(1)).as("n"))
      assert(scanPaths(c).exists(_.contains(factDir)), "count-only must bail")

      // grouping by a non-key column
      val g = fact.groupBy("id").agg(sum(col("v").cast("long")).as("sv"))
      assert(scanPaths(g).exists(_.contains(factDir)), "non-key grouping must bail")

      // an unregistered table with the same column names is untouched
      import spark.implicits._
      val otherDir = Files.createTempDirectory("vr_other_").toString
      Seq((1L, "k0", "s0", 5)).toDF("id", "k1", "k2", "v")
        .write.mode("overwrite").parquet(otherDir)
      val o = spark.read.parquet(otherDir).groupBy("k1")
        .agg(sum(col("v").cast("long")).as("sv"))
      assert(scanPaths(o).exists(_.contains(otherDir)), "foreign path must bail")
    } finally cleanup()
  }

  test("avg is served as weighted Σsum/Σcnt — including over a key subset, where group means differ") {
    val (factDir, root, fact) = fixture()
    try {
      // group by k2 only: (k1, k2) state rows merge with different
      // weights, so averaging the per-row means would be WRONG — the
      // hash match proves the Σsum/Σcnt form
      val q = fact.groupBy("k2").agg(
        avg(col("v").cast("long")).as("av"),
        sum(col("v").cast("long")).as("sv"))
      val paths = scanPaths(q)
      assert(!paths.exists(_.contains(factDir)) && paths.exists(_.contains(root)),
        s"avg rewrite did not fire: $paths")
      ViewRewrite.deregister(spark, "vr_test")
      val expected = fact.groupBy("k2").agg(
        avg(col("v").cast("long")).as("av"),
        sum(col("v").cast("long")).as("sv")).collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      IncrementalAgg.registerView(spark, root, "vr_test", factDir,
        Seq("k1", "k2"), Seq("v"))
      val got = q.collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      assert(got == expected, s"$got vs $expected")
    } finally cleanup()
  }

  test("avg over a value column WITH NULLs divides by the non-null count, not the row count") {
    import spark.implicits._
    // round-10 advice: Σsum/Σcnt deflates avg when v has NULLs (the base
    // plan divides by count(v)); the maintained cnt_v is the exact divisor
    val factDir = Files.createTempDirectory("vrn_fact_").toString
    val root = Files.createTempDirectory("vrn_view_").toString
    (1 to 40).map(i => (i.toLong, s"k${i % 3}",
      if (i % 4 == 0) None else Some(i * 7L % 19))) // every 4th v is NULL
      .toDF("id", "k1", "v")
      .write.mode("overwrite").parquet(factDir)
    val fact = spark.read.parquet(factDir)
    (0 until 2).foreach { b =>
      IncrementalAgg.ingest(spark, root,
        fact.where(pmod(col("id"), lit(2)) === b),
        keys = Seq("k1"), values = Seq("v"), batchId = b + 1L)
    }
    IncrementalAgg.registerView(spark, root, "vrn_test", factDir,
      Seq("k1"), Seq("v"))
    try {
      // count(v) (the NON-NULL count) is served from Σcnt_v too —
      // alongside count(*) from Σcnt, in the same query
      val q = fact.groupBy("k1").agg(
        avg(col("v").cast("long")).as("av"),
        sum(col("v").cast("long")).as("sv"),
        count(col("v")).as("nv"),
        count(lit(1)).as("n"))
      val paths = scanPaths(q)
      assert(!paths.exists(_.contains(factDir)) && paths.exists(_.contains(root)),
        s"avg rewrite did not fire: $paths")
      ViewRewrite.deregister(spark, "vrn_test")
      val expected = fact.groupBy("k1").agg(
        avg(col("v").cast("long")).as("av"),
        sum(col("v").cast("long")).as("sv"),
        count(col("v")).as("nv"),
        count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) ->
          ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      IncrementalAgg.registerView(spark, root, "vrn_test", factDir,
        Seq("k1"), Seq("v"))
      val got = q.collect()
        .map(r => r.getString(0) ->
          ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == expected, s"$got vs $expected")
      // the null rows are real: count(v) < count(*) somewhere
      assert(expected.values.exists(t => t._3 < t._4),
        "fixture too weak: no NULLs reached the fact")
    } finally ViewRewrite.deregister(spark, "vrn_test")
  }

  test("a non-deterministic filter bails: rand() sampling must stay per-row, not per-group") {
    val (factDir, _, fact) = fixture()
    try {
      // rand() < 0.5 survives optimization (an always-true rand() < 2.0
      // is eliminated by Spark before this rule ever sees it); only the
      // plan shape is asserted — the result is random by construction
      val q = fact.where(rand() < 0.5).groupBy("k1")
        .agg(sum(col("v").cast("long")).as("sv"))
      assert(scanPaths(q).exists(_.contains(factDir)),
        "non-deterministic filter must bail to the base plan")
    } finally cleanup()
  }

  test("a registration missing min/max summary columns degrades min/max queries to the base plan") {
    val (factDir, root, fact) = fixture()
    try {
      ViewRewrite.deregister(spark, "vr_test")
      // a custom view def whose plan drops the min/max columns —
      // min/max queries must BAIL (base-plan answer), not throw out of
      // the optimizer; sum/count queries are still served
      ViewRewrite.register(spark, graft.plans.MaterializedViewDef(
        "vr_test", factDir, Seq("k1", "k2"), Seq("v"),
        () => IncrementalAgg.read(spark, root).get
          .select("k1", "k2", "cnt", "sum_v").queryExecution.analyzed))
      val m = fact.groupBy("k1").agg(min(col("v").cast("long")).as("mn"),
        sum(col("v").cast("long")).as("sv"))
      assert(scanPaths(m).exists(_.contains(factDir)),
        "min over an incomplete view must degrade, not throw")
      assert(m.count() == 3)
      val s = fact.groupBy("k1").agg(sum(col("v").cast("long")).as("sv"))
      assert(!scanPaths(s).exists(_.contains(factDir)),
        "sum is fully covered by the incomplete view and must still be served")
    } finally cleanup()
  }

  test("count(*) over an EMPTY fact: the global rewrite returns 0, not NULL") {
    import spark.implicits._
    val factDir = Files.createTempDirectory("vr_efact_").toString
    val root = Files.createTempDirectory("vr_eview_").toString
    try {
      Seq.empty[(Long, String, String, Int)].toDF("id", "k1", "k2", "v")
        .write.mode("overwrite").parquet(factDir)
      val fact = spark.read.parquet(factDir)
      IncrementalAgg.ingest(spark, root, fact,
        keys = Seq("k1", "k2"), values = Seq("v"), batchId = 1L)
      IncrementalAgg.registerView(spark, root, "vr_empty", factDir,
        Seq("k1", "k2"), Seq("v"))
      val q = fact.agg(count(lit(1)).as("n"), sum(col("v").cast("long")).as("sv"))
      assert(!scanPaths(q).exists(_.contains(factDir)),
        "empty-fact global aggregate should still be view-served")
      val r = q.head
      assert(r.getLong(0) == 0L, s"count over empty fact must be 0, got $r")
      assert(r.isNullAt(1), s"sum over empty fact must be NULL, got $r")
    } finally ViewRewrite.deregister(spark, "vr_empty")
  }

  test("the view plan is resolved per query: a later ingest is visible without re-registering") {
    val (factDir, root, fact) = fixture()
    try {
      import spark.implicits._
      // append a 4th batch to the fact AND the view
      val extra = Seq((1000L, "k0", "s1", 17), (1001L, "k2", "s0", 3))
        .toDF("id", "k1", "k2", "v")
      extra.write.mode("append").parquet(factDir)
      IncrementalAgg.ingest(spark, root, extra,
        keys = Seq("k1", "k2"), values = Seq("v"), batchId = 4L)

      val q = fact.groupBy("k1").agg(sum(col("v").cast("long")).as("sv"))
      assert(!scanPaths(q).exists(_.contains(factDir)))
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      ViewRewrite.deregister(spark, "vr_test")
      val expected = spark.read.parquet(factDir).groupBy("k1")
        .agg(sum(col("v").cast("long")).as("sv"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected, s"stale view served: $got vs $expected")
    } finally cleanup()
  }

  test("the full loop: a STREAM maintains the view, the optimizer serves the fact query from it") {
    import spark.implicits._
    val factDir = Files.createTempDirectory("vr_sfact_").toString
    val root = Files.createTempDirectory("vr_sview_").toString
    val ckpt = Files.createTempDirectory("vr_sckpt_").toString
    try {
      Seq((1L, "k0", 5), (2L, "k1", 7), (3L, "k0", 11))
        .toDF("id", "k1", "v").write.mode("append").parquet(factDir)
      val schema = spark.read.parquet(factDir).schema

      // stream batch B commits as ingest version B + 1 (versions are
      // positive, stream batch ids start at 0)
      def maintain(): Unit =
        graft.streaming.AvailableNow.foreachBatch(
            spark.readStream.schema(schema).parquet(factDir), ckpt) {
          (batch, batchId) =>
            IncrementalAgg.ingest(batch.sparkSession, root, batch,
              keys = Seq("k1"), values = Seq("v"), batchId = batchId + 1)
            ()
        }.awaitTermination()

      maintain()
      IncrementalAgg.registerView(spark, root, "vr_test", factDir,
        Seq("k1"), Seq("v"))

      val q = spark.read.parquet(factDir).groupBy("k1")
        .agg(sum(col("v").cast("long")).as("sv"))
      assert(!scanPaths(q).exists(_.contains(factDir)) &&
        scanPaths(q).exists(_.contains(root)),
        "stream-maintained view did not serve the fact query")
      assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("k0" -> 16L, "k1" -> 7L))

      // late-arriving data: one more file + one more maintenance pass —
      // the SAME registration serves the new state (per-query thunk)
      Seq((4L, "k1", 100)).toDF("id", "k1", "v")
        .write.mode("append").parquet(factDir)
      maintain()
      // a FRESH query sees the new snapshot through the same
      // registration (an already-optimized DataFrame keeps its plan —
      // Spark semantics, not a staleness bug)
      val q2 = spark.read.parquet(factDir).groupBy("k1")
        .agg(sum(col("v").cast("long")).as("sv"))
      assert(!scanPaths(q2).exists(_.contains(factDir)))
      assert(q2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("k0" -> 16L, "k1" -> 107L))
    } finally cleanup()
  }

  test("with two matching views, the coarser (smaller-state) one serves the query") {
    val (factDir, root2, fact) = fixture() // (k1, k2) view as "vr_test"
    val root1 = Files.createTempDirectory("vr_view1_").toString
    try {
      // a coarser single-key view over the same fact
      (0 until 3).foreach { b =>
        IncrementalAgg.ingest(spark, root1,
          fact.where(pmod(col("id"), lit(3)) === b),
          keys = Seq("k1"), values = Seq("v"), batchId = b + 1L)
      }
      IncrementalAgg.registerView(spark, root1, "vr_coarse", factDir,
        Seq("k1"), Seq("v"))
      val q = fact.groupBy("k1").agg(sum(col("v").cast("long")).as("sv"))
      val paths = scanPaths(q)
      assert(paths.exists(_.contains(root1)) && !paths.exists(_.contains(root2)),
        s"coarser view not preferred: $paths")
      // and it still answers exactly
      ViewRewrite.deregister(spark, "vr_coarse")
      ViewRewrite.deregister(spark, "vr_test")
      val expected = fact.groupBy("k1").agg(sum(col("v").cast("long")).as("sv"))
        .collect().toSet
      IncrementalAgg.registerView(spark, root1, "vr_coarse", factDir,
        Seq("k1"), Seq("v"))
      assert(q.collect().toSet == expected)
    } finally {
      ViewRewrite.deregister(spark, "vr_coarse")
      cleanup()
    }
  }

  test("a broken registration degrades to the base plan — and non-matching queries never touch the view state") {
    val (factDir, root, fact) = fixture()
    try {
      // destroy the maintained state out from under the registration
      // (the round-9 bench failure: a scratch root deleted while the
      // old registration still pointed at it)
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

      // a MATCHING query must fall back to the fact scan and still answer
      val q = fact.groupBy("k1").agg(sum(col("v").cast("long")).as("sv"))
      assert(scanPaths(q).exists(_.contains(factDir)),
        "broken view must degrade to the base plan")
      assert(q.count() == 3)

      // a NON-matching aggregate over the same fact (non-key filter —
      // the shape every view-refresh ingest produces) must never
      // dereference the broken thunk either
      val ingestLike = fact.where(col("id") % 4 === 1).groupBy("k1")
        .agg(sum(col("v").cast("long")).as("sv"))
      assert(ingestLike.collect().nonEmpty)
    } finally cleanup()
  }

  test("operators above the rewritten aggregate keep resolving (order by, having)") {
    val (factDir, root, fact) = fixture()
    try {
      val q = fact.groupBy("k1")
        .agg(sum(col("v").cast("long")).as("sv"), count(lit(1)).as("n"))
        .where(col("n") > 1)
        .orderBy(col("sv").desc)
      assert(!scanPaths(q).exists(_.contains(factDir)))
      ViewRewrite.deregister(spark, "vr_test")
      val expected = fact.groupBy("k1")
        .agg(sum(col("v").cast("long")).as("sv"), count(lit(1)).as("n"))
        .where(col("n") > 1)
        .orderBy(col("sv").desc).collect().toSeq
      IncrementalAgg.registerView(spark, root, "vr_test", factDir,
        Seq("k1", "k2"), Seq("v"))
      assert(q.collect().toSeq == expected)
    } finally cleanup()
  }

  test("SQL-authored queries are served too (parquet.`path` table syntax)") {
    val (factDir, root, fact) = fixture()
    try {
      val q = spark.sql(
        s"SELECT k1, sum(CAST(v AS BIGINT)) AS sv FROM parquet.`$factDir` GROUP BY k1")
      val paths = scanPaths(q)
      assert(!paths.exists(_.contains(factDir)) && paths.exists(_.contains(root)),
        s"SQL path not rewritten: $paths")
      ViewRewrite.deregister(spark, "vr_test")
      val expected = spark.sql(
        s"SELECT k1, sum(CAST(v AS BIGINT)) AS sv FROM parquet.`$factDir` GROUP BY k1")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      IncrementalAgg.registerView(spark, root, "vr_test", factDir,
        Seq("k1", "k2"), Seq("v"))
      assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expected)
    } finally cleanup()
  }
}
