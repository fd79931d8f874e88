package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.operators.{HistSpec, IncrementalAgg}
import graft.streaming.StateCommit

/** Incrementally-maintained aggregates: batch-merge equivalence with
  * the full-scan GROUP BY, replay idempotence, batch-order
  * independence, and atomic publication.
  */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("o_orderpriority")
  private val values = Seq("total_cents")

  private def freshRoot() =
    Files.createTempDirectory("graft_iagg_spec_").toString

  private def fact: DataFrame =
    Catalog.orders(spark, sfDir).select(col("o_orderkey"),
      col("o_orderpriority"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("total_cents"))

  private def batches: Seq[DataFrame] =
    (0 until 3).map(b => fact.where(col("o_orderkey") % 3 === b))

  private def fullScan: Seq[String] =
    fact.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum("total_cents").as("sum_total_cents"),
        min("total_cents").as("min_total_cents"),
        max("total_cents").as("max_total_cents"))
      .select("o_orderpriority", "cnt", "sum_total_cents",
        "min_total_cents", "max_total_cents")
      .collect().map(_.toString).sorted.toSeq

  private def stateOf(root: String): Seq[String] =
    IncrementalAgg.read(spark, root).get
      .select("o_orderpriority", "cnt", "sum_total_cents",
        "min_total_cents", "max_total_cents")
      .collect().map(_.toString).sorted.toSeq

  test("three-batch maintenance equals the full-scan GROUP BY") {
    val root = freshRoot()
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(IncrementalAgg.ingest(spark, root, b.drop("o_orderkey"),
        keys, values, batchId = i + 1L))
    }
    assert(stateOf(root) == fullScan, "maintained state diverged from full scan")
  }

  test("batch order does not matter (long merge algebra is commutative)") {
    val fwd = freshRoot(); val rev = freshRoot()
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalAgg.ingest(spark, fwd, b, keys, values, i + 1L)
    }
    batches.reverse.zipWithIndex.foreach { case (b, i) =>
      IncrementalAgg.ingest(spark, rev, b, keys, values, i + 1L)
    }
    assert(stateOf(fwd) == stateOf(rev), "merge result depends on batch order")
  }

  test("replayed batch id is a guarded no-op — never double-counts") {
    val root = freshRoot()
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalAgg.ingest(spark, root, b, keys, values, i + 1L)
    }
    val before = stateOf(root)
    assert(!IncrementalAgg.ingest(spark, root, batches(1), keys, values, 2L),
      "replay of an applied batch id was not refused")
    assert(stateOf(root) == before, "replay mutated the state")
    assert(IncrementalAgg.lastBatch(spark, root) == 3L)
  }

  test("a key first seen in a later batch merges from null state correctly") {
    val root = freshRoot()
    val b1 = Seq(("A", 10L), ("A", 20L)).toDF("k", "v")
    val b2 = Seq(("B", 5L), ("A", 1L)).toDF("k", "v")
    IncrementalAgg.ingest(spark, root, b1, Seq("k"), Seq("v"), 1L)
    IncrementalAgg.ingest(spark, root, b2, Seq("k"), Seq("v"), 2L)
    val got = IncrementalAgg.read(spark, root).get
      .select("k", "cnt", "sum_v", "min_v", "max_v")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("A", 3L, 31L, 1L, 20L), ("B", 1L, 5L, 5L, 5L)), got.toString)
  }

  test("publication is atomic: an unreferenced snapshot is invisible") {
    val root = freshRoot()
    IncrementalAgg.ingest(spark, root, batches(0), keys, values, 1L)
    val before = stateOf(root)
    // simulate a crash mid-ingest: the snapshot data lands, but the
    // pointer never swings
    batches(1).groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
      .write.parquet(StateCommit.tableDir(root, 2L, "aggs"))
    assert(IncrementalAgg.lastBatch(spark, root) == 1L,
      "uncommitted snapshot changed the visible batch id")
    assert(stateOf(root) == before, "reader saw uncommitted state")
    // the deterministic replay overwrites the orphan and publishes
    assert(IncrementalAgg.ingest(spark, root, batches(1), keys, values, 2L))
    assert(IncrementalAgg.lastBatch(spark, root) == 2L)
  }

  private val spec = HistSpec("total_cents", 0L, 60000000L, 10)

  test("maintained histogram equals the one-shot bucket counts") {
    val root = freshRoot()
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalAgg.ingest(spark, root, b, keys, Seq.empty, i + 1L,
        hists = Seq(spec))
    }
    val got = IncrementalAgg.viewHist(spark, root, spec)
      .collect().map(_.toString).sorted.toSeq
    val want = fact.select(col("o_orderpriority"),
        expr(spec.bucketSql).cast("long").as("bin"))
      .groupBy("o_orderpriority", "bin")
      .agg(count(lit(1)).as("n_in_bin"))
      .collect().map(_.toString).sorted.toSeq
    // the maintained view also carries empty bins — compare on the
    // non-empty cells, then check the empties really are zero
    val gotNonEmpty = IncrementalAgg.viewHist(spark, root, spec)
      .where(col("n_in_bin") > 0)
      .collect().map(_.toString).sorted.toSeq
    assert(gotNonEmpty == want, "maintained histogram diverged from one-shot buckets")
    val total = IncrementalAgg.viewHist(spark, root, spec)
      .agg(sum("n_in_bin")).as[Long].head()
    assert(total == fact.count(), s"histogram mass $total != fact rows")
    assert(got.size == 5 * 12, s"expected 5 priorities x 12 bins, got ${got.size}")
  }

  test("retention: default horizon keeps two snapshots; GC'd versions fail loudly") {
    val root = freshRoot()
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalAgg.ingest(spark, root, b, keys, values, i + 1L)
    }
    assert(StateCommit.versions(spark, root) == Seq(2L, 3L),
      "default retain=2 should keep exactly the newest two snapshots")
    val e = intercept[IllegalArgumentException] {
      StateCommit.requireRetained(spark, root, 1L)
    }
    assert(e.getMessage.contains("retained"),
      s"GC'd-version error should list what survives: ${e.getMessage}")
    // a wider horizon keeps every snapshot it names
    val wide = freshRoot()
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalAgg.ingest(spark, wide, b, keys, values, i + 1L, retain = 3)
    }
    assert(StateCommit.versions(spark, wide) == Seq(1L, 2L, 3L))
  }

  test("view derives exact integer averages (sum div cnt)") {
    val root = freshRoot()
    val b = Seq(("A", 10L), ("A", 11L)).toDF("k", "v")
    IncrementalAgg.ingest(spark, root, b, Seq("k"), Seq("v"), 1L)
    val avg = IncrementalAgg.view(spark, root, Seq("v"))
      .select("avg_v").as[Long].head()
    assert(avg == 10L, s"expected truncating 21 div 2 = 10, got $avg")
  }

  test("legacy pre-cnt_v state is refused by view and ingest, files untouched") {
    val root = freshRoot()
    val b1 = Seq(("A", 10L), ("A", 20L), ("B", 5L)).toDF("k", "v")
    IncrementalAgg.ingest(spark, root, b1, Seq("k"), Seq("v"), 1L)
    // age the committed state back to the pre-cnt_v schema in place
    // (what a snapshot written by the previous release looks like)
    val v = StateCommit.currentVersion(spark, root).get
    val aggsDir = StateCommit.tableDir(root, v, "aggs")
    val legacy = spark.read.parquet(aggsDir).drop("cnt_v")
    val rows = legacy.collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), legacy.schema)
      .write.mode("overwrite").parquet(aggsDir)
    // read and write paths both fail with the actionable error, not an
    // UNRESOLVED_COLUMN AnalysisException (round-11 review)
    val e1 = assertRefused(root) {
      IncrementalAgg.view(spark, root, Seq("v")).collect()
    }
    assert(e1.getMessage.contains("cnt_v"), e1.getMessage)
    val e2 = assertRefused(root) {
      IncrementalAgg.ingest(spark, root,
        Seq(("B", 7L)).toDF("k", "v"), Seq("k"), Seq("v"), 2L)
    }
    assert(e2.getMessage.contains("cnt_v"), e2.getMessage)
  }
}
