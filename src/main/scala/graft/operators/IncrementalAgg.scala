package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StateCommit

/** Incrementally-maintained aggregate table (a materialized GROUP BY
  * view): per-key count/sum/min/max over an append-only fact, kept
  * current by merging each new batch's PARTIAL aggregate into the
  * persisted state — history is never rescanned.
  *
  * This is the batch half of what the streaming operators already do
  * with state stores, made a first-class table: at 100 TB the daily
  * "recompute the rollup" job pays a full-corpus scan per day, while
  * this pays one scan of the DAY's rows plus a keyed merge whose both
  * sides are key-cardinality-sized — the classic incremental
  * view-maintenance win for distributive aggregates (count/sum/min/max
  * merge associatively; avg derives as sum/cnt at read time).
  *
  * Durability discipline is [[StateCommit]]'s, with the version doing
  * double duty as the last-applied batch id (the
  * [[graft.streaming.StreamingMonitor]] replay-guard pattern):
  *
  *   - `ingest(batchId = v)` is a no-op when `v <= currentVersion` —
  *     a replayed or duplicate batch never double-counts;
  *   - the merge plan reads `snap-(v-1)` and writes `snap-v`, so there
  *     is no read-own-overwrite hazard;
  *   - the commit is one atomic pointer swap — readers see batch v's
  *     state in full or not at all.
  *
  * Scale posture: the batch partial is a map-side-combinable groupBy of
  * the BATCH only; the merge is one full-outer join keyed on the group
  * columns, both sides ~|keys| (the state table never grows past key
  * cardinality); nothing rescans prior batches. Value columns are
  * BIGINT fixed-point (the engine-wide exact-money discipline), so
  * merge order cannot drift a float sum — batch-order independence is
  * spec-gated.
  */
/** Deterministic fixed-range histogram spec for [[IncrementalAgg]]:
  * `nBins` equal integer buckets over [lo, hi), plus underflow bin 0
  * and overflow bin nBins+1 — pure BIGINT bucket arithmetic, so the
  * maintained counts are exactly mirrorable in the oracle (unlike a
  * t-digest, whose internal layout is engine-specific). The histogram
  * merges by vector addition, making quantile estimates maintainable
  * without rescans; resolution is a design-time choice (bin width),
  * the classic mergeable-summary trade. */
case class HistSpec(column: String, lo: Long, hi: Long, nBins: Int) {
  require(hi > lo && nBins > 0, s"bad histogram spec [$lo,$hi)/$nBins")
  def name: String = s"hist_$column"
  /** Bucket index 0..nBins+1 as a SQL expression (truncating BIGINT
    * division — all-nonnegative in the in-range branch, so Spark `div`
    * and DuckDB `//` agree). */
  def bucketSql: String =
    s"""CASE WHEN $column < $lo THEN 0
       |     WHEN $column >= $hi THEN ${nBins + 1}
       |     ELSE CAST(1 + ((CAST($column AS BIGINT) - $lo) * $nBins)
       |                   div ($hi - $lo) AS INT) END""".stripMargin
}

object IncrementalAgg {

  private val Aggs = "aggs"

  /** Per-value-column metric names in the state schema. */
  private def cols(v: String) = (s"sum_$v", s"min_$v", s"max_$v")

  /** Null-transparent merge: a key present in only one side keeps that
    * side's summary unchanged. */
  private def mrg(a: Column, b: Column,
      f: (Column, Column) => Column): Column =
    when(a.isNull, b).when(b.isNull, a).otherwise(f(a, b))

  /** The committed state: (keys..., cnt, sum_/min_/max_ per value col).
    * None before the first ingest. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    StateCommit.currentVersion(spark, root).map { v =>
      StateCommit.readParquet(spark, StateCommit.tableDir(root, v, Aggs))
    }

  /** Last applied batch id (0 before the first ingest). */
  def lastBatch(spark: SparkSession, root: String): Long =
    StateCommit.currentVersion(spark, root).getOrElse(0L)

  /** The non-key state columns and their merge rules, in schema order:
    * cnt, (sum/min/max/cnt per value), (bin-count array per histogram).
    * `cnt_<v>` is the NON-NULL count of
    * the value column — sum/min/max ignore NULLs, so re-aggregating them
    * is null-consistent for free, but avg(v) divides by the non-null
    * count and serving it as Σsum_v / Σcnt silently deflates the mean on
    * a fact with NULLs in v (round-10 advice); Σcnt_v is the exact
    * divisor. */
  private def metricMerges(values: Seq[String],
      hists: Seq[HistSpec]): Seq[(String, (Column, Column) => Column)] =
    ("cnt", (a: Column, b: Column) => mrg(a, b, _ + _)) +:
      (values.flatMap { v =>
        val (su, mn, mx) = cols(v)
        Seq[(String, (Column, Column) => Column)](
          (su, (a, b) => mrg(a, b, _ + _)),
          (mn, (a, b) => least(a, b)), // least/greatest skip nulls
          (mx, (a, b) => greatest(a, b)),
          (s"cnt_$v", (a, b) => mrg(a, b, _ + _)))
      } ++
      hists.map { h =>
        (h.name, (a: Column, b: Column) =>
          mrg(a, b, (x, y) => zip_with(x, y, _ + _)))
      })

  private def partialOf(batch: DataFrame, keys: Seq[String],
      values: Seq[String], hists: Seq[HistSpec]): DataFrame = {
    val aggs: Seq[Column] = (count(lit(1)).as("cnt") +:
      values.flatMap { v =>
        val (s, mn, mx) = cols(v)
        Seq(sum(col(v).cast("long")).as(s),
          min(col(v).cast("long")).as(mn),
          max(col(v).cast("long")).as(mx),
          count(col(v)).as(s"cnt_$v"))
      }) ++
      hists.map { h =>
        val bucket = expr(h.bucketSql)
        array((0 to h.nBins + 1).map(b =>
          sum(when(bucket === b, 1L).otherwise(0L))): _*).as(h.name)
      }
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The committed state, required to carry the `cnt_<v>` non-null
    * count of every value column. State committed before those counts
    * existed cannot be upgraded in place (the non-null history is gone),
    * so it is refused with the rebuild message instead of failing later
    * with a bare UNRESOLVED_COLUMN AnalysisException. */
  private def checked(state: DataFrame, root: String,
      values: Seq[String]): DataFrame = {
    val missing = values.map(v => s"cnt_$v").filterNot(state.columns.contains)
    if (missing.nonEmpty) throw StateCommit.staleLayout(root,
      s"aggregate state without the non-null count column(s) " +
        missing.mkString(", "))
    state
  }

  private def merged(state: DataFrame, partial: DataFrame,
      keys: Seq[String], values: Seq[String],
      hists: Seq[HistSpec]): DataFrame = {
    val metrics = metricMerges(values, hists)
    val s = state.select(keys.map(col) ++
      metrics.map { case (m, _) => col(m).as(s"a_$m") }: _*)
    val p = partial.select(keys.map(col) ++
      metrics.map { case (m, _) => col(m).as(s"b_$m") }: _*)
    s.join(p, keys, "full_outer")
      .select(keys.map(col) ++ metrics.map { case (m, f) =>
        f(col(s"a_$m"), col(s"b_$m")).as(m)
      }: _*)
  }

  /** Fold `batch` (the NEW rows only — batches are append-only slices
    * of the fact) into the maintained aggregate, publishing atomically
    * as batch `batchId`. Batch ids must be strictly increasing;
    * re-delivery of an applied id is a guarded no-op. Returns true when
    * the batch was applied. */
  def ingest(spark: SparkSession, root: String, batch: DataFrame,
      keys: Seq[String], values: Seq[String], batchId: Long,
      hists: Seq[HistSpec] = Nil, retain: Int = 2): Boolean = {
    val cur = lastBatch(spark, root)
    if (batchId <= cur) return false // replay — already folded in
    val partial = partialOf(batch, keys, values, hists)
    val next = read(spark, root) match {
      case Some(state) =>
        merged(checked(state, root, values), partial,
          keys, values, hists)
      case None => partial
    }
    next.write.mode("overwrite")
      .parquet(StateCommit.tableDir(root, batchId, Aggs))
    StateCommit.commit(spark, root, batchId, retain)
    true
  }

  /** The maintained histogram exploded to (keys..., bin, n_in_bin)
    * rows — bin 0 = underflow, nBins+1 = overflow. Deterministic
    * integer bucketing, so this IS oracle-gateable. */
  def viewHist(spark: SparkSession, root: String,
      hist: HistSpec): DataFrame = {
    val state = read(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed aggregate at $root"))
    val keyCols = state.columns.toSeq.filterNot(c =>
      c == "cnt" || c.startsWith("sum_") || c.startsWith("min_") ||
        c.startsWith("max_") || c.startsWith("cnt_") ||
        c.startsWith("hist_"))
    state.select(keyCols.map(col) :+ posexplode(col(hist.name)): _*)
      .select(keyCols.map(col) :+ col("pos").cast("long").as("bin") :+
        col("col").as("n_in_bin"): _*)
  }

  /** Register this maintained aggregate as a transparent materialized
    * view over the fact at `basePath`: once [[graft.plans.ViewRewrite
    * .ensureInstalled]] has run on the session, matching `GROUP BY
    * subset-of-keys` count/sum/min/max queries against the fact scan
    * are optimizer-rewritten to re-aggregate the view's key-cardinality
    * state instead. The caller asserts currency: every fact row at
    * `basePath` has been ingested exactly once (the staleness contract
    * all view-rewrite systems carry). The view plan is resolved per
    * rewrite, so later ingests are picked up automatically. */
  def registerView(spark: SparkSession, root: String, name: String,
      basePath: String, keys: Seq[String], values: Seq[String]): Unit = {
    graft.plans.ViewRewrite.ensureInstalled(spark)
    graft.plans.ViewRewrite.register(spark, graft.plans.MaterializedViewDef(
      name, basePath, keys, values,
      () => read(spark, root).getOrElse(throw new IllegalStateException(
        s"view '$name' registered but no committed aggregate at $root"))
        .queryExecution.analyzed))
  }

  /** The maintained view with derived averages (sum div the NON-NULL
    * value count, exact BIGINT — avg(v)'s divisor, not the row count) —
    * what a reader queries instead of the 100 TB fact. */
  def view(spark: SparkSession, root: String,
      values: Seq[String]): DataFrame = {
    val state = checked(
      read(spark, root).getOrElse(
        throw new IllegalStateException(s"no committed aggregate at $root")),
      root, values)
    values.foldLeft(state) { (df, v) =>
      df.withColumn(s"avg_$v", expr(s"sum_$v div cnt_$v"))
    }
  }
}
