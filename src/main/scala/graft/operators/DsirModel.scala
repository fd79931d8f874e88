package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{MetaSchema, StateCommit}

/** Persisted DSIR importance model — the fit-once / score-many form of
  * [[TextAnalysis.dsirWeights]]. A 100 TB selection run doesn't recompute
  * the target and raw bag models per batch: it fits them ONCE (typically
  * on samples), freezes the per-bucket log-ratios, and applies the
  * frozen model to every incoming batch at ingest. Refits publish NEW
  * versions behind one atomic [[StateCommit]] pointer swap; old versions
  * stay readable ([[scoreAt]]) so a long selection sweep stays pinned to
  * the model it started with instead of silently mixing scoring regimes
  * mid-run.
  *
  * == Layout (the [[AnnIndex]]/[[DedupIndex]] snapshot discipline) ==
  * {{{
  *   root/CURRENT        — StateCommit pointer: committed version
  *   root/snap-v/meta/   — ONE parquet folding the model table
  *                         (bucket, micro — frozen log-ratios,
  *                         ≤ buckets rows) and the scheme row
  *                         (buckets, nt, nr), discriminated by `t`
  * }}}
  *
  * The model table and the scoring math are [[TextAnalysis.dsirMicro]] /
  * [[TextAnalysis.dsirApply]] — the SAME code the in-query operator runs,
  * so `score(fit(raw, target), raw)` equals `dsirWeights(raw, target)`
  * row-for-row by construction (spec-gated, and the ta_dsir_store driver
  * gate shares ta_dsir's DuckDB oracle).
  *
  * Scale posture: fitting is two hashed-gram passes (map-side combinable
  * counts) ending in a ≤`buckets`-row table; the write is one
  * metadata-sized parquet. Scoring broadcasts the model and pays one
  * gram pass over the batch — the corpus never shuffles on the model's
  * account. */
object DsirModel {

  private val Model = "model"
  private val Meta = "meta"

  /** The committed model version; refits bump it by one. */
  def version(spark: SparkSession, root: String): Long =
    StateCommit.committedVersion(spark, root, "DSIR model")

  /** The two logical tables — one folded `meta` parquet per commit (see
    * the layout note above; the same fold every other persisted family
    * got in rounds 12–13). */
  private[graft] val metaSchema = MetaSchema(
    Model -> Seq("bucket" -> "long", "micro" -> "long"),
    Meta -> Seq("buckets" -> "int", "nt" -> "long", "nr" -> "long"))

  /** Fit and commit a new model version from the two corpora; returns
    * the committed version. `retain` is the StateCommit snapshot-expiry
    * horizon: how many model versions stay readable for [[scoreAt]]
    * pinning (default 2 = current + predecessor; raise it when long
    * sweeps must outlive several refits). */
  def fit(raw: DataFrame, target: DataFrame, root: String,
      buckets: Int = 4096, retain: Int = 2): Long = {
    val spark = raw.sparkSession
    val v = StateCommit.currentVersion(spark, root).getOrElse(0L) + 1
    val rB = TextAnalysis.dsirBucketAgg(
      TextAnalysis.hashedGrams(raw, buckets), "cr")
    val tB = TextAnalysis.dsirBucketAgg(
      TextAnalysis.hashedGrams(target, buckets), "ct")
    // the totals freeze WITH the model: scoring a novel doc needs the
    // zero-count smoothed log-ratio, which only nt/nr can reconstruct
    // (round-11 review: without them, unseen grams silently dropped).
    // Both totals in ONE driver action over the snapped bucket aggs.
    val tot = tB.agg(coalesce(sum("ct"), lit(0L)).as("nt"))
      .crossJoin(rB.agg(coalesce(sum("cr"), lit(0L)).as("nr"))).head()
    val (nt, nr) = (tot.getLong(0), tot.getLong(1))
    val s = spark; import s.implicits._
    StateCommit.writeMetaParquet(metaSchema.fold(Seq(
      Model -> TextAnalysis.dsirMicroFromAggs(rB, tB, buckets),
      Meta -> metaSchema.rows(spark, Meta, Seq((buckets, nt, nr))))), root, v)
    StateCommit.commit(spark, root, v, retain)
    v
  }

  /** The frozen (bucket, micro) table of the committed version. */
  def model(spark: SparkSession, root: String): DataFrame =
    modelAt(spark, root, version(spark, root))

  // requireRetained first (not a raw path read): a version above CURRENT
  // is some writer's in-flight build — reading it would serve a
  // half-written model silently; the shared guard rejects it loudly
  private def modelAt(spark: SparkSession, root: String, v: Long): DataFrame = {
    StateCommit.requireRetained(spark, root, v)
    StateCommit.metaTable(spark, root, v, metaSchema, Model)
  }

  private def metaAt(spark: SparkSession, root: String,
      v: Long): (Int, Long, Long) = {
    StateCommit.requireRetained(spark, root, v)
    val row = StateCommit.metaTable(spark, root, v, metaSchema, Meta).head()
    (row.getInt(0), row.getLong(1), row.getLong(2))
  }

  /** Score `docs` against the committed model: (doc_id, n_grams,
    * micro_logw), the [[TextAnalysis.dsirWeights]] output contract. */
  def score(spark: SparkSession, root: String, docs: DataFrame): DataFrame =
    scoreAt(spark, root, docs, version(spark, root))

  /** [[score]] pinned to an explicit model version (time travel): a
    * refit mid-sweep must not change the scoring of batches attributed
    * to the old model. */
  def scoreAt(spark: SparkSession, root: String, docs: DataFrame,
      v: Long): DataFrame = {
    val (buckets, nt, nr) = metaAt(spark, root, v)
    // the zero-count smoothed log-ratio, micro-nat rounded with the same
    // HALF_UP the model rows got — what a gram in a bucket NEITHER fit
    // corpus touched is worth
    val default = java.math.BigDecimal.valueOf(
        (math.log(1.0 / (nt + buckets)) - math.log(1.0 / (nr + buckets))) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    TextAnalysis.dsirApply(docs,
      TextAnalysis.hashedGrams(docs, buckets), modelAt(spark, root, v),
      default)
  }
}
