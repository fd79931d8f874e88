package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{CellTable, MetaSchema, StateCommit}
import graft.streaming.CellTable.Manifest

/** Persisted IVF-PQ index — [[AnnIndex]] with PQ codes instead of raw
  * vectors in the cells: the production billion-vector layout, where
  * the searchable artifact is m small integers per vector (the codes)
  * plus two metadata-sized tables (coarse centroids, residual
  * codebooks), and raw embeddings are never read at query time.
  * [[Similarity.ivfPqTopK]] trains and searches in one query; this is
  * its build-once / query-many form, sharing the same training
  * ([[Similarity.ivfPqParts]]) so a search over a freshly built index
  * equals the in-query operator row-for-row (spec-pinned, and the
  * driver gates it against the same oracle).
  *
  * Layout — the [[AnnIndex]] snapshot discipline:
  * {{{
  *   root/CURRENT             — StateCommit pointer
  *   root/snap-v/meta/        — ONE parquet folding the six logical
  *                              metadata tables (coarse quantizer,
  *                              residual codebooks, params, live-cell
  *                              manifest, stats, drift log),
  *                              discriminated by column `t`
  *   root/gen-v/cell=C/       — IMMUTABLE (vec_id, blk, code) rows
  * }}}
  * [[graft.streaming.CellTable]] owns the manifest and generation format.
  *
  * Scale posture: the probe set prunes at the FILE level (manifest →
  * probed cells' directories only), the per-query LUT broadcasts, and
  * candidates contribute only code rows to one combinable sum — at
  * 100 TB the scan is ~m·4 bytes per posted vector in nProbes/nCoarse
  * of the corpus. `upsert` assigns a batch against the PERSISTED
  * quantizer and codebooks (no retrain — the FAISS add path) and
  * rewrites only its touched cells, published atomically; retrain =
  * [[build]], the drift-triggered path.
  */
/** Quantization-drift advisory (see [[AnnIndexPq.driftReport]]):
  * build-time vs recent-upsert mean per-vector quantization error
  * (nano-L2 of residual vs chosen codes, the `err_nano`
  * [[Similarity.ivfPqEncode]] already computes); `drifted` recommends
  * a [[AnnIndexPq.build]] retrain. */
case class PqDriftReport(buildMeanErrNano: Double,
    recentMeanErrNano: Double, nRecent: Long, drifted: Boolean)

object AnnIndexPq {

  private val Coarse = "coarse"
  private val Codebook = "codebook"
  private val Params = "params"
  private val Stats = "stats"
  private val Drift = "drift"

  /** Probe-table rows under which [[searchAt]] collects the whole
    * (qid, pcell, rq) probe table in one bounded job (≈4 MB at dim 64);
    * past it the probe table stays executor-side (localCheckpoint) and
    * only the distinct probed cells collect. */
  private val ProbeCollectBound = 8192

  /** The cell-partitioned code table: PQ code per (vector, block),
    * partitioned by the vector's COARSE cell. */
  private val Cells = CellTable("cell", StructType(Seq(
    StructField("vec_id", LongType),
    StructField("blk", IntegerType),
    StructField("code", LongType),
    StructField("cell", IntegerType))))

  /** The six logical metadata tables, folded into ONE `meta` parquet per
    * commit (discriminated by column `t`), the [[LexIndex]]
    * folded-commit layout: the six per-table coalesce(1) writes were six
    * driver-side committer rounds per mutation (~0.2–0.3 s each at
    * local[32]), the dominant flat cost of sim_annpq_store/_rerank after
    * round 12 gave LexIndex the same treatment. Readers and
    * [[StateCommit.gcGenerations]] read it through
    * [[StateCommit.metaTable]]. Column order is the reader contract —
    * positional getters depend on it. */
  private[graft] val metaSchema = MetaSchema(
    Coarse -> Seq("ccell" -> "long", "cce" -> "array<double>"),
    Codebook -> Seq("blk" -> "int", "cid" -> "long", "ce" -> "array<double>"),
    Params -> Seq("n_coarse" -> "int", "m" -> "int", "sub_dim" -> "int",
      "n_centroids" -> "int"),
    Cells.manifest("string"),
    Stats -> Seq("build_mean_err_nano" -> "double", "n" -> "long"),
    Drift -> Seq("seq" -> "long", "n" -> "long", "mean_err_nano" -> "double"))

  /** Snapshot v's metadata-sized tables, read in ONE collect: the
    * build-time (nCoarse, m, subDim, nCentroids), the live-cell
    * manifest, the build stats and the drift log — one row per upsert
    * since the last build (seq, n, mean_err_nano), reset by [[build]]
    * and carried forward by every other mutation. */
  private final case class Meta(params: (Int, Int, Int, Int),
      cells: Map[String, Long], stats: (Double, Long),
      drift: Seq[(Long, Long, Double)])

  private def metaAt(spark: SparkSession, root: String, v: Long): Meta = {
    val t = StateCommit.metaRows(spark, root, v, metaSchema,
      Seq(Params, Manifest, Stats, Drift))
    val p = t(Params).head
    val st = StateCommit.oneRow(t, Stats, root)
    Meta((p.getInt(0), p.getInt(1), p.getInt(2), p.getInt(3)),
      CellTable.entries(t(Manifest)), (st.getDouble(0), st.getLong(1)),
      t(Drift).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1))
  }

  /** Write the folded metadata snapshot and commit
    * ([[StateCommit.commitMeta]]). `droppedGens` = this commit removed
    * generations from the manifest. */
  private def writeMeta(spark: SparkSession, root: String, v: Long,
      coarse: DataFrame, codebook: DataFrame, params: (Int, Int, Int, Int),
      cells: Map[String, Long], stats: (Double, Long),
      drift: Seq[(Long, Long, Double)], droppedGens: Boolean): Unit = {
    val s = spark; import s.implicits._
    StateCommit.commitMeta(spark, root, v, metaSchema, Seq(
      Coarse -> coarse,
      Codebook -> codebook,
      Params -> metaSchema.rows(spark, Params, Seq(params)),
      Manifest -> metaSchema.rows(spark, Manifest, cells.toSeq.sortBy(_._1)),
      Stats -> metaSchema.rows(spark, Stats, Seq(stats)),
      Drift -> metaSchema.rows(spark, Drift, drift)), droppedGens)
  }

  /** Publish snapshot v0 + 1: the `touched` cells of snapshot v0 (`m`)
    * rewritten as `rows` of their current rows, in one fresh generation;
    * v0's quantizer, codebooks, params and stats carry over and `drift`
    * extends the log. */
  private def rewrite(spark: SparkSession, root: String, v0: Long, m: Meta,
      touched: Set[String], drift: Seq[(Long, Long, Double)] = Seq.empty)(
      rows: DataFrame => DataFrame): Unit = {
    val v = v0 + 1
    val (cells, droppedGens) = Cells.write(root, v,
      rows(Cells.read(spark, root, m.cells.filter(e => touched(e._1)))),
      m.cells, touched)
    writeMeta(spark, root, v,
      StateCommit.metaTable(spark, root, v0, metaSchema, Coarse),
      StateCommit.metaTable(spark, root, v0, metaSchema, Codebook),
      m.params, cells, m.stats, m.drift ++ drift, droppedGens)
  }

  def version(spark: SparkSession, root: String): Long =
    StateCommit.committedVersion(spark, root, "IVF-PQ index")

  /** (nCoarse, m, subDim, nCentroids) locked at build time. */
  def params(spark: SparkSession, root: String): (Int, Int, Int, Int) =
    metaAt(spark, root, version(spark, root)).params

  /** Mean per-vector quantization error (Σ over blocks of the chosen
    * code's nano-L2) and vector count of an encoded assignment —
    * the [[AnnIndex]] drift-monitor shape with err_nano as the stat. */
  private def meanErrOf(assign: DataFrame): (Double, Long) = {
    val r = assign.groupBy("vec_id").agg(sum("nano").as("err"))
      .agg(avg(col("err").cast("double")), count(lit(1))).head()
    (Option(r.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0), r.getLong(1))
  }

  /** Train coarse quantizer + residual codebooks and persist the
    * cell-partitioned code table as one atomic snapshot. */
  def build(embeddings: DataFrame, root: String, nCoarse: Int = 8,
      m: Int = 8, subDim: Int = 8, nCentroids: Int = 16): Unit = {
    val spark = embeddings.sparkSession
    val prior = StateCommit.currentVersion(spark, root)
    val v = prior.getOrElse(0L) + 1
    val parts = Similarity.ivfPqParts(embeddings, nCoarse, m, subDim,
      nCentroids, materialize = true)
    // the code assignment has two consumers now (cell write + the
    // drift monitor's build-time error stat) — snapshot it so the
    // assignment join/agg doesn't run twice
    val assign = parts.assign.localCheckpoint()
    // the code rows: PQ code per (vector, block), partitioned by the
    // vector's COARSE cell — `cell` is the partition (pruning) column,
    // `code` the payload
    val (cells, _) = Cells.write(root, v,
      assign.select(col("vec_id"), col("blk"), col("cell").as("code"))
        .join(parts.residuals.select(col("vec_id"), col("ccell").as("cell")),
          Seq("vec_id")),
      Map.empty, Set.empty)
    // build-time quantization quality: the drift monitor's reference
    // point (and the drift log resets — a fresh build is un-drifted)
    val (meanErr, n) = meanErrOf(assign)
    writeMeta(spark, root, v,
      coarse = parts.coarse, codebook = parts.cents,
      params = (nCoarse, m, subDim, nCentroids),
      cells = cells,
      stats = (meanErr, n),
      drift = Seq.empty,
      // a rebuild over a live index replaces the whole manifest —
      // every prior generation loses its reference
      droppedGens = prior.isDefined)
  }

  /** ADC top-k over the persisted codes. `queries` is (qid, qe); the
    * output contract is [[Similarity.ivfPqTopK]]'s exactly:
    * (qid, cid, adist_nano, rn), nano-BIGINT distances, cid tie-break,
    * self-matches excluded. */
  def search(spark: SparkSession, root: String, queries: DataFrame,
      nProbes: Int = 2, k: Int = 5): DataFrame =
    searchAt(spark, root, queries, version(spark, root), nProbes, k)

  /** Time travel: [[search]] as of snapshot `v` — the [[LexIndex
    * .searchAt]] reproducibility contract for the compressed index:
    * every snapshot pins its own quantizer, codebooks, params and
    * manifest, so a retained prior version answers exactly what it
    * answered when current (an upsert's re-encoded rows are invisible
    * to it). Fails loudly outside the retention horizon. */
  def searchAt(spark: SparkSession, root: String, queries: DataFrame,
      v: Long, nProbes: Int = 2, k: Int = 5): DataFrame = {
    StateCommit.requireRetained(spark, root, v)
    val meta = metaAt(spark, root, v)
    val (_, m, subDim, _) = meta.params
    val coarse = StateCommit.metaTable(spark, root, v, metaSchema, Coarse)
    val cents = StateCommit.metaTable(spark, root, v, metaSchema, Codebook)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cnano"), col("ccell"))
    // the probe table is nQueries x nProbes rows of (qid, pcell, rq).
    // ONE bounded collect (round 17): under ProbeCollectBound rows the
    // collect both pins the rows (the caller's query plan never re-runs)
    // and hands the driver the probed-cell set — the old localCheckpoint
    // + distinct-collect pair was two jobs. A query batch bigger than
    // the bound (the limit(bound+1) sentinel detects it without ever
    // materializing more) falls back to that pair: the probe table must
    // not ride the driver at cloud-batch query counts.
    val qprobeLazy = queries.select(col("qid"), col("qe"))
      .crossJoin(broadcast(coarse))
      .select(col("qid"), col("qe"), col("ccell"), col("cce"),
        Similarity.nanoL2(col("qe"), col("cce")).as("cnano"))
      .withColumn("prn", row_number().over(wq)).where(col("prn") <= nProbes)
      .select(col("qid").cast("long").as("qid"), col("ccell").as("pcell"),
        zip_with(col("qe"), col("cce"),
          (x, c) => x.cast("double") - c.cast("double")).as("rq"))
    val head = qprobeLazy.limit(ProbeCollectBound + 1).collect()
    val (qprobe, probed) =
      if (head.length <= ProbeCollectBound)
        (spark.createDataFrame(
          spark.sparkContext.parallelize(head.toIndexedSeq, 1),
          StructType(Seq(StructField("qid", LongType),
            StructField("pcell", LongType),
            StructField("rq", ArrayType(DoubleType))))),
          head.map(_.get(1).toString).toSet)
      else {
        val cp = qprobeLazy.localCheckpoint()
        (cp, cp.select("pcell").distinct()
          .collect().map(_.get(0).toString).toSet)
      }
    val rqBlocks = qprobe.select(col("qid"), col("pcell"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        b => slice(col("rq"), b * subDim + 1, lit(subDim)))))
      .select(col("qid"), col("pcell"), col("pos").as("blk"), col("col").as("sub"))
    val lut = rqBlocks.join(broadcast(cents), Seq("blk"))
      .select(col("qid"), col("pcell"), col("blk"), col("cid"),
        Similarity.nanoL2(col("sub"), col("ce")).as("dq"))
    // file-level pruning: only the probed cells' directories are read
    val codeRows = Cells.read(spark, root, meta.cells.filter(e => probed(e._1)))
      .select(col("vec_id").as("cid2"), col("blk").as("cblk"), col("code"),
        col("cell").as("vcell"))
    val scored = codeRows
      .join(broadcast(lut),
        col("vcell") === col("pcell") && col("cblk") === col("blk") &&
          col("code") === col("cid"))
      .groupBy(col("qid"), col("cid2").as("cid"))
      .agg(sum("dq").as("adist_nano"))
      .where(col("qid") =!= col("cid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adist_nano"), col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("qid", "cid", "adist_nano", "rn")
      .orderBy("qid", "rn")
  }

  /** Two-stage search — the production IVF-PQ pattern: the codes-only
    * index shortlists `poolK` candidates per query by ADC distance,
    * then ONLY those candidates pay an exact cosine against the raw
    * vectors and the top `k` re-rank by it. The compressed index
    * bounds what is read (probed cells' code rows); the exact pass is
    * an id-keyed equi-join fetching poolK rows per query — never a
    * corpus scan — which is why codes-not-vectors cells stay the right
    * layout even when exact scores are required. Re-ranking can only
    * raise recall vs the ADC ranking (spec-pinned): the shortlist is
    * unchanged, and within it the true metric replaces the
    * quantization-error-afflicted estimate. */
  def searchRerank(spark: SparkSession, root: String, queries: DataFrame,
      vectors: DataFrame, nProbes: Int = 2, k: Int = 5,
      poolK: Int = 20): DataFrame = {
    val shortlist = search(spark, root, queries, nProbes, poolK)
      .select(col("qid"), col("cid"))
    val q = queries.select(col("qid"), col("qe"))
    val cand = vectors.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    shortlist
      .join(cand, Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"),
        round(Similarity.cos(vectors)(col("ce"), col("qe")), 6).as("cos"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .where(col("rn") <= k)
      .orderBy("qid", "rn")
  }

  /** Incremental add between retrains: encode `batch` against the
    * PERSISTED quantizer and codebooks and rewrite only its touched
    * cells (kept rows + incoming, id-keyed replace), published
    * atomically. No retraining — drift is [[build]]'s trigger. */
  def upsert(spark: SparkSession, root: String, rawBatch: DataFrame,
      seqCol: String = ""): Unit = {
    val v0 = version(spark, root)
    val meta = metaAt(spark, root, v0)
    // last-wins collapse: duplicate vec_ids within one CDC batch would
    // each encode and land in the new generation (the incoming-id
    // drop removes only prior-generation rows)
    val batch = CdcBatch.collapse(rawBatch, "vec_id", seqCol)
    val (_, m, subDim, _) = meta.params
    val coarse = StateCommit.metaTable(spark, root, v0, metaSchema, Coarse)
    val cents = StateCommit.metaTable(spark, root, v0, metaSchema, Codebook)
    val residuals = Similarity.assignCoarse(batch, coarse)
      .select(col("vec_id"), col("ccell"),
        zip_with(col("embedding"), col("cce"),
          (x, c) => x.cast("double") - c.cast("double")).as("embedding"))
      .localCheckpoint() // touched-cell collect + code write share it
    val encoded = Similarity
      .pqNearest(Similarity.pqBlocks(
        residuals.select("vec_id", "embedding"), m, subDim), cents)
      .localCheckpoint() // drift stat + code write share it
    // drift signal: this batch's quantization error vs build time (the
    // err_nano ivfPqEncode emits, per incoming batch)
    val (batchMeanErr, batchN) = meanErrOf(encoded)
    val incoming = encoded
      .select(col("vec_id"), col("blk"), col("cell").as("code"))
      .join(residuals.select(col("vec_id"), col("ccell").as("cell")),
        Seq("vec_id"))
    val touched = residuals.select(col("ccell").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    rewrite(spark, root, v0, meta, touched,
        Seq((v0 + 1, batchN, batchMeanErr))) {
      CellTable.dropKeys(_, residuals, "vec_id").unionByName(incoming)
    }
  }

  /** Delete by id — locate the victims' cells with one id join
    * over the live code rows (ids are not the partition key, so this
    * scans the id column — m small rows per vector), then write ONLY
    * those cells' survivors as a fresh generation. A cell emptied by
    * the delete drops out of the manifest; absent ids are no-ops;
    * replays converge (the [[AnnIndex.delete]] shape over codes). */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Unit = {
    val v0 = version(spark, root)
    val meta = metaAt(spark, root, v0)
    val victims = ids.select(col("vec_id"))
    val touched = Cells.holding(spark, root, meta.cells, victims, "vec_id")
      .collect().map(_.get(0).toString).toSet
    if (touched.nonEmpty)
      rewrite(spark, root, v0, meta, touched)(
        CellTable.dropKeys(_, victims, "vec_id"))
  }

  /** Small-file compaction: rewrite every live cell as one file in a
    * single fresh generation (content-neutral — spec checks probes are
    * unchanged). Run when upsert/delete churn has fragmented cells. */
  def compact(spark: SparkSession, root: String): Unit = {
    val v0 = version(spark, root)
    val meta = metaAt(spark, root, v0)
    if (meta.cells.nonEmpty)
      rewrite(spark, root, v0, meta, meta.cells.keySet)(
        _.repartition(col("cell")).sortWithinPartitions("cell", "vec_id", "blk"))
  }

  /** Drift advisory for the incremental add path — the [[AnnIndex
    * .driftReport]] trigger with QUANTIZATION ERROR as the monitored
    * stat: [[upsert]] encodes against the PERSISTED quantizer and
    * codebooks, so when the feed's distribution shifts, incoming
    * residuals stop landing near any code and the batch's mean
    * err_nano rises above the build-time reference — the cheap,
    * already-computed signal that the FAISS retrain side ([[build]])
    * is due. Returns None before the first post-build upsert.
    *
    * Calibrating `ratio`: the build-time mean is IN-SAMPLE (codebooks
    * trained on those exact residuals), so a stationary feed sits a
    * generalization gap ABOVE it — measure the gap once with a
    * stationary holdout right after a build (~1.1–1.3x on this repo's
    * synthetic embeddings) and set `ratio` above it; a true shift
    * lands far outside (the spec's scaled feed exceeds 5x). `lastK`
    * bounds the window to the most recent batches (row-weighted), so
    * one early clean batch cannot mask a later shift. `floorNano`
    * de-degenerates the ratio test when the build fit is essentially
    * perfect (build mean ~0 — the codes coincide with the vectors):
    * without a floor, `recent > 0 * ratio` would fire on ANY nonzero
    * batch; below the floor, error differences are quantization noise
    * (1e-3 of a unit-vector's nano-L2 scale by default). */
  def driftReport(spark: SparkSession, root: String,
      ratio: Double = 1.5, lastK: Int = 5,
      floorNano: Double = 1e6): Option[PqDriftReport] = {
    val meta = metaAt(spark, root, version(spark, root))
    val drift = meta.drift.takeRight(lastK)
    val buildMean = meta.stats._1
    Option.when(drift.nonEmpty) {
      val n = drift.map(_._2).sum
      val recent =
        if (n == 0L) buildMean
        else drift.map(d => d._3 * d._2).sum / n
      PqDriftReport(buildMean, recent, n,
        recent > math.max(buildMean, floorNano) * ratio)
    }
  }
}
