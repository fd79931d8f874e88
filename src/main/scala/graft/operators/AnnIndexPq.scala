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
  * of the corpus. The index is build-and-search only: a corpus change
  * is a rebuild ([[build]]), published atomically over the prior
  * snapshot, which stays readable through [[searchAt]] while retained.
  */
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

  /** Snapshot v's build-time (nCoarse, m, subDim, nCentroids) and
    * live-cell manifest, read in ONE collect. */
  private final case class Meta(params: (Int, Int, Int, Int),
      cells: Map[String, Long])

  private def metaAt(spark: SparkSession, root: String, v: Long): Meta = {
    val t = StateCommit.metaRows(spark, root, v, metaSchema,
      Seq(Params, Manifest))
    val p = t(Params).head
    Meta((p.getInt(0), p.getInt(1), p.getInt(2), p.getInt(3)),
      CellTable.entries(t(Manifest)))
  }

  def version(spark: SparkSession, root: String): Long =
    StateCommit.committedVersion(spark, root, "IVF-PQ index")

  /** Mean per-vector quantization error (Σ over blocks of the chosen
    * code's nano-L2) and vector count of an encoded assignment. */
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
    // the code assignment has two consumers (cell write + the
    // build-time error stat) — snapshot it so the assignment join/agg
    // doesn't run twice
    val assign = parts.assign.localCheckpoint()
    // the code rows: PQ code per (vector, block), partitioned by the
    // vector's COARSE cell — `cell` is the partition (pruning) column,
    // `code` the payload
    val (cells, _) = Cells.write(root, v,
      assign.select(col("vec_id"), col("blk"), col("cell").as("code"))
        .join(parts.residuals.select(col("vec_id"), col("ccell").as("cell")),
          Seq("vec_id")),
      Map.empty, Set.empty)
    // build-time quantization quality, kept in the snapshot's stats;
    // the drift log stays declared in the meta layout and is written
    // empty
    val (meanErr, n) = meanErrOf(assign)
    val s = spark; import s.implicits._
    StateCommit.commitMeta(spark, root, v, metaSchema, Seq(
      Coarse -> parts.coarse,
      Codebook -> parts.cents,
      Params -> metaSchema.rows(spark, Params,
        Seq((nCoarse, m, subDim, nCentroids))),
      Manifest -> metaSchema.rows(spark, Manifest, cells.toSeq.sortBy(_._1)),
      Stats -> metaSchema.rows(spark, Stats, Seq((meanErr, n))),
      Drift -> metaSchema.rows(spark, Drift, Seq.empty[(Long, Long, Double)])),
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
    * answered when current (a rebuild's rows are invisible to it).
    * Fails loudly outside the retention horizon. */
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
}
