package graft.operators

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StateCommit

/** Persisted IVF index — the build-once / query-many form of
  * [[Similarity.ivfKmeansTopK]], which trains and scans in the same
  * query. A real corpus builds its index once and serves many query
  * batches, and the index layout is what makes that cheap at 100 TB.
  *
  * == Layout: versioned snapshots over immutable generations ==
  *
  * {{{
  *   root/CURRENT              — StateCommit pointer: the committed version
  *   root/snap-v/meta/         — ONE parquet folding the four logical
  *                               metadata tables (centroids, live-cell
  *                               manifest, stats, drift log),
  *                               discriminated by column `t`
  *   root/gen-v/cell=C/        — IMMUTABLE data files written by mutation v
  * }}}
  * (pre-fold snapshots carried per-table dirs — centroids/ manifest/
  * stats/ drift/ — and stay readable via the folded-first fallback in
  * `metaTable`)
  *
  * Every mutation ([[build]]/[[upsert]]/[[delete]]/[[compact]]) writes
  * its touched cells as a fresh `gen-v` directory that nothing
  * references yet, writes snapshot v's centroids + manifest (the
  * manifest maps each live cell to the generation holding its current
  * rows — touched cells point at the new generation, untouched cells
  * keep their old entries), and then publishes with ONE atomic
  * [[StateCommit.commit]] pointer swap. Readers resolve `CURRENT`
  * first, so they see a mutation in full or not at all — a crash at
  * any earlier point leaves only unreferenced directories that the
  * deterministic replay overwrites (and generation GC removes once
  * superseded). This closes the round-8 advisory: the old
  * dynamic-partition-overwrite design published per-partition, so a
  * crash mid-upsert exposed mixed generations until the replay.
  *
  * The same structure is why the index scales: data files are
  * immutable (no read-own-overwrite hazard, no eager materialization
  * barriers), untouched cells are never read OR re-written by a
  * mutation, and the manifest — nCells rows, read on the driver — is
  * the FILE-level pruning index: a probe set resolves to exactly its
  * cells' directories before any task is scheduled, so a
  * 1000-executor search touches nProbes/nCells of the corpus and no
  * more. That is the IVF contract made physical, and it is the same
  * snapshot/manifest discipline the table formats (Iceberg/Delta) use
  * for exactly this problem.
  *
  * Training is [[Similarity.trainCentroids]] — the SAME quantizer as
  * the in-query operator, so `search(nProbes = 1)` over an index built
  * from a corpus must equal `ivfKmeansTopK` over that corpus
  * row-for-row (spec-gated, and the driver gate runs it as
  * sim_ann_store against the ivf-kmeans oracle).
  */
/** Centroid-drift advisory (see [[AnnIndex.driftReport]]): build-time
  * vs recent-upsert mean assignment cosine; `drifted` recommends a
  * [[AnnIndex.build]] retrain. */
case class DriftReport(buildMeanCos: Double, recentMeanCos: Double,
    nRecent: Long, drifted: Boolean)

object AnnIndex {

  private val Centroids = "centroids"
  private val Manifest = "manifest"
  private val Stats = "stats"
  private val Drift = "drift"

  private def cellDir(root: String, gen: Long, cell: String) =
    s"${StateCommit.genDir(root, gen)}/cell=$cell"

  /** Column superset of the four logical metadata tables — every commit
    * folds them into ONE `meta` parquet (discriminated by column `t`),
    * the [[LexIndex]]/[[AnnIndexPq]] folded-commit layout: four
    * per-table coalesce(1) writes per mutation were four driver-side
    * committer rounds of pure flat cost. Readers ([[metaTable]]) take
    * folded-first with the per-table directory as the pre-fold
    * fallback; [[StateCommit.gcGenerations]] already consults the
    * folded manifest by the same precedence. */
  private val MetaCols: Seq[(String, String)] = Seq(
    "centroid_id" -> "long", "ce" -> "array<double>",
    "cell" -> "string", "gen" -> "long",
    "build_mean_cos" -> "double", "n" -> "long",
    "seq" -> "long", "mean_cos" -> "double")

  /** This family's logical-table column lists (select order is the
    * reader contract). */
  private[graft] def metaCols(table: String): Seq[String] = table match {
    case Centroids => Seq("centroid_id", "ce")
    case Manifest => Seq("cell", "gen")
    case Stats => Seq("build_mean_cos", "n")
    case Drift => Seq("seq", "n", "mean_cos")
  }

  /** Read one logical meta table of snapshot `v` — the shared
    * folded-first/per-table-fallback probe ([[StateCommit.metaTable]]). */
  private[graft] def metaTable(spark: SparkSession, root: String,
      v: Long, table: String): DataFrame =
    StateCommit.metaTable(spark, root, v, table, metaCols(table))

  /** Write the folded metadata snapshot and commit
    * ([[StateCommit.commitMeta]]). `droppedGens` = this commit removed
    * generations from the manifest. */
  private def writeMeta(spark: SparkSession, root: String, v: Long,
      centroids: DataFrame, entries: Seq[(String, Long)],
      stats: DataFrame, drift: Seq[(Long, Long, Double)],
      droppedGens: Boolean): Unit = {
    val s = spark; import s.implicits._
    StateCommit.commitMeta(spark, root, v, MetaCols, Seq(
      Centroids -> centroids,
      Manifest -> entries.toDF("cell", "gen"),
      Stats -> stats,
      Drift -> drift.toDF("seq", "n", "mean_cos")), droppedGens)
  }

  /** Stats rows of snapshot `v` (0 or 1 rows; tolerates pre-monitor
    * snapshots, where the per-table fallback directory is absent). */
  private def statsRows(spark: SparkSession, root: String,
      v: Long): DataFrame = {
    val s = spark; import s.implicits._
    Try(metaTable(spark, root, v, Stats)).getOrElse(
      Seq.empty[(Double, Long)].toDF("build_mean_cos", "n"))
  }

  /** The committed snapshot version; mutations bump it by one. */
  def version(spark: SparkSession, root: String): Long =
    StateCommit.committedVersion(spark, root, "ANN index")

  /** The committed coarse quantizer (broadcast-sized). */
  def centroids(spark: SparkSession, root: String): DataFrame =
    metaTable(spark, root, version(spark, root), Centroids)

  /** Snapshot v's live-cell map: cell (as the partition-directory
    * string) -> generation holding its current rows. nCells rows. */
  private def entriesOf(spark: SparkSession, root: String,
      v: Long): Seq[(String, Long)] =
    metaTable(spark, root, v, Manifest)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** The drift log: one row per upsert since the last build
    * (seq, n, mean_cos) — reset by [[build]], carried forward by every
    * other mutation; metadata-sized always. */
  private def readDrift(spark: SparkSession, root: String,
      v: Long): Seq[(Long, Long, Double)] =
    Try(metaTable(spark, root, v, Drift)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sortBy(_._1))
      .getOrElse(Seq.empty)

  /** Mean assignment cosine + row count of a scored assignment. */
  private def meanCosOf(scored: DataFrame): (Double, Long) = {
    val r = scored.agg(avg(col("ccos")), count(lit(1))).head()
    (Option(r.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0), r.getLong(1))
  }

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def emptyVectors(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("cell", IntegerType))))

  /** Read exactly `entries`' cell directories — path-level pruning:
    * unreferenced cells are never listed, let alone scanned. Each
    * generation is read with its own basePath so the `cell` partition
    * column is recovered; cross-generation unions align the inferred
    * partition type. */
  private def readCells(spark: SparkSession, root: String,
      entries: Seq[(String, Long)]): DataFrame = {
    if (entries.isEmpty) return emptyVectors(spark)
    val parts = entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (g, es) =>
      StateCommit.readParquetBased(spark, StateCommit.genDir(root, g),
        es.map(e => cellDir(root, g, e._1)).sorted)
    }
    val cellT = parts.head.schema("cell").dataType
    parts.map(_.withColumn("cell", col("cell").cast(cellT)))
      .reduce(_.unionByName(_))
  }

  /** All live rows of the committed snapshot: (vec_id, embedding, cell). */
  def vectors(spark: SparkSession, root: String): DataFrame = {
    val v = version(spark, root)
    readCells(spark, root, entriesOf(spark, root, v))
  }

  /** The pruned candidate scan for a probe-cell set — exposed for the
    * plan gate (asserts `cell IN (…)` lands in PartitionFilters; the
    * manifest additionally prunes at the PATH level, so unprobed cells'
    * directories are never even listed). */
  def prunedVectors(spark: SparkSession, root: String,
      cells: Seq[Any]): DataFrame = {
    val want = cells.map(_.toString).toSet
    val v = version(spark, root)
    val live = entriesOf(spark, root, v)
    readCells(spark, root, live.filter(e => want(e._1)))
      .where(col("cell").isin(cells: _*))
  }

  /** Train the coarse quantizer and persist the cell-partitioned vector
    * table as snapshot v+1 (v=0 for a fresh root). The assignment pass
    * reads the PERSISTED centroids, so build and search rank against
    * bit-identical values. A rebuild over a live index retrains and
    * re-lays-out everything — the FAISS retrain-vs-add split's retrain
    * side — and replaces the whole manifest in one commit. */
  def build(embeddings: DataFrame, root: String, nCells: Int = 8): Unit = {
    val spark = embeddings.sparkSession
    val prior = StateCommit.currentVersion(spark, root)
    val v = prior.getOrElse(0L) + 1
    // pin the trained values once: the assignment pass and the folded
    // metadata write below read the SAME materialized centroids, and
    // parquet round-trips the 9-dp-rounded doubles exactly, so build
    // and search rank against bit-identical values (the invariant the
    // pre-fold code got from writing + re-reading the table)
    val cents = Similarity.trainCentroids(embeddings, nCells)
      .localCheckpoint()
    val scored = Similarity.assignCellsScored(embeddings, cents)
    scored.drop("ccos")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(StateCommit.genDir(root, v))
    // build-time assignment quality: the drift monitor's reference point
    // (one extra broadcast-assignment pass — metadata-cheap vs the write)
    val (buildMean, n) = meanCosOf(scored)
    val s = spark; import s.implicits._
    writeMeta(spark, root, v,
      centroids = cents,
      entries = StateCommit.listPartitionDirs(spark,
        StateCommit.genDir(root, v), "cell")
        .map(_ -> v),
      stats = Seq((buildMean, n)).toDF("build_mean_cos", "n"),
      drift = Seq.empty, // a rebuild resets the log
      // a rebuild over a live index replaces the whole manifest —
      // every prior generation loses its reference
      droppedGens = prior.isDefined)
  }

  /** Top-k bucket search over a built index. `queries` is (qid, qe);
    * each query probes its `nProbes` nearest cells. Output contract is
    * [[Similarity.ivfKmeansTopK]]'s: (qid, cid, cos, rn), 6-dp-rounded
    * cosine, cid tie-break, self-matches excluded.
    *
    * The probe-cell list collects to the driver to prune the manifest —
    * bounded by nQueries × nProbes ints, the standard query-time
    * partition-pruning shape (not a data collect). */
  def search(spark: SparkSession, root: String, queries: DataFrame,
      nProbes: Int = 1, k: Int = 5): DataFrame =
    searchAt(spark, root, queries, version(spark, root), nProbes, k)

  /** Time travel: [[search]] as of snapshot `v` — the [[LexIndex
    * .searchAt]] reproducibility contract for the vector index:
    * generations are immutable and every snapshot pins its own
    * manifest/centroids, so a retrieval run re-executed against a
    * RETAINED prior version (an upsert superseded it, but the
    * StateCommit retain horizon keeps it) answers exactly what it
    * answered when current. Fails loudly outside the horizon. */
  def searchAt(spark: SparkSession, root: String, queries: DataFrame,
      v: Long, nProbes: Int = 1, k: Int = 5): DataFrame = {
    StateCommit.requireRetained(spark, root, v)
    val cents = metaTable(spark, root, v, Centroids)
    val live = entriesOf(spark, root, v)
    val raw = readCells(spark, root, live)
    // partition-column type is inferred from the directory names — cast
    // the probe side to the READ type so the IN list prunes partitions
    // instead of planning a cast-wrapped row filter
    val cellType = raw.schema("cell").dataType
    val probes = Similarity.rankAgainst(
        queries.select(col("qid").as("vec_id"), col("qe").as("embedding")),
        cents)
      .where(col("arn") <= nProbes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("centroid_id").cast(cellType).as("cell"))
    val cellVals = probes.select("cell").distinct().collect().map(_.get(0))
    val want = cellVals.map(_.toString).toSet
    val vecs = readCells(spark, root, live.filter(e => want(e._1)))
      .where(col("cell").isin(cellVals.toIndexedSeq: _*))
      .select(col("vec_id").as("cid"), col("embedding").as("ce2"), col("cell"))
    Similarity.cellTopK(probes, vecs, k, raw)
  }

  /** Incremental maintenance between rebuilds: assign `batch` (vec_id,
    * embedding) against the PERSISTED centroids — no retraining, so
    * existing cells stay valid — and write the touched cells' new
    * contents (kept rows + incoming, same-id rows replaced: id-keyed
    * upsert, the [[graft.store.VectorStore]] merge discipline at index
    * level) as one fresh generation, published atomically.
    *
    * Scale posture: the batch's cells bound the work — untouched cells
    * are never read or written; the kept-rows read is manifest-pruned
    * to the touched cells. Centroid drift is the rebuild trigger, not
    * this path's job ([[build]], the FAISS retrain-vs-add split). An
    * interrupted upsert is invisible (nothing references the partial
    * generation) and the replay overwrites it — id-keyed and
    * deterministic, the [[graft.streaming.StateCommit]] stance, now
    * with the atomic publication to match. */
  def upsert(spark: SparkSession, root: String, rawBatch: DataFrame,
      seqCol: String = ""): Unit = {
    val v0 = version(spark, root)
    val v = v0 + 1
    val cents = metaTable(spark, root, v0, Centroids)
    // last-wins collapse: a CDC batch carrying two versions of one
    // vec_id would land the vector TWICE in the new generation (the
    // anti-join only removes prior-generation copies)
    val batch = CdcBatch.collapse(rawBatch, "vec_id", seqCol)
    val scored = Similarity.assignCellsScored(batch, cents)
      .localCheckpoint() // the touched-cell collect, the drift stat and
                         // the write below must not run the caller's
                         // batch plan three times
    // drift signal: this batch's assignment quality vs build time
    val (batchMean, batchN) = meanCosOf(scored)
    val incoming = scored.drop("ccos")
    val touched = incoming.select("cell").distinct()
      .collect().map(_.get(0).toString).toSet
    val live = entriesOf(spark, root, v0)
    val existing = live.filter(e => touched(e._1))
    val newGen =
      if (existing.isEmpty) incoming
      else {
        val kept = readCells(spark, root, existing)
          .join(incoming.select("vec_id"), Seq("vec_id"), "left_anti")
        kept.unionByName(incoming.withColumn("cell",
          col("cell").cast(kept.schema("cell").dataType)))
      }
    newGen.write.mode("overwrite").partitionBy("cell")
      .parquet(StateCommit.genDir(root, v))
    val entries = StateCommit.listPartitionDirs(spark,
      StateCommit.genDir(root, v), "cell")
      .map(_ -> v) ++
      live.filterNot(e => touched(e._1))
    writeMeta(spark, root, v,
      centroids = cents,
      entries = entries,
      stats = statsRows(spark, root, v0),
      drift = readDrift(spark, root, v0) :+ ((v, batchN, batchMean)),
      droppedGens =
        live.map(_._2).toSet.diff(entries.map(_._2).toSet).nonEmpty)
  }

  /** Drift advisory for the streaming/incremental ingest path — closes
    * the "centroid drift is a scheduled rebuild" hand-wave with an
    * actual trigger: if the recent upsert batches assign to the FIXED
    * centroids materially worse than the build-time corpus did (mean
    * assignment cosine down by more than `margin`), the quantizer no
    * longer fits the data and [[build]] should re-run (the FAISS
    * retrain side). The stat costs one tiny agg per upsert, already
    * paid; the advisory reads two metadata tables.
    *
    * Returns None before the first post-build upsert (nothing to judge
    * — a fresh build is by definition un-drifted). `lastK` bounds the
    * window to the most recent batches (row-weighted), so one early
    * clean batch can't mask a later shift.
    *
    * Calibrating `margin`: the build-time mean is an IN-SAMPLE fit
    * (the centroids were trained on those exact vectors), so even a
    * perfectly stationary feed sits a generalization gap below it —
    * the margin must exceed that gap. Measure the gap once with a
    * stationary holdout batch right after a build (on this repo's
    * synthetic random embeddings it is ~0.10; tightly clustered real
    * corpora sit much lower), and set the margin above it; a true
    * distribution shift lands far outside (the spec's mirrored feed
    * drops ~0.5). */
  def driftReport(spark: SparkSession, root: String,
      margin: Double = 0.15, lastK: Int = 5): Option[DriftReport] = {
    val v = version(spark, root)
    val stats = Try(metaTable(spark, root, v, Stats).head()).toOption
    val drift = readDrift(spark, root, v).takeRight(lastK)
    for (s <- stats if drift.nonEmpty) yield {
      val buildMean = s.getDouble(0)
      val n = drift.map(_._2).sum
      val recent =
        if (n == 0L) buildMean
        else drift.map(d => d._3 * d._2).sum / n
      DriftReport(buildMean, recent, n, recent < buildMean - margin)
    }
  }

  /** Delete by id — the index-side mirror of the vector store's K4:
    * locate the victims' cells with one id semi-join over the live
    * rows (ids are not the partition key, so this pass scans the id
    * column of all cells — a metadata-sized read), then write the
    * survivors of ONLY those cells as a fresh generation. A cell
    * emptied by the delete simply drops out of the manifest — no
    * directory deletion on the data path (the round-8 advisory's
    * second non-atomic step, gone structurally). Ids absent from the
    * index are no-ops; replays converge. */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Unit = {
    val v0 = version(spark, root)
    val live = entriesOf(spark, root, v0)
    val raw = readCells(spark, root, live)
    val victims = ids.select(col("vec_id"))
    val touched = raw.join(victims, Seq("vec_id"), "left_semi")
      .select("cell").distinct().collect().map(_.get(0).toString).toSet
    if (touched.isEmpty) return
    val v = v0 + 1
    val kept = readCells(spark, root, live.filter(e => touched(e._1)))
      .join(victims, Seq("vec_id"), "left_anti")
    kept.write.mode("overwrite").partitionBy("cell")
      .parquet(StateCommit.genDir(root, v))
    val entries = StateCommit.listPartitionDirs(spark,
      StateCommit.genDir(root, v), "cell")
      .map(_ -> v) ++
      live.filterNot(e => touched(e._1))
    writeMeta(spark, root, v,
      centroids = metaTable(spark, root, v0, Centroids),
      entries = entries,
      stats = statsRows(spark, root, v0),
      drift = readDrift(spark, root, v0),
      droppedGens =
        live.map(_._2).toSet.diff(entries.map(_._2).toSet).nonEmpty)
  }

  /** Small-file compaction: every [[upsert]]/[[delete]] generation
    * leaves one task's worth of files per touched cell, so a long-lived
    * index accumulates small files — the classic object-store
    * operational tax (listing cost, task-per-file scheduling, row-group
    * overhead). Compact rewrites each cell whose file count exceeds
    * `maxFilesPerCell` into ONE file (a cell is one coarse-quantizer
    * region — single-file is the right target until a cell outgrows a
    * task, which is the signal to re-train with more cells).
    * Content-neutral by construction (same rows, new layout);
    * untouched cells keep their manifest entries and are never read. */
  def compact(spark: SparkSession, root: String,
      maxFilesPerCell: Int = 1): Unit = {
    val v0 = version(spark, root)
    val live = entriesOf(spark, root, v0)
    val crowded = live.filter { case (cell, g) =>
      val (fs, p) = fsOf(spark, cellDir(root, g, cell))
      Try(fs.listStatus(p)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
        .getOrElse(0) > maxFilesPerCell
    }
    if (crowded.isEmpty) return
    val v = v0 + 1
    readCells(spark, root, crowded)
      .repartition(col("cell")) // one task -> one file per cell
      .write.mode("overwrite").partitionBy("cell")
      .parquet(StateCommit.genDir(root, v))
    val entries = StateCommit.listPartitionDirs(spark,
      StateCommit.genDir(root, v), "cell")
      .map(_ -> v) ++
      live.filterNot(e => crowded.exists(_._1 == e._1))
    writeMeta(spark, root, v,
      centroids = metaTable(spark, root, v0, Centroids),
      entries = entries,
      stats = statsRows(spark, root, v0),
      drift = readDrift(spark, root, v0),
      droppedGens =
        live.map(_._2).toSet.diff(entries.map(_._2).toSet).nonEmpty)
  }

  /** Per-cell parquet file counts of the committed snapshot — the
    * [[compact]] trigger's input, exposed for ops/specs. */
  def filesPerCell(spark: SparkSession, root: String): Map[String, Int] = {
    val v = version(spark, root)
    entriesOf(spark, root, v).map { case (cell, g) =>
      val (fs, p) = fsOf(spark, cellDir(root, g, cell))
      cell -> Try(fs.listStatus(p)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
        .getOrElse(0)
    }.toMap
  }
}
