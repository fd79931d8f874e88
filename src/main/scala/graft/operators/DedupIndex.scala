package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{GenerationalTable, MetaSchema, StateCommit}
import graft.streaming.GenerationalTable.Tombstones
import graft.streaming.StateCommit.genDir

/** Persisted MinHash-LSH dedup index — the build-once / probe-many
  * form of [[Dedup.incrementalDedup]]: a real curation pipeline dedups
  * every INCOMING batch against the accumulated corpus, and recomputing
  * the corpus's band signatures per batch is a full corpus scan each
  * time. This index persists the signatures once and lets each batch
  * pay only its own signature pass plus a broadcast probe.
  *
  * == Layout: the [[AnnIndex]] snapshot discipline ==
  *
  * {{{
  *   root/CURRENT            — StateCommit pointer: committed version
  *   root/snap-v/meta/       — ONE parquet folding the three logical
  *                             metadata tables (the k/r scheme, the
  *                             live-generation manifest, the
  *                             tombstones), discriminated by column `t`
  *   root/gen-v/bands/       — IMMUTABLE (doc_id, band, sig) rows of mutation v
  *   root/gen-v/sigs/        — IMMUTABLE (doc_id, mh0..mh{k-1}) of mutation v
  * }}}
  *
  * Generations are append-only and immutable, with the tombstone
  * liveness rule of [[graft.streaming.GenerationalTable]]. Every
  * mutation tombstones each id it touches (an upsert at its own
  * generation, a delete at `DeleteAll`), signature-bearing or not, and
  * publishes manifest + tombstones (+ carried scheme) with ONE atomic
  * [[StateCommit.commit]] pointer swap, so readers see a mutation in
  * full or not at all, and a crash leaves only unreferenced directories
  * the deterministic replay overwrites. [[compact]] folds the live rows
  * into a single generation and clears the tombstones — run it when the
  * tombstone table (bounded by churn, not corpus size) stops being
  * metadata-sized.
  *
  * Scale posture: the index never shuffles at query time — the incoming
  * batch's band table (batch-sized) BROADCASTS into a map-side hash
  * join against the index scan, so probing a 100 TB corpus with a
  * 1 GB batch reads the index once and shuffles nothing but candidate
  * pairs. Mutations cost one signature pass over their own rows plus a
  * metadata-sized snapshot write; nothing ever rewrites the corpus.
  * Signature semantics are exactly [[Dedup.lshBands]] /
  * [[Dedup.minhashWide]] — the driver gate runs the probe against the
  * same DuckDB band-chain oracle as dd_lsh_pairs.
  */
object DedupIndex {

  private val Meta = "meta"
  private val Manifest = "manifest"
  private val Key = "doc_id"

  private def bandsDir(root: String, gen: Long) = s"${genDir(root, gen)}/bands"
  private def sigsDir(root: String, gen: Long) = s"${genDir(root, gen)}/sigs"

  /** The committed snapshot version; mutations bump it by one. */
  def version(spark: SparkSession, root: String): Long =
    StateCommit.committedVersion(spark, root, "dedup index")

  /** The signature scheme locked at build time. */
  def scheme(spark: SparkSession, root: String): (Int, Int) = {
    val st = stateAt(spark, root, version(spark, root))
    (st.k, st.r)
  }

  /** The three logical metadata tables, folded into ONE `meta` parquet
    * per commit (discriminated by column `t`), the [[LexIndex]]/
    * [[AnnIndex]]/[[AnnIndexPq]] folded-commit layout: three per-table
    * coalesce(1) writes per mutation were three driver-side committer
    * rounds of flat cost on every probe-and-ingest cycle. The PRE-fold
    * layout also kept a table at `snap-v/meta` (the k/r scheme, no `t`
    * column), which is why [[StateCommit.metaTable]] tells a folded
    * meta by its SCHEMA, not by existence, and refuses the old one. */
  private[graft] val metaSchema = MetaSchema(
    Meta -> Seq("k" -> "int", "r" -> "int"),
    Manifest -> Seq("gen" -> "long", "n_docs" -> "long"),
    GenerationalTable.tombstones(Key))

  /** Scheme + manifest of snapshot `v`, read in ONE driver action
    * ([[StateCommit.metaRows]]). Tombstones stay a lazy DataFrame. */
  private final case class State(k: Int, r: Int, gens: Seq[(Long, Long)])

  private def stateAt(spark: SparkSession, root: String, v: Long): State = {
    val m = StateCommit.metaRows(spark, root, v, metaSchema, Seq(Meta, Manifest))
    val sc = m(Meta).head
    State(sc.getInt(0), sc.getInt(1),
      m(Manifest).map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1))
  }

  /** Write the folded metadata snapshot and commit
    * ([[StateCommit.commitMeta]]). */
  private def writeMetaTables(spark: SparkSession, root: String, v: Long,
      k: Int, r: Int, entries: Seq[(Long, Long)], tombstones: DataFrame,
      droppedGens: Boolean): Unit = {
    val s = spark; import s.implicits._
    StateCommit.commitMeta(spark, root, v, metaSchema, Seq(
      Meta -> metaSchema.rows(spark, Meta, Seq((k, r))),
      Manifest -> metaSchema.rows(spark, Manifest, entries),
      Tombstones -> tombstones), droppedGens)
  }

  /** Live rows of one per-generation table (`dir`) as of snapshot `v`,
    * with a `gen` column. */
  private def liveAt(spark: SparkSession, root: String, v: Long,
      st: State, dir: (String, Long) => String): DataFrame =
    GenerationalTable.live(st.gens.map(_._1),
      g => StateCommit.readParquet(spark, dir(root, g)),
      StateCommit.metaTable(spark, root, v, metaSchema, Tombstones), Key)

  /** One signature pass over `documents`: (bands, sigs). The wide
    * minhash table snapshots ONCE and both tables derive from it
    * (round 17: `lshBands` internally recomputes `minhashWide`, so the
    * old pair ran the shingle+minhash aggregation — the index build's
    * dominant compute — twice over the same documents). Signature
    * semantics are the dedup suite's. */
  private def signatures(documents: DataFrame, k: Int,
      r: Int): (DataFrame, DataFrame) = {
    val wide = Stage.snap(Dedup.minhashWide(documents, k),
      materialize = true)
    (Dedup.bandsFromWide(wide, k, r), wide)
  }

  private def writeGen(spark: SparkSession, root: String, v: Long,
      documents: DataFrame, k: Int, r: Int): Long = {
    val (bands, sigs) = signatures(documents, k, r)
    bands.write.mode("overwrite").parquet(bandsDir(root, v))
    sigs.write.mode("overwrite").parquet(sigsDir(root, v))
    // sigs rows are 1:1 with the snapped wide table — count the cached
    // blocks instead of re-opening the just-written parquet
    sigs.count()
  }

  /** All live band rows: (doc_id, band, sig, gen). */
  def bands(spark: SparkSession, root: String): DataFrame = {
    val v = version(spark, root)
    liveAt(spark, root, v, stateAt(spark, root, v), bandsDir)
  }

  /** All live wide signatures: (doc_id, mh0..mh{k-1}, gen). */
  def sigs(spark: SparkSession, root: String): DataFrame = {
    val v = version(spark, root)
    liveAt(spark, root, v, stateAt(spark, root, v), sigsDir)
  }

  /** Index the corpus from scratch: one signature pass, one generation,
    * empty tombstones, atomic publish. Re-building over a live root
    * replaces everything in one commit. */
  def build(documents: DataFrame, root: String, k: Int = 16,
      r: Int = 4): Unit = {
    val spark = documents.sparkSession
    val prior = StateCommit.currentVersion(spark, root)
    val v = prior.getOrElse(0L) + 1
    val n = writeGen(spark, root, v, documents, k, r)
    writeMetaTables(spark, root, v, k, r, Seq(v -> n),
      GenerationalTable.emptyTombstones(spark, Key),
      // a rebuild replaces the whole manifest — every prior generation
      // loses its reference
      droppedGens = prior.isDefined)
  }

  /** Add (or replace) a batch: one signature pass over the BATCH only,
    * appended as its own generation; prior rows of the batch's ids die
    * by tombstone. The corpus is never rescanned or rewritten. */
  def upsert(spark: SparkSession, root: String, rawBatch: DataFrame,
      seqCol: String = ""): Unit = {
    val v0 = version(spark, root)
    val v = v0 + 1
    val st = stateAt(spark, root, v0)
    // last-wins collapse: two versions of one doc in a CDC batch would
    // otherwise minhash a CHIMERA of both texts (the per-doc signature
    // groupBy unions their shingles). Snapped: writeGen's signature
    // derivation and the tombstone id scan below both read it, and the
    // collapse shuffle plus the caller's source plan must run once
    val batch = Stage.snap(CdcBatch.collapse(rawBatch, Key, seqCol),
      materialize = true)
    val n = writeGen(spark, root, v, batch, st.k, st.r)
    // tombstone EVERY incoming id, not just signature-bearing ones: a
    // doc shrunk below the 3-token shingle floor must still shed its
    // old signatures
    val ids = batch.select(col(Key).cast("long")).distinct()
    writeMetaTables(spark, root, v, st.k, st.r, st.gens :+ (v -> n),
      GenerationalTable.mergeTombstones(
        StateCommit.metaTable(spark, root, v0, metaSchema, Tombstones),
        ids, Key, beforeGen = v),
      droppedGens = false) // append-only: every prior generation survives
  }

  /** Drop documents from the index (metadata-only: one tombstone row
    * per id, no data rewrite). */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Unit = {
    val v0 = version(spark, root)
    val v = v0 + 1
    val idRows = ids.select(col(Key).cast("long")).distinct()
    val st = stateAt(spark, root, v0)
    writeMetaTables(spark, root, v, st.k, st.r, st.gens,
      GenerationalTable.mergeTombstones(
        StateCommit.metaTable(spark, root, v0, metaSchema, Tombstones),
        idRows, Key, GenerationalTable.DeleteAll),
      droppedGens = false) // metadata-only: the manifest is unchanged
  }

  /** Fold the live rows into ONE generation and clear the tombstones —
    * run when churn has made the generation list or tombstone table
    * worth collapsing. Superseded generations die at the next
    * generation-DROPPING commit or periodic sweep (the previous
    * snapshot survives one retention round for in-flight readers, the
    * [[StateCommit]] stance; see the GC-deferral note above). */
  def compact(spark: SparkSession, root: String): Unit = {
    val v0 = version(spark, root)
    val v = v0 + 1
    val st = stateAt(spark, root, v0)
    liveAt(spark, root, v0, st, bandsDir).drop("gen")
      .write.mode("overwrite").parquet(bandsDir(root, v))
    liveAt(spark, root, v0, st, sigsDir).drop("gen")
      .write.mode("overwrite").parquet(sigsDir(root, v))
    writeMetaTables(spark, root, v, st.k, st.r,
      Seq(v -> StateCommit.readParquet(spark, sigsDir(root, v)).count()),
      GenerationalTable.emptyTombstones(spark, Key),
      // the fold replaces every prior generation's reference
      droppedGens = true)
  }

  /** Near-dup candidates of an INCOMING batch against the index:
    * (doc_id [incoming], dup_id [indexed], n_sig_match) — candidates
    * from the band equi-join (never all-pairs), n_sig_match = how many
    * of the k minhashes agree (k·J/(2−J) expected under Jaccard J; the
    * verification signal a curation pipeline thresholds on).
    *
    * The batch side computes its own signatures in-flight and
    * BROADCASTS them — the index scan joins map-side, so the corpus
    * never shuffles. Self-matches (same id on both sides) are excluded:
    * a re-probed doc is its own trivial dup. */
  def queryNearDups(spark: SparkSession, root: String,
      incoming: DataFrame): DataFrame =
    queryNearDupsAt(spark, root, incoming, version(spark, root))

  /** Time travel: [[queryNearDups]] as of snapshot `v` — every snapshot
    * pins its own manifest/tombstones/scheme, so a probe against a
    * RETAINED prior version (pre-delete, pre-upsert) answers exactly
    * what it answered when that version was current. Fails loudly
    * outside the retention horizon. */
  def queryNearDupsAt(spark: SparkSession, root: String,
      incoming: DataFrame, v: Long): DataFrame = {
    StateCommit.requireRetained(spark, root, v)
    nearDups(spark, root, incoming, v, stateAt(spark, root, v))
  }

  private def nearDups(spark: SparkSession, root: String,
      incoming: DataFrame, v: Long, st: State): DataFrame = {
    val k = st.k
    val (qBands, qSigs) = signatures(incoming, k, st.r)
    val cand = liveAt(spark, root, v, st, bandsDir)
      .select(col("doc_id").as("dup_id"), col("band"), col("sig"))
      .join(broadcast(qBands), Seq("band", "sig"))
      .where(col("doc_id") =!= col("dup_id"))
      .select("doc_id", "dup_id").distinct()
    val matchCount = (0 until k).map(j =>
      when(col(s"mh$j") === col(s"q$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val qWide = qSigs.select(col("doc_id") +:
      (0 until k).map(j => col(s"mh$j").as(s"q$j")): _*)
    cand
      .join(broadcast(qWide), Seq("doc_id"))
      .join(liveAt(spark, root, v, st, sigsDir)
        .withColumnRenamed("doc_id", "dup_id")
        .drop("gen"), Seq("dup_id"))
      .select(col("doc_id"), col("dup_id"),
        matchCount.as("n_sig_match"))
      .orderBy("doc_id", "dup_id")
  }

  /** Per-document curation verdicts for an incoming batch against the
    * index: (doc_id, n_candidates, best_dup_id, best_sig_match,
    * verdict) with verdict ∈ new / near_dup / likely_exact
    * (likely_exact = some indexed doc agrees on ALL k minhashes — the
    * signature-level "same content" signal; byte-level certainty is
    * [[Dedup.exact]]'s job). best_dup_id breaks sig-match ties to the
    * smallest id, deterministically. One row per incoming doc, docs
    * below the shingle floor included as `new` — the drop/keep list a
    * streaming curation pass applies.
    *
    * Same scale posture as [[queryNearDups]] (which this aggregates):
    * batch-side broadcast probe, no corpus shuffle. */
  def classifyBatch(spark: SparkSession, root: String,
      incoming: DataFrame): DataFrame =
    classifyBatchAt(spark, root, incoming, version(spark, root))

  /** Time travel: [[classifyBatch]] against snapshot `v` — reproduces a
    * past curation decision exactly (the verdicts a batch received when
    * `v` was current, before later deletes/upserts moved the index). */
  def classifyBatchAt(spark: SparkSession, root: String,
      incoming: DataFrame, v: Long): DataFrame = {
    StateCommit.requireRetained(spark, root, v)
    val st = stateAt(spark, root, v)
    val k = st.k
    // "seen BEFORE this batch": exclude the batch's own ids from the
    // candidate side — without this, an at-least-once replay (whose
    // first delivery already upserted the batch) would suddenly see
    // intra-batch twins as dups and flip their verdicts, breaking
    // replay convergence (StreamingDedupSpec pins the twin case)
    val ownIds = incoming.select(col("doc_id").cast("long").as("dup_id"))
      .distinct()
    val cand = nearDups(spark, root, incoming, v, st)
      .join(broadcast(ownIds), Seq("dup_id"), "left_anti")
    val best = cand.groupBy("doc_id")
      .agg(countDistinct("dup_id").as("n_candidates"),
        max(struct(col("n_sig_match"), (-col("dup_id")).as("nd"))).as("m"))
      .select(col("doc_id"), col("n_candidates"),
        (-col("m.nd")).as("best_dup_id"),
        col("m.n_sig_match").as("best_sig_match"))
    incoming.select(col("doc_id").cast("long")).distinct()
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_dup_id"),
        coalesce(col("best_sig_match"), lit(0L)).as("best_sig_match"))
      .withColumn("verdict",
        when(col("n_candidates") === 0, "new")
          .when(col("best_sig_match") === k, "likely_exact")
          .otherwise("near_dup"))
      .orderBy("doc_id")
  }
}
