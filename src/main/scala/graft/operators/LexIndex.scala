package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{GenerationalTable, MetaSchema, StateCommit}
import graft.streaming.GenerationalTable.Tombstones

/** Persisted inverted (lexical) index with BM25 ranking — the
  * build-once / query-many LEXICAL complement to the ANN family
  * ([[AnnIndex]]/[[AnnIndexPq]] answer "semantically near", this
  * answers "contains these terms", and [[LexIndex.hybrid]] fuses the
  * two; [[LexIndex.delete]] tombstones documents without a rebuild):
  * postings carry (token, doc_id, tf, dl) — document length is
  * denormalized INTO the posting row, the classic payload trick, so
  * scoring never joins a doc-length table at query time — plus
  * metadata-sized document-frequency and corpus-stat tables, published
  * atomically as one [[StateCommit]] snapshot.
  *
  * Query cost is the inverted-index contract: ONLY the query terms'
  * posting rows are read (`token IN (...)` pushes to the parquet
  * scan), never the corpus. Postings land hive-partitioned by the
  * token's first letter (`tpfx=<a..z>`) and repartitioned by token
  * within each partition, so a query PRUNES AT THE DIRECTORY level —
  * only its terms' prefix partitions are listed or opened (plan-gated:
  * `PartitionFilters: [tpfx IN (...)]`), the [[AnnIndex]] cell
  * discipline applied to text — and the row-level token IN still
  * pushes to each opened file.
  *
  * Scoring is Okapi BM25 with the engine's RSJ idf (the
  * [[TextAnalysis.bm25TopK]] math), with each per-term score rounded
  * to integer MICRO-points (×10⁶) BEFORE the per-doc sum — the
  * fixed-point aggregate contract that makes the total exact and
  * order-independent across engines (a raw double sum would be
  * partial-aggregation-order dependent).
  *
  * Tokenization is `[a-z]+` over lowercased text — byte-for-byte the
  * [[TextAnalysis]] tokenizer, so index statistics agree with every
  * corpus-level text operator.
  *
  * Posting and doc generations follow the tombstone liveness rule of
  * [[graft.streaming.GenerationalTable]], with one difference from
  * [[DedupIndex]]: a mutation tombstones only ids that have something
  * to kill (live rows, or an earlier tombstone that must advance), so
  * repeated takedown sweeps and brand-new ids never grow the table.
  */
object LexIndex {

  private val Dfs = "dfs"
  private val Stats = "stats"
  private val Manifest = "manifest"
  private val StreamBatch = "stream_batch"
  private val EraTable = "era"
  private val Key = "doc_id"

  private def tokens(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("token"))

  private def genDir(root: String, v: Long): String =
    s"${StateCommit.genDir(root, v)}/postings"

  /** The generation's (doc_id, dl) doc table — ONE row per indexed doc
    * INCLUDING dl=0: a zero-token document is invisible to postings, and
    * round 10's delete could not locate its `n_docs` contribution (the
    * documented blind spot this table closes — delete/upsert subtract
    * every victim exactly). Lives beside the postings so [[StateCommit
    * .gcGenerations]] reclaims both together. */
  private def docsDir(root: String, v: Long): String =
    s"${StateCommit.genDir(root, v)}/docs"

  /** The batch's (postings, docs, dfs, stats, nPostings) derivation —
    * shared by build and upsert, so the incremental path cannot
    * drift from the full-build one. nPostings (exact: postings
    * are 1:1 with tf rows, and tf is already checkpointed so the count
    * is a cached-block scan) feeds [[writeSnapshot]]'s bucket sizing.
    *
    * tf lands DOC_ID-PARTITIONED in the snapshot (round 17): the tf
    * aggregation still gets its map-side combine on (doc_id, token),
    * and the trailing repartition means dl, the postings join and the
    * docs join below are all co-partitioned on doc_id — three
    * downstream exchanges (dl agg, tf re-shuffle for the join, docs
    * join side) become zero, and with AQE every exchange is a
    * separately scheduled job. Shuffled bytes are unchanged (the
    * repartition moves the same compressed tf rows the join's exchange
    * moved before). */
  private def batchParts(documents: DataFrame) = {
    val tf = Stage.snap(
      tokens(documents).groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .repartition(col("doc_id")),
      materialize = true)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val postings = tf.join(dl, Seq("doc_id"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
    val dfs = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val docs = documents.select(col("doc_id").cast("long").as("doc_id"))
      .distinct()
      .join(dl.select(col("doc_id").cast("long").as("doc_id"), col("dl")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"))
    val stats = documents.select(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(
        coalesce(sum("dl"), lit(0L)).as("sum_dl"),
        count(lit(1)).as("n_dl")))
    (postings, docs, dfs, stats, tf.count())
  }

  /** The committed snapshot version; mutations bump it by one. */
  private def version(spark: SparkSession, root: String): Long =
    StateCommit.committedVersion(spark, root, "lexical index")

  /** The scalar-sized snapshot metadata of version `v` in ONE driver
    * action (round 17): manifest generation list, corpus stats, stream
    * watermark and era previously each paid their own collect/head job
    * per mutation — four ~50 ms single-task jobs over the SAME folded
    * meta file. dfs and tombstones are NOT here (vocabulary-/churn-sized
    * — they stay lazy DataFrames). `streamBatch` is the maintaining
    * stream's last applied batch id, recorded IN the snapshot (so it
    * commits atomically with the generation it guards): None before any
    * stream batch, and reset by [[build]] — a rebuild starts a new
    * stream era (resume a stream across a rebuild with a FRESH
    * checkpoint; [[buildEra]] + the [[graft.streaming.StreamingLex]]
    * checkpoint marker ENFORCE that rule — round-10 advice). */
  private final case class MetaScalars(gens: Seq[Long], nDocs: Long,
      sumDl: Long, nDl: Long, streamBatch: Option[Long], era: Long)

  private def metaScalarsOf(spark: SparkSession, root: String,
      v: Long): MetaScalars = {
    val m = StateCommit.metaRows(spark, root, v, metaSchema,
      Seq(Manifest, Stats, StreamBatch, EraTable))
    // manifest order: ascending gen — every writer appends
    val gens = m(Manifest).map(_.getLong(0)).sorted
    val st = m(Stats).head
    MetaScalars(gens, st.getLong(0), st.getLong(1), st.getLong(2),
      m(StreamBatch).headOption.map(_.getLong(0)),
      StateCommit.oneRow(m, EraTable, root).getLong(0))
  }

  /** The index's BUILD ERA: the snapshot version of the last [[build]].
    * Every upsert/delete/compact carries it forward unchanged; a rebuild
    * bumps it. A maintenance stream records the era it started against
    * and refuses to apply batches once the index has been rebuilt under
    * it — resuming an OLD checkpoint after a rebuild could otherwise
    * re-apply a crashed in-flight batch whose docs the rebuild corpus
    * already contains. */
  def buildEra(spark: SparkSession, root: String): Long =
    metaScalarsOf(spark, root, version(spark, root)).era

  /** The LIVE posting rows of snapshot v (the generations `gens`):
    * shape (token, doc_id, tf, dl). `prefixes` applies directory-level
    * pruning: only the named `tpfx=` partitions of each generation are
    * listed/opened (a query passes its terms' first letters;
    * maintenance passes read everything). A generation without the
    * `tpfx` partition column is refused. */
  private def livePostings(spark: SparkSession, root: String, v: Long,
      gens: Seq[Long], prefixes: Option[Seq[String]] = None): DataFrame =
    GenerationalTable.live(gens, { g =>
      val full = StateCommit.readParquet(spark, genDir(root, g))
      if (!full.columns.contains("tpfx")) throw StateCommit.staleLayout(
        root, s"postings ${genDir(root, g)} without the tpfx partition column")
      prefixes.fold(full)(ps => full.where(col("tpfx").isin(ps: _*)))
        .select(col("token"), col("doc_id"), col("tf"), col("dl"))
    }, StateCommit.metaTable(spark, root, v, metaSchema, Tombstones), Key)
      .drop("gen")

  /** The LIVE (doc_id, dl) rows of snapshot v — one row per live doc
    * INCLUDING zero-token docs (the doc table, not the postings, is the
    * membership authority). A generation without its doc table is
    * refused. */
  private def liveDocs(spark: SparkSession, root: String, v: Long,
      gens: Seq[Long]): DataFrame =
    GenerationalTable.live(gens, { g =>
      val dir = docsDir(root, g)
      val docs =
        try StateCommit.readParquet(spark, dir)
        catch { case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          throw StateCommit.staleLayout(root,
            s"a generation without its docs table $dir")
        }
      docs.select(col("doc_id").cast("long").as("doc_id"),
        col("dl").cast("long").as("dl"))
    }, StateCommit.metaTable(spark, root, v, metaSchema, Tombstones), Key)
      .drop("gen")

  /** The folded snapshot metadata: every metadata-sized table
    * (dfs/stats/manifest/stream_batch/era/tombstones) lands in ONE
    * parquet write under `meta/`, discriminated by `t` — six
    * coalesce(1) committer rounds per commit (~0.2–0.3 s each at any
    * corpus size; the round-11 verdict measured them as lx_search_inc's
    * whole flat cost) become one. */
  private[graft] val metaSchema = MetaSchema(
    Dfs -> Seq("token" -> "string", "df" -> "long"),
    Stats -> Seq("n_docs" -> "long", "sum_dl" -> "long", "n_dl" -> "long"),
    Manifest -> Seq("gen" -> "long"),
    StreamBatch -> Seq("last_batch_id" -> "long"),
    EraTable -> Seq("build_era" -> "long"),
    GenerationalTable.tombstones(Key))

  /** Write the metadata-sized snapshot tables and commit
    * ([[StateCommit.commitMeta]]) — shared by every mutation (postings
    * generations are written by the caller, when the mutation adds
    * any). `droppedGens` = this commit removed generations from the
    * manifest (compaction, rebuild). */
  private def writeMetaTables(spark: SparkSession, root: String, v: Long,
      dfs: DataFrame, stats: DataFrame, gens: Seq[Long],
      tombstones: DataFrame, streamBatch: Option[Long], era: Long,
      droppedGens: Boolean = false): Long = {
    val s = spark
    import s.implicits._
    StateCommit.commitMeta(spark, root, v, metaSchema, Seq(
      Dfs -> dfs,
      Stats -> stats,
      Manifest -> metaSchema.rows(spark, Manifest, gens),
      Tombstones -> tombstones,
      StreamBatch -> metaSchema.rows(spark, StreamBatch, streamBatch.toSeq),
      EraTable -> metaSchema.rows(spark, EraTable, Seq(era))), droppedGens)
    v
  }

  /** Target posting rows per range bucket (~20 MB of narrow posting
    * rows): a 2-doc upsert generation must not fan out into nBuckets
    * range partitions — per-generation small files are the cost the
    * round-10 medians flagged, and incremental generations are usually
    * batch-sized. `rowHint` (exact from [[batchParts]], sum_dl upper
    * bound from the committed stats for compaction) scales the bucket
    * count DOWN; the caller's nBuckets stays the ceiling, which is the
    * knob a 100 TB corpus build raises. */
  private val TargetPostingsPerBucket = 512L * 1024

  private def writeSnapshot(spark: SparkSession, root: String, v: Long,
      postings: DataFrame, docs: DataFrame, dfs: DataFrame,
      stats: DataFrame, gens: Seq[Long], nBuckets: Int,
      tombstones: DataFrame, streamBatch: Option[Long] = None,
      era: Long, rowHint: Long = -1L,
      droppedGens: Boolean = false): Long = {
    val buckets =
      if (rowHint < 0) nBuckets
      else math.max(1L, math.min(nBuckets.toLong,
        (rowHint + TargetPostingsPerBucket - 1) / TargetPostingsPerBucket)).toInt
    // hive-partition by the token's first letter (≤ 26 dirs — the
    // tokenizer is [a-z]+) so a search prunes whole directories.
    // RANGE-partition by token before the write: each task then covers
    // a CONTIGUOUS token range, so it intersects only a few tpfx
    // prefixes and the generation lands as ~nBuckets+26 files instead
    // of the hash layout's nBuckets × 26 (the round-10 medians showed
    // that write amplification as lx_search_inc's real 1.8× regression).
    // Range by token ALONE: with doc_id in the range key a boundary can
    // land inside one hot token's doc_id run, splitting that term across
    // two files (round-11 review); the within-partition sort restores
    // (token, doc_id) row order for the file layout.
    postings.withColumn("tpfx", substring(col("token"), 1, 1))
      .repartitionByRange(buckets, col("token"))
      .sortWithinPartitions(col("token"), col("doc_id"))
      .write.mode("overwrite").partitionBy("tpfx")
      .parquet(genDir(root, v))
    // the generation's doc table: one narrow (doc_id, dl) row per doc —
    // a fraction of the postings' size, so a handful of files suffices
    docs.coalesce(math.max(1, buckets / 8))
      .write.mode("overwrite").parquet(docsDir(root, v))
    writeMetaTables(spark, root, v, dfs, stats, gens, tombstones,
      streamBatch, era, droppedGens)
  }

  /** Build (or rebuild from scratch) the index; returns the committed
    * snapshot version. One corpus scan: tf, dl, df and the corpus
    * stats all derive from the same token aggregation. A build starts a
    * new [[buildEra]]. */
  def build(spark: SparkSession, documents: DataFrame, root: String,
      nBuckets: Int = 32): Long = {
    val prior = StateCommit.currentVersion(spark, root)
    val v = prior.getOrElse(0L) + 1
    val (postings, docs, dfs, stats, nPost) = batchParts(documents)
    // a REBUILD over an existing root drops every prior generation from
    // the manifest — GC immediately; a fresh build has nothing to drop
    writeSnapshot(spark, root, v, postings, docs, dfs, stats, Seq(v),
      nBuckets, GenerationalTable.emptyTombstones(spark, Key), era = v,
      rowHint = nPost, droppedGens = prior.nonEmpty)
  }

  /** One stats row of the folded meta. */
  private def statsRow(spark: SparkSession, nDocs: Long, sumDl: Long,
      nDl: Long): DataFrame = {
    val s = spark; import s.implicits._
    metaSchema.rows(spark, Stats, Seq((nDocs, sumDl, nDl)))
  }

  /** The committed df table plus a batch's: exactly additive over
    * disjoint doc sets. */
  private def addDfs(dfs: DataFrame, bDfs: DataFrame): DataFrame =
    dfs.select(col("token"), col("df").as("a"))
      .join(bDfs.select(col("token"), col("df").as("b")), Seq("token"),
        "full_outer")
      .select(col("token"),
        (coalesce(col("a"), lit(0L)) + coalesce(col("b"), lit(0L))).as("df"))

  /** What some ids' LIVE rows contribute to snapshot `prev`, the part a
    * delete or an upsert of them subtracts: their doc rows, the
    * per-token df decrement `ddf` and the one-row stat decrement
    * (dn, ds, dndl). Already-dead rows never subtract twice, which also
    * makes a replayed or repeated delete a no-op on the statistics. The
    * doc table, not the postings, is the membership authority: n_docs
    * loses EVERY live victim (zero-token ones included), n_dl only those
    * with tokens. */
  private final case class DeadPart(docs: DataFrame, ddf: DataFrame,
      stats: DataFrame) {
    /** `dfs` less the dead postings (ONE row per (token, doc), so the
      * per-token dead-row count IS the df decrement); rows at zero
      * leave, as a rebuild without the dead docs never emits them. */
    def from(dfs: DataFrame): DataFrame =
      dfs.join(ddf, Seq("token"), "left_outer")
        .select(col("token"), (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
        .where(col("df") > 0)
  }

  /** The [[DeadPart]] of the distinct long `ids`. The dead docs snap (the
    * stats and the tombstones both read them); the dead postings have
    * ONE consumer, the df decrement, so they do not (round-13 review). */
  private def deadPart(spark: SparkSession, root: String, prev: Long,
      gens: Seq[Long], ids: DataFrame): DeadPart = {
    val deadDocs = Stage.snap(
      liveDocs(spark, root, prev, gens)
        .join(broadcast(ids), Seq("doc_id"), "left_semi"),
      materialize = true)
    DeadPart(deadDocs,
      livePostings(spark, root, prev, gens)
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
        .groupBy("token").agg(count(lit(1)).as("ddf")),
      deadDocs.agg(count(lit(1)).as("dn"),
        coalesce(sum("dl"), lit(0L)).as("ds"),
        count(when(col("dl") > 0, 1)).as("dndl")))
  }

  /** Drop documents from the index without a rebuild — the takedown /
    * revocation path: one tombstone row per id plus ALGEBRAIC df/stats
    * corrections, published atomically as the next snapshot. Metadata-
    * sized writes only — no posting generation is rewritten (the dead
    * rows stay on disk, masked at read time, until
    * [[compactGenerations]] folds them away and clears the
    * tombstones). df rows that reach zero drop out, and the corpus
    * stats subtract the victims' doc counts and token totals, so a
    * post-delete [[search]] is row-for-row equal to one over an index
    * rebuilt without the victims (spec-pinned; the lx_search_del
    * driver gate proves it against the filtered-corpus oracle).
    *
    * Ids without live rows are no-ops (so replays converge) and add NO
    * tombstone — only live victims are tombstoned (semi-join against
    * the live doc set), so repeated takedown sweeps with overlapping or
    * bogus id lists cannot grow the churn-bounded tombstone table
    * (round-10 advice). Zero-token docs subtract exactly too: the
    * per-generation DOC table (not the postings) is the membership
    * authority, closing round 10's documented `n_docs` blind spot.
    *
    * Scale posture: one tombstone-filtered scan of the posting
    * generations (the victim semi-join prunes it to the dead rows) plus
    * one of the narrow doc tables, one broadcast-sized df merge,
    * metadata writes — the corpus is never rewritten. */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Long = {
    val prev = version(spark, root)
    val victims = ids.select(col("doc_id").cast("long")).distinct()
    val ms = metaScalarsOf(spark, root, prev)
    val dead = deadPart(spark, root, prev, ms.gens, victims)
    // exact stat subtraction from the doc table; the committed side came
    // with the folded MetaScalars read
    val d = dead.stats.head()
    val mergedStats = statsRow(spark, ms.nDocs - d.getLong(0),
      ms.sumDl - d.getLong(1), ms.nDl - d.getLong(2))
    // tombstone only ids that actually had live rows: repeated or
    // bogus takedown lists add no rows, and an already-dead victim
    // keeps its existing tombstone
    val tombs = GenerationalTable.mergeTombstones(
      StateCommit.metaTable(spark, root, prev, metaSchema, Tombstones),
      dead.docs.select(Key).distinct(), Key, GenerationalTable.DeleteAll)
    writeMetaTables(spark, root, prev + 1,
      dead.from(StateCommit.metaTable(spark, root, prev, metaSchema, Dfs)),
      mergedStats, ms.gens, tombs, ms.streamBatch, ms.era)
  }

  /** The index's one write of new or changed documents, published
    * as ONE snapshot: each batch doc's pre-existing rows (if any) die
    * and its new content lands as generation v, with df/corpus stats
    * corrected by exact subtract-old/add-new algebra (df and the corpus
    * totals are additive over disjoint doc sets). Handles every
    * membership state uniformly: live ids update, deleted ids
    * resurrect, new ids simply append. A post-upsert [[search]] is
    * row-for-row equal to a from-scratch rebuild with the updated
    * corpus (spec-pinned; the lx_search_inc and lx_search_upd driver
    * gates prove it against the full- and updated-corpus oracles).
    * Re-running an upsert of the same batch converges: its own rows die
    * and identical ones land, so the search answer does not move.
    *
    * Scale posture: [[delete]]'s pruned dead-row scan plus a batch-only
    * token pass; the corpus is never rescanned or rewritten. */
  def upsert(spark: SparkSession, documents: DataFrame, root: String,
      nBuckets: Int = 32, seqCol: String = ""): Long = {
    val prev = version(spark, root)
    val ms = metaScalarsOf(spark, root, prev)
    upsertCore(spark, documents, root, prev, prev + 1, nBuckets, ms,
      ms.streamBatch, seqCol)
  }

  /** Stream-maintenance [[upsert]] keyed by the stream's own batch id:
    * batch B applies iff B is greater than the last applied batch id,
    * which is recorded inside the snapshot and committed atomically with
    * the generation it guards. A re-delivered batch is a no-op, so a
    * stale re-delivery cannot overwrite a later edit of the same doc.
    * Because the guard is a watermark rather than version arithmetic,
    * it stays correct when other writers ([[delete]],
    * [[compactGenerations]]) bump the version between stream runs.
    * [[build]] resets the watermark: resuming a stream across a rebuild
    * needs a fresh checkpoint. */
  def upsertBatch(spark: SparkSession, documents: DataFrame, root: String,
      batchId: Long, nBuckets: Int = 32, seqCol: String = ""): Long = {
    val prev = version(spark, root)
    val ms = metaScalarsOf(spark, root, prev)
    if (ms.streamBatch.exists(batchId <= _))
      return prev // replay of an applied batch — converged no-op
    upsertCore(spark, documents, root, prev, prev + 1, nBuckets, ms,
      Some(batchId), seqCol)
  }

  private def upsertCore(spark: SparkSession, rawDocuments: DataFrame,
      root: String, prev: Long, v: Long, nBuckets: Int, ms: MetaScalars,
      streamBatch: Option[Long], seqCol: String = ""): Long = {
    // last-wins collapse: a CDC batch may carry several versions of one
    // doc — the delete+append algebra below assumes one row per id.
    // Snapped: batchIds, the token pass and the docs table all read it
    val documents = Stage.snap(
      CdcBatch.collapse(rawDocuments, "doc_id", seqCol),
      materialize = true)
    val batchIds = Stage.snap(
      documents.select(col("doc_id").cast("long").as("doc_id")).distinct(),
      materialize = true)
    // the batch ids' CURRENT live contribution — empty for brand-new or
    // previously-deleted ids, so the subtraction is exactly the delete()
    // algebra restricted to docs that really are being replaced
    val dead = deadPart(spark, root, prev, ms.gens, batchIds)
    val (postings, bDocs, bDfs, bStats, nPost) = batchParts(documents)
    val mergedDfs = dead.from(addDfs(
      StateCommit.metaTable(spark, root, prev, metaSchema, Dfs), bDfs))
    // ONE driver action for the two 1-row batch-side stat sources (dead,
    // batch) — the committed side came with the folded MetaScalars read
    // (round-13 folded three head() jobs into one; round 17 drops the
    // committed-stats scan from it too)
    val sr = dead.stats.crossJoin(bStats).head()
    def g(n: String): Long = sr.getAs[Long](n)
    val mergedStats = statsRow(spark,
      ms.nDocs + g("n_docs") - g("dn"),
      ms.sumDl + g("sum_dl") - g("ds"),
      ms.nDl + g("n_dl") - g("dndl"))
    // tombstones advance to v for every batch id that needs one: ids
    // with live rows being replaced, and previously-deleted ids whose
    // tombstone must move (not vanish — dropping it would resurrect
    // their dead rows; a tombstone at v keeps gens < v dead and only
    // the new generation live). Brand-new ids add no tombstone.
    val prior = StateCommit.metaTable(spark, root, prev, metaSchema, Tombstones)
    val needTomb = dead.docs.select(Key)
      .unionByName(prior.join(batchIds, Seq(Key), "left_semi").select(Key))
      .distinct()
    val tombs = GenerationalTable.mergeTombstones(prior, needTomb, Key, v)
    writeSnapshot(spark, root, v, postings, bDocs, mergedDfs, mergedStats,
      ms.gens :+ v, nBuckets, tombs, streamBatch, ms.era, nPost)
  }

  /** Fold every live generation's postings into ONE new generation —
    * the maintenance pass a long-running upsert stream needs (each
    * micro-batch adds a generation; a query unions them all, and
    * per-generation file overhead grows without bound). Pure layout:
    * the postings multiset, df table and corpus stats are unchanged,
    * so a search is byte-identical before and after (spec-pinned) —
    * the [[Compact]] content-neutrality contract at the index level.
    * Publication is the usual atomic snapshot; old generations stay on
    * disk for in-flight readers of the previous version. */
  def compactGenerations(spark: SparkSession, root: String,
      nBuckets: Int = 32): Long = {
    val prev = version(spark, root)
    val v = prev + 1
    val ms = metaScalarsOf(spark, root, prev)
    // the LIVE multiset only: tombstoned rows die physically here, and
    // the tombstone table resets to empty — df/stats carry unchanged
    // (deletes corrected them algebraically at delete time)
    val postings = livePostings(spark, root, prev, ms.gens)
    val docs = liveDocs(spark, root, prev, ms.gens)
    val dfs = StateCommit.metaTable(spark, root, prev, metaSchema, Dfs)
    val stats = StateCommit.metaTable(spark, root, prev, metaSchema, Stats)
    // bucket hint: the committed sum_dl upper-bounds live posting rows
    // (tf >= 1 per row), from the folded MetaScalars read — no data pass
    writeSnapshot(spark, root, v, postings, docs, dfs, stats, Seq(v),
      nBuckets, GenerationalTable.emptyTombstones(spark, Key), ms.streamBatch,
      ms.era, rowHint = ms.sumDl, droppedGens = true)
  }

  /** BM25 top-k for a bag of query terms: (doc_id, score_micro, rank).
    * Score is the exact BIGINT sum of per-term micro-scores; rank
    * breaks ties by doc_id. Terms not in the index contribute nothing;
    * an empty term list returns no rows. */
  def search(spark: SparkSession, root: String, terms: Seq[String],
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchAt(spark, root, terms, version(spark, root), k, k1, b)

  /** Time travel: [[search]] as of snapshot `v` — the reproducibility
    * surface: a retrieval run re-executed against yesterday's
    * committed snapshot answers exactly what it answered yesterday,
    * because generations are immutable and every snapshot pins its own
    * manifest/df/stats/tombstones. `v` must be within the retention
    * horizon (fails loudly otherwise — a silent fallback to another
    * version would corrupt any downstream reproduction). */
  def searchAt(spark: SparkSession, root: String, terms: Seq[String],
      v: Long, k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    StateCommit.requireRetained(spark, root, v)
    if (terms.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("score_micro"),
          lit(0).as("rank")).limit(0)
    val stats = StateCommit.metaTable(spark, root, v, metaSchema, Stats)
    val dfs = StateCommit.metaTable(spark, root, v, metaSchema, Dfs)
      .where(col("token").isin(terms: _*))
    // live rows only (tombstone-filtered; the manifest's generation
    // list is metadata-sized — one entry per upsert since the last
    // rebuild). Directory-level pruning first (only the terms' tpfx
    // partitions are opened), then the token IN pushes through the
    // tombstone join to each opened file (both plan-gated).
    val postings = livePostings(spark, root, v,
        metaScalarsOf(spark, root, v).gens,
        prefixes = Some(terms.map(_.take(1)).distinct))
      .where(col("token").isin(terms: _*))
    postings
      .join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id").cast("long").as("doc_id"),
        bm25Micro(k1, b).as("micro"))
      .groupBy("doc_id").agg(sum("micro").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_micro").desc, col("doc_id"))).cast("int"))
  }

  /** The exact BM25 per-posting micro-score over the joined
    * (postings ⋈ dfs ⋈ stats) row shape — ONE edit site for the
    * oracle-parity-critical constants, shared by [[searchAt]] and
    * [[searchManyAt]]. */
  private def bm25Micro(k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val avgdl = col("sum_dl").cast("double") / col("n_dl")
    val score = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)))
    round(score * 1e6, 0).cast("bigint")
  }

  /** Batched BM25 — per-qid top-k for a driver-side (qid → terms) list
    * in ONE job: (qid, doc_id, score_micro, rank). Per-qid semantics
    * are exactly [[search]]'s (spec-pinned): the postings scan is
    * pruned and filtered by the UNION of all queries' terms (tpfx
    * directory pruning + token pushdown, both plan-gated), each
    * posting row fans out to the qids that asked for its token via a
    * broadcast (qid, token) map, and the per-qid ranking is one rank
    * window over (qid). N queries cost one index scan plus one shuffle
    * keyed (qid, doc_id) — not N driver round-trips. `termsByQid` is
    * driver-side by design (query terms originate at the caller), so
    * the prefix pruning list needs no action. */
  def searchMany(spark: SparkSession, root: String,
      termsByQid: Seq[(Long, Seq[String])], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchManyAt(spark, root, termsByQid, version(spark, root), k, k1, b)

  /** Time travel: [[searchMany]] as of snapshot `v`. */
  def searchManyAt(spark: SparkSession, root: String,
      termsByQid: Seq[(Long, Seq[String])], v: Long, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    StateCommit.requireRetained(spark, root, v)
    val s = spark; import s.implicits._
    val qt = termsByQid
      .flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }.distinct
    if (qt.isEmpty)
      return Seq.empty[(Long, Long, Long, Int)]
        .toDF("qid", "doc_id", "score_micro", "rank")
    val allTerms = qt.map(_._2).distinct
    val stats = StateCommit.metaTable(spark, root, v, metaSchema, Stats)
    val dfs = StateCommit.metaTable(spark, root, v, metaSchema, Dfs)
      .where(col("token").isin(allTerms: _*))
    val postings = livePostings(spark, root, v,
        metaScalarsOf(spark, root, v).gens,
        prefixes = Some(allTerms.map(_.take(1)).distinct))
      .where(col("token").isin(allTerms: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score_micro").desc, col("doc_id"))
    postings
      .join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qt.toDF("qid", "token")), Seq("token"))
      .select(col("qid"), col("doc_id").cast("long").as("doc_id"),
        bm25Micro(k1, b).as("micro"))
      .groupBy("qid", "doc_id").agg(sum("micro").as("score_micro"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .orderBy("qid", "rank")
  }

  /** Hybrid retrieval: reciprocal-rank fusion of this index's BM25
    * ranking with a brute-force cosine ranking of `queryVec` over
    * `embeddings` (vec_id ≡ doc_id in this corpus). RRF score per doc
    * = Σ over the lists it appears in of ⌊10⁶ / (60 + rank)⌋ —
    * integer division, so fusion is exact on both engines. The classic
    * robust fusion: no score normalization across incomparable scales,
    * just ranks. */
  def hybrid(spark: SparkSession, root: String, terms: Seq[String],
      embeddings: DataFrame, queryVecId: Long, k: Int = 10,
      poolK: Int = 50): DataFrame = {
    val lex = search(spark, root, terms, poolK)
      .select(col("doc_id"), col("rank").as("rank_lex"))
    val q = embeddings.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"))
    val vec = embeddings.crossJoin(broadcast(q))
      .where(col("vec_id") =!= queryVecId)
      .select(col("vec_id").cast("long").as("doc_id"),
        round(Similarity.cos(embeddings)(col("embedding"), col("qe")), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(poolK)
      .withColumn("rank_vec", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cos").desc, col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("rank_vec"))
    rrfFuse(lex, vec, k)
  }

  /** The exact integer RRF score over a joined (rank_lex, rank_vec)
    * row — `1000000 div (60 + rank)` is the oracle-parity-critical
    * constant, so it gets ONE edit site, shared by the single-pool and
    * per-qid fusers. */
  private def rrfMicro: Column =
    coalesce(expr("1000000 div (60 + rank_lex)"), lit(0L)) +
      coalesce(expr("1000000 div (60 + rank_vec)"), lit(0L))

  /** Exact integer RRF fusion of a (doc_id, rank_lex) and a
    * (doc_id, rank_vec) pool — the single-query form ([[hybrid]]). */
  private def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int): DataFrame =
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
        rrfMicro.as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(k)

  /** Per-qid exact integer RRF fusion of (qid, doc_id, rank_lex) and
    * (qid, doc_id, rank_vec) pools — the batched form ([[hybridAnn]]):
    * the join carries qid, so N queries fuse in ONE
    * job with no driver round-trips, and the per-qid top-k is a rank
    * window over (qid). Pools are ≤ poolK rows per qid by construction,
    * so the window partitions are bounded. */
  private def rrfFusePerQid(lex: DataFrame, vec: DataFrame,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("rrf_micro").desc, col("doc_id"))
    lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"), col("rank_lex"), col("rank_vec"),
        rrfMicro.as("rrf_micro"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
      .orderBy(col("qid"), col("rrf_micro").desc, col("doc_id"))
  }

  /** [[hybrid]] with the VECTOR side served by the persisted
    * [[AnnIndex]] instead of a brute-force corpus scan — the
    * production retrieval stack, both legs build-once/query-many: the
    * lexical pool reads only its terms' posting rows (tpfx directory
    * pruning + token pushdown) and the vector pool reads only the
    * query's probed cells (manifest path pruning), so at 100 TB a
    * hybrid query touches kilobytes of each index and fuses
    * driver-side-free with the same exact integer RRF as [[hybrid]].
    * `nProbes = 1` keeps the vector pool's result contract equal to
    * [[Similarity.ivfKmeansTopK]]'s (the sim_ann_store parity), so the
    * whole fusion stays oracle-exact end to end; raise nProbes for
    * recall once past the oracle. `queries` is (qid, qe) — ANY number
    * of rows since round 15: fusion is PER QID (the RRF join carries
    * qid), so batching N queries is one job, not N driver round-trips,
    * and the round-14 `require(nq == 1)` + its `count()` action are
    * retired (a spec pins multi-query fusion ≡ the per-query loop).
    * Every qid fuses against the SAME `terms` lexical pool. Output:
    * (qid, doc_id, rank_lex, rank_vec, rrf_micro), top-k per qid. */
  def hybridAnn(spark: SparkSession, root: String, terms: Seq[String],
      annRoot: String, queries: DataFrame, k: Int = 10,
      poolK: Int = 50, nProbes: Int = 1): DataFrame = {
    val lex = search(spark, root, terms, poolK)
      .select(col("doc_id"), col("rank").as("rank_lex"))
    // the shared lexical pool (≤ poolK rows) broadcasts and replicates
    // per qid — the qid set never collects to the driver
    val qids = queries.select(col("qid").cast("long").as("qid")).distinct()
    val lexQ = qids.crossJoin(broadcast(lex))
    rrfFusePerQid(lexQ, annPool(spark, annRoot, queries, nProbes, poolK), k)
  }

  /** The ANN leg's (qid, doc_id, rank_vec) pool of [[hybridAnn]]. */
  private def annPool(spark: SparkSession, annRoot: String,
      queries: DataFrame, nProbes: Int, poolK: Int): DataFrame =
    AnnIndex.search(spark, annRoot, queries, nProbes, k = poolK)
      .select(col("qid").cast("long").as("qid"),
        col("cid").cast("long").as("doc_id"),
        col("rn").cast("int").as("rank_vec"))
}
