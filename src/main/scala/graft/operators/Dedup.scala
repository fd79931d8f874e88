package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Functions.sha32

/** Deduplication operators for a large-scale training-data pipeline:
  * exact, word-shingle MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale posture (100 TB): every operator is a shuffle on a *derived small
  * key* (content sha, band signature, simhash) — never on raw text.
  * Shingle explosion is bounded per document; the MinHash agg is a
  * map-side-combinable `min`, and LSH candidate pairs are produced by a
  * self-join on (band, signature), whose per-bucket fan-out is what LSH is
  * designed to keep small. Hashes are sha256-derived so the DuckDB oracle
  * can reproduce them bit-for-bit.
  */
object Dedup {

  /** Lowercase + collapse whitespace — the canonical text for hashing. */
  private def norm(c: org.apache.spark.sql.Column) =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Exact dedup: group by sha256 of normalized text, keep min doc_id. */
  def exact(documents: DataFrame): DataFrame =
    exactUnsorted(documents).orderBy("h")

  private def exactUnsorted(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), sha2(norm(col("text")), 256).as("h"))
      .groupBy("h")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .select("keep_id", "h", "n")

  /** Per-source duplication dashboard — the crawl-health rollup a
    * curation run reads before deciding refresh weights: per source,
    * document count, distinct normalized-sha count, and the duplicate
    * rate in integer BASIS POINTS (the BIGINT fixed-point output
    * contract; integer division matches DuckDB's `//`).
    *
    * Scale posture: one combinable (source, sha) reduction; the
    * distinct count is the standard two-phase shuffle, keyed on a
    * 64-hex sha — raw text never leaves the scan stage. */
  def dupStatsBySource(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), sha2(norm(col("text")), 256).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct("h").as("n_unique"))
      .withColumn("dup_bps", expr("(n_docs - n_unique) * 10000 div n_docs"))
      .orderBy("source")

  /** Per-source quota cap — "at most N documents per source", the
    * domain-cap staple of web-crawl curation (one domain must not
    * dominate the mixture). Selection is a deterministic hash lottery:
    * rank within source by (sha32("cap:doc_id"), doc_id) and keep rank
    * ≤ N, so the kept set is a reproducible uniform sample of each
    * source, not a crawl-order prefix.
    *
    * Scale posture: the naive form is ONE window over `source` — and a
    * mega-source (half the crawl from one domain) makes that window's
    * partition the straggler. So phase 1 pre-prunes under (source, salt):
    * any row in the global per-source top-N is also in its salt
    * subgroup's top-N, so keeping ≤ N per (source, salt) is lossless,
    * and the phase-2 window sees at most N·salts rows per source —
    * bounded regardless of source skew (the two-phase salted
    * aggregation shape). Only (doc_id, source, pri) rows shuffle; text
    * never leaves the scan. */
  def capPerSource(documents: DataFrame, maxPerSource: Int = 20,
      salts: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val pri = sha32(concat(lit("cap:"), col("doc_id")))
    val pre = documents
      .select(col("doc_id"), col("source"), pri.as("pri"),
        pmod(col("doc_id"), lit(salts.toLong)).as("salt"))
      .withColumn("rk1", row_number().over(
        w.partitionBy("source", "salt").orderBy(col("pri"), col("doc_id"))))
      .where(col("rk1") <= maxPerSource)
      .drop("rk1", "salt")
    pre
      .withColumn("rk", row_number().over(
        w.partitionBy("source").orderBy(col("pri"), col("doc_id"))))
      .where(col("rk") <= maxPerSource)
      .select("doc_id", "source", "rk")
      .orderBy("source", "rk")
  }

  /** Per-source TOKEN budget sampling — [[capPerSource]]'s release-time
    * sibling with the quota in tokens, not documents ("ship at most B
    * tokens per source"): docs accumulate in deterministic hash-lottery
    * order and survive while the running total stays within budget. A
    * source whose next doc would overflow stops there (no partial docs).
    *
    * Scale posture: the same two-phase salted shape as the doc cap, but
    * the safe pre-prune condition is on the PRIOR salt-local sum, not
    * the inclusive one. Why it is lossless: a doc whose salt-local
    * predecessors already exceed B has global predecessors exceeding B
    * too, so it — and everything globally after it — is truth-dropped
    * (1); hence no dropped doc precedes a truth-kept doc, and phase 2's
    * prefix sums are EXACT for every kept doc (2); and any survivor
    * after a dropped doc still sees that salt's > B kept tokens ahead of
    * it in phase 2, so it cannot be falsely kept (3). (Dropping on the
    * inclusive sum instead would erase the dropped doc's tokens from
    * phase 2's accounting and let a later doc sneak under budget.) Only
    * (doc_id, source, n_tok, pri) rows shuffle. */
  def tokenBudgetPerSource(documents: DataFrame, budgetTokens: Long = 2000,
      salts: Int = 16, seed: String = "v1"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val pri = sha32(concat(lit(s"budget:$seed:"), col("doc_id")))
    // coalesce before tokenizing: a NULL text is a zero-token doc, not a
    // silently vanished row (size(NULL) would null the whole prefix sum)
    val base = documents.select(col("doc_id"), col("source"),
      size(regexp_extract_all(lower(coalesce(col("text"), lit(""))),
        lit("[a-z]+"), lit(0))).cast("long").as("n_tok"),
      pri.as("pri"), pmod(col("doc_id"), lit(salts.toLong)).as("salt"))
    val pre = base
      .withColumn("cum1", sum("n_tok").over(
        w.partitionBy("source", "salt").orderBy(col("pri"), col("doc_id"))
          .rowsBetween(w.unboundedPreceding, w.currentRow)))
      .where(col("cum1") - col("n_tok") <= budgetTokens)
      .drop("cum1", "salt")
    pre
      .withColumn("cum_tok", sum("n_tok").over(
        w.partitionBy("source").orderBy(col("pri"), col("doc_id"))
          .rowsBetween(w.unboundedPreceding, w.currentRow)))
      .where(col("cum_tok") <= budgetTokens)
      .select("doc_id", "source", "n_tok", "cum_tok")
      .orderBy("source", "cum_tok", "doc_id")
  }

  /** Unsorted exact-dedup keep-ids — the stage-snapshot form for
    * releasePipeline (no global sort before a checkpoint). */
  private[operators] def exactKeepIds(documents: DataFrame): DataFrame =
    exactUnsorted(documents).select(col("keep_id").as("doc_id"))

  /** Word 3-gram shingles per document, duplicates included (no shuffle). */
  private def shinglesRaw(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("ts"))
      .where(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("ts")) - 2),
          i => concat_ws(" ",
            element_at(col("ts"), i),
            element_at(col("ts"), i + 1),
            element_at(col("ts"), i + 2)))).as("g"))

  /** h_j(g) = (a_j·sha32(g) + b_j) mod 2^32 with a_j odd — bijective and
    * non-monotone per j, so ONE sha256 per shingle feeds all k hash
    * functions (16 sha256/shingle was the dedup suite's hot loop).
    * a_j·h ≤ 33·2^32 ≈ 2^37 — no 64-bit overflow. */
  private def uhash(h: org.apache.spark.sql.Column, j: Int) =
    pmod(h * lit(2L * j + 1) + lit(1000003L * j), lit(4294967296L))

  /** Wide MinHash signature: one row per doc, k columns `mh0..mh{k-1}`.
    * One shuffle (map-side-combinable mins) — the per-(doc,j) explode
    * variant would push k× the rows through that shuffle. */
  def minhashWide(documents: DataFrame, k: Int = 16): DataFrame =
    // shinglesRaw, not shingles: `min` is duplicate-insensitive, so the
    // distinct's full-text shuffle would buy nothing.
    wideFromHashes(
      shinglesRaw(documents).select(col("doc_id"), sha32(col("g")).as("h")), k)

  /** [[minhashWide]] from an already-hashed (doc_id, h) shingle stream —
    * lets a caller that ALSO needs the hash sets (exact-Jaccard
    * verification) derive the signatures from one shared snapshot
    * instead of re-running the shingle pipeline. */
  private def wideFromHashes(hs: DataFrame, k: Int): DataFrame =
    hs.groupBy("doc_id")
      .agg(
        min(uhash(col("h"), 0)).as("mh0"),
        (1 until k).map(j => min(uhash(col("h"), j)).as(s"mh$j")): _*)

  /** MinHash signatures in long form (doc_id, j, mh) — unpivot of
    * [[minhashWide]]; the cheap reshape happens after the aggregation. */
  def minhash(documents: DataFrame, k: Int = 16): DataFrame =
    minhashWide(documents, k)
      .select(col("doc_id"), explode(array((0 until k).map(j =>
        struct(lit(j).as("j"), col(s"mh$j").as("mh"))): _*)).as("x"))
      .select(col("doc_id"), col("x.j").as("j"), col("x.mh").as("mh"))

  /** LSH band signatures from the wide form: bands of r adjacent rows,
    * signature = sha256 of the comma-joined minhashes in j-order. Computed
    * row-wise — no second shuffle. Returns (doc_id, band, sig). */
  def lshBands(documents: DataFrame, k: Int = 16, r: Int = 4): DataFrame =
    bandsFromWide(minhashWide(documents, k), k, r)

  private[operators] def bandsFromWide(wide: DataFrame, k: Int, r: Int): DataFrame = {
    val bands = (0 until k / r).map { b =>
      struct(lit(b.toLong).as("band"),
        sha2(concat_ws(",",
          (b * r until (b + 1) * r).map(j => col(s"mh$j").cast("string")): _*),
          256).as("sig"))
    }
    wide.select(col("doc_id"), explode(array(bands: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.sig").as("sig"))
  }

  private def pairsFromBands(bands: DataFrame): DataFrame = {
    val a = bands.select(col("doc_id").as("d1"), col("band"), col("sig"))
    val b = bands.select(col("doc_id").as("d2"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Candidate near-dup pairs: documents sharing any LSH band bucket. */
  def minhashLshPairs(documents: DataFrame, k: Int = 16, r: Int = 4): DataFrame =
    pairsFromBands(lshBands(documents, k, r)).orderBy("d1", "d2")

  /** Cross-split near-dup LEAKAGE audit — eval hygiene for a
    * train/val/test release: an eval document with a near-duplicate in
    * train is a contaminated eval point (the model has effectively seen
    * it), so for each val/test doc that shares an LSH near-dup pair
    * with a train doc, report how many train near-dups it has. The
    * output is the drop-list an eval-set release applies before
    * shipping — the split-level counterpart of [[decontaminate]]
    * (which audits against an EXTERNAL benchmark; this audits the
    * corpus's own split boundary).
    *
    * `splits` is the (doc_id, split) assignment — pass
    * `TextAnalysis.split(documents)` for the standard hash split, or
    * any custom assignment.
    *
    * Scale posture: candidates come from the bucketed LSH band join
    * (never all-pairs); the split table is two narrow id-keyed joins
    * onto the pair list; the count is one combinable agg. Raw text
    * never shuffles past the minhash scan stage. */
  def splitLeakage(documents: DataFrame, splits: DataFrame,
      k: Int = 16, r: Int = 4): DataFrame = {
    val pairs = minhashLshPairs(documents, k, r)
    val s = splits.select(col("doc_id"), col("split"))
    // both directions: the eval doc may sit on either side of d1 < d2
    val e = pairs.select(col("d1").as("eval_id"), col("d2").as("other_id"))
      .unionByName(pairs.select(col("d2").as("eval_id"), col("d1").as("other_id")))
    e.join(s.select(col("doc_id").as("eval_id"), col("split")), Seq("eval_id"))
      .join(s.select(col("doc_id").as("other_id"),
        col("split").as("other_split")), Seq("other_id"))
      .where(col("split").isin("val", "test") && col("other_split") === "train")
      .groupBy("eval_id", "split")
      .agg(countDistinct("other_id").as("n_train_dups"))
      .select(col("eval_id").as("doc_id"), col("split"), col("n_train_dups"))
      .orderBy("doc_id")
  }

  /** [[splitLeakage]]'s APPLY form — the cleaned release: every train
    * doc plus the eval docs with NO train near-dup, i.e. the corpus
    * after dropping the contaminated eval points the audit flagged.
    * One id-only anti-join onto the corpus; same narrow-join discipline
    * as the other apply operators. */
  def splitLeakageApply(documents: DataFrame, splits: DataFrame,
      k: Int = 16, r: Int = 4): DataFrame = {
    val leaks = splitLeakage(documents, splits, k, r).select("doc_id")
    documents.join(splits.select(col("doc_id"), col("split")), Seq("doc_id"))
      .join(leaks, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("split"),
        length(col("text")).cast("bigint").as("text_len"))
      .orderBy("doc_id")
  }

  /** Lexical-vs-semantic dedup DISAGREEMENT card — the "what does
    * embedding dedup add over MinHash" question a curation review asks
    * before paying for embeddings: near-dup pairs flagged by the text
    * LSH chain, by the embedding-cosine chain (vec_id ≡ doc_id in the
    * testdata), or by both. A large `semantic_only` count is the
    * paraphrase mass lexical dedup can't see; a large `text_only`
    * count is boilerplate whose embeddings diverge.
    *
    * Scale posture: both pair generators are the proven bucketed
    * chains (MinHash band join / adaptive cell-local candidates — never
    * all-pairs, both linear in corpus size); the overlap is one
    * full-outer id-pair join + one 3-row count. */
  def dedupMethodOverlap(documents: DataFrame, embeddings: DataFrame,
      cosThreshold: Double = 0.35): DataFrame = {
    val text = minhashLshPairs(documents)
      .select(col("d1"), col("d2"), lit(1).as("t"))
    // unsorted pair form: the pairs feed a join, where an interior
    // global sort is pure waste (the r12 clustering lesson)
    val sem = Similarity.cosineNearDupCellsParts(embeddings, 32, 2,
        cosThreshold, materialize = true)._2
      .select(col("d1"), col("d2"), lit(1).as("s"))
    text.join(sem, Seq("d1", "d2"), "full_outer")
      .select(when(col("t").isNotNull && col("s").isNotNull, "both")
        .when(col("t").isNotNull, "text_only")
        .otherwise("semantic_only").as("method"))
      .groupBy("method").agg(count(lit(1)).as("n_pairs"))
      .orderBy("method")
  }

  /** SimHash (width is a parameter): per bit b, sum (2·bit−1) over
    * distinct tokens' sha32, sign → bit; simhash = Σ bit_b · 2^b.
    * Wide form: one `sum` column per bit in a single groupBy — no
    * bits× row explode through the shuffle (same trick as
    * [[minhashWide]]). Bit b of h via floor-division (floor, not cast:
    * DuckDB CAST double→BIGINT rounds while Spark truncates — floor
    * agrees in both). */
  def simhash(documents: DataFrame, bits: Int = 16): DataFrame = {
    // ±1 per bit via integer shift/mask — h is a sha32 long in [0, 2^32),
    // so (h >> b) & 1 ≡ the oracle's floor(h / 2^b) % 2, without the
    // per-row double pow/floor (32 of these run per token row at bits=32)
    def bitScore(b: Int) =
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b")
    documents
      .select(col("doc_id"),
        explode(array_distinct(
          regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)))).as("w"))
      .select(col("doc_id"), sha32(col("w")).as("h"))
      .groupBy("doc_id")
      .agg(bitScore(0), (1 until bits).map(bitScore): _*)
      .select(col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"s$b") >= 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, via the
    * standard block scheme: split the width into maxHamming+1 blocks —
    * any pair within distance k agrees exactly on ≥1 block (pigeonhole),
    * so candidates come from an equi-join on (block_idx, block_value)
    * and only candidates pay the bit_count(xor) check.
    *
    * Scale posture: shuffle carries (doc_id, simhash) only; no pairwise
    * scan of the corpus. 32-bit width (vs the 16-bit oracle-display
    * variant) keeps 8-bit blocks → 256-way buckets, so per-bucket
    * fan-out stays small even on a homogeneous corpus. */
  def simhashPairs(documents: DataFrame, bits: Int = 32,
      maxHamming: Int = 3): DataFrame = {
    val nBlocks = maxHamming + 1
    val blockBits = bits / nBlocks
    val sh = simhash(documents, bits)
    val blocks = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBlocks).map(b =>
        struct(lit(b).as("blk"),
          pmod(shiftright(col("simhash"), b * blockBits), lit(1 << blockBits))
            .as("v"))): _*)).as("x"))
      .select(col("doc_id"), col("simhash"),
        col("x.blk").as("blk"), col("x.v").as("v"))
    val a = blocks.select(col("blk"), col("v"),
      col("doc_id").as("d1"), col("simhash").as("s1"))
    val b = blocks.select(col("blk"), col("v"),
      col("doc_id").as("d2"), col("simhash").as("s2"))
    a.join(b, Seq("blk", "v"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }

  /** Apply exact dedup: keep one document per normalized-content hash
    * (min doc_id wins) — the "use the result" form of [[exact]]: a
    * left-semi join of the corpus against the keep list. */
  def dropExactDuplicates(documents: DataFrame): DataFrame = {
    val keep = exact(documents).select(col("keep_id").as("doc_id"))
    documents.join(keep, Seq("doc_id"), "left_semi")
      .select("doc_id").orderBy("doc_id")
  }

  /** Benchmark DECONTAMINATION: fraction of each document's distinct
    * 3-gram shingles that appear in a benchmark set's shingles — the
    * standard eval-leakage check a training pipeline runs before release.
    * Shingles hash to sha32 (one sha256 each, as [[minhashWide]]); the
    * benchmark's distinct hash set is tiny (eval suites are small), so
    * the probe join broadcasts and the corpus side never shuffles; the
    * per-doc fraction is one map-side-combinable aggregation.
    * Returns (doc_id, n_shingles, n_hit, overlap, contaminated). */
  def decontaminate(documents: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    // hash BEFORE distinct: the dedupe shuffle then carries (doc_id, long)
    // rows, never raw shingle text (the oracle mirrors distinct-on-hash,
    // so 2^32-collision behavior stays identical on both sides)
    def hashed(df: DataFrame) = shinglesRaw(df)
      .select(col("doc_id"), sha32(col("g")).as("h")).distinct()
    val bench = hashed(benchmark).select("h").distinct()
    hashed(documents)
      .join(broadcast(bench.withColumn("hit", lit(1))), Seq("h"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        round(col("n_hit") / col("n_shingles"), 4).as("overlap"))
      .withColumn("contaminated", (col("overlap") >= threshold).cast("int"))
      .orderBy("doc_id")
  }

  /** Bloom-sketch DECONTAMINATION — [[decontaminate]]'s 100 TB fallback
    * for when the benchmark shingle set is too large to broadcast
    * exactly (a full eval-suite union at modern scale): the benchmark
    * side folds into a Bloom filter (built with Spark's combinable
    * sketch aggregation — ~`−n·ln(fpp)/ln²2` bits regardless of shingle
    * text size), the filter broadcasts, and the corpus side probes it
    * map-only. Bloom guarantees NO false negatives, so contamination is
    * never under-reported; overlap inflates by at most ~fpp on
    * non-matching shingles (spec-bounded against the exact form).
    * Same output shape as [[decontaminate]]; not oracle-gated (the
    * sketch's bit layout is engine-specific). */
  def decontaminateBloom(documents: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.5, fpp: Double = 0.01): DataFrame = {
    def hashed(df: DataFrame) = shinglesRaw(df)
      .select(col("doc_id"), sha32(col("g")).as("h")).distinct()
    // snapshot before the two actions (count + sketch build): without a
    // stage boundary each re-runs the whole shingle pipeline — on the
    // operator whose premise is a LARGE benchmark side
    val bench = Stage.snap(hashed(benchmark).select("h").distinct(),
      materialize = true)
    val bf = bench.stat.bloomFilter("h", math.max(1L, bench.count()), fpp)
    val bfB = documents.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bfB.value.mightContainLong(h))
    val out = hashed(documents)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(mightContain(col("h")), 1L).otherwise(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        round(col("n_hit") / col("n_shingles"), 4).as("overlap"))
      .withColumn("contaminated", (col("overlap") >= threshold).cast("int"))
      .orderBy("doc_id")
    // snapshot the (narrow) verdict rows, then RELEASE the broadcast:
    // the filter pins ~-n*ln(fpp)/ln^2(2) bits on the driver and every
    // executor for the session's lifetime otherwise — a leak for a
    // long-lived session that decontaminates repeated batches
    val snapped = Stage.snap(out, materialize = true)
    bfB.destroy()
    snapped
  }

  /** Near-dup CLUSTERS from the LSH candidate pairs: min-label
    * propagation over the (undirected) pair graph until a FIXPOINT —
    * every doc adopts the smallest doc_id in its connected component,
    * so LSH "buckets of pairs" become usable keep-one-per-cluster
    * groups (the step a real dedup pipeline runs between candidate
    * generation and the corpus filter).
    *
    * `rounds <= 0` (the default) iterates until a round changes no
    * label — exact connected components at ANY chain depth. The
    * round-9 scale flag: a fixed round count under-deduped silently
    * whenever a duplicate CHAIN (boilerplate families, template drift)
    * was deeper than the cap — a label-propagation round reaches one
    * hop further, so depth-`d` chains need `d` rounds and corpus-scale
    * chains have no a-priori bound. The fixpoint test is one cheap
    * narrow count per round over the pair-graph VERTEX set (already
    * materialized at the round's stage boundary), and the loop is
    * bounded by the cluster diameter — `log`-ish in practice, capped at
    * [[Dedup.MaxPropagationRounds]] as a pathological-graph backstop.
    * An explicit positive `rounds` keeps the old bounded-unroll form
    * (equivalence on shallow graphs is spec-pinned; the DuckDB oracle
    * mirrors the fixpoint with a recursive-CTE transitive closure).
    *
    * Scale posture: each round is one narrow (edge ⋈ label) shuffle keyed
    * on doc_id — the standard iterative-dataflow shape for connected
    * components; no driver-side graph. */
  def lshComponents(documents: DataFrame, k: Int = 16, r: Int = 4,
      rounds: Int = 0, materialize: Boolean = true,
      maxRounds: Int = MaxPropagationRounds): DataFrame =
    lshComponentsUnsorted(documents, k, r, rounds, materialize, maxRounds)
      .orderBy("doc_id")

  /** Cluster-size histogram over the near-dup components — the "how much
    * mass does dedup remove, and in what clumps" card a curation review
    * reads: for each cluster size, how many clusters and how many docs.
    * A long tail of size-2 clusters means boilerplate noise; a few giant
    * clusters mean template spam worth a source-level fix.
    *
    * Scale posture: rides the shared (snapshotted) components chain, then
    * two combinable count aggregations over (cluster) and (size) — both
    * keyed on small integers, nothing wide shuffles. */
  def clusterSizeHistogram(documents: DataFrame): DataFrame =
    lshComponentsUnsorted(documents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")

  /** Backstop for the fixpoint loop — forwarded to
    * [[Propagation.DefaultMaxRounds]] (the shared propagation core);
    * kept here as the historical name lshComponents callers use. */
  private[operators] val MaxPropagationRounds = Propagation.DefaultMaxRounds

  private[operators] def lshComponentsUnsorted(documents: DataFrame,
      k: Int = 16, r: Int = 4, rounds: Int = 0,
      materialize: Boolean = true,
      maxRounds: Int = MaxPropagationRounds): DataFrame = {
    // Materialize the candidate PAIRS once: every propagation round
    // joins against the edges, the final isolated-doc anti-join reads
    // their vertex set — without a stage boundary the shingle→minhash→
    // LSH pipeline re-runs per reference (r3: dd_components spent ~4 s
    // mostly re-deriving it). Snapping the pairs BEFORE the symmetric
    // union (r13, the semdedup lesson): the union consumes its input
    // once per branch, so snapping the union instead ran the whole
    // minhash chain twice inside the snapshot job. The pair set is the
    // near-dup subgraph only — tiny relative to the corpus — so the
    // snapshot is cheap. localCheckpoint (not persist) deliberately: it
    // cuts lineage eagerly and bypasses the CacheManager, so repeated
    // builds never alias each other's cache; a multi-executor pipeline
    // would checkpoint to reliable storage.
    val pairs = Stage.snap(
      minhashLshPairs(documents, k, r).select("d1", "d2"), materialize)
    val edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(pairs.select(col("d2").as("a"), col("d1").as("b")))
    // Propagate over the pair-graph VERTEX set only — at corpus scale the
    // docs that matched any LSH band are a small fraction, so the join
    // rounds run on the near-dup subgraph, not the whole corpus. Isolated
    // docs keep label = doc_id and rejoin at the end (same result, the
    // rounds just skip rows that could never change).
    //
    // Physical strategy by measured size (the cells-engine discipline,
    // extended to the lexical engine in round 14): a pair set at or
    // under the union-find bound resolves in ONE single-task job; past
    // the bound, BAND-LOCAL contraction first — each pair re-joins the
    // (band, sig) buckets that generated it (one fresh lshBands pass,
    // paid only in the past-bound regime), one bounded union-find per
    // bucket collapses dense near-clique structure in one shuffle, and
    // the global fixpoint runs only on the condensed bridge graph
    // ([[Propagation.contractThenClose]], the SemDeDup two-phase shape).
    // Bounded-unroll (`rounds` > 0) and all-lazy forms keep the plain
    // loop — they exist to mirror the oracle's unrolled SQL shape.
    val core =
      if (rounds > 0 || !materialize)
        Propagation.minLabel(edges, "doc_id", rounds, materialize, maxRounds)
      else {
        val bound = Propagation.localEdgeBound(pairs)
        if (bound > 0 && pairs.count() <= bound)
          Stage.snap(Propagation.unionFindLocal(
            pairs.select(col("d1").as("a"), col("d2").as("b")), "doc_id"),
            materialize)
        else {
          val buckets = lshBands(documents, k, r)
            .select(col("doc_id"),
              xxhash64(col("band"), col("sig")).as("gkey"))
          // grouping by the bucket HASH is exact: any partition of the
          // pair list into groups is (a hash collision just merges two
          // bucket-local union-finds — still a union-find over a pair
          // subset), and every pair shares >= 1 bucket by construction
          val grouped = pairs
            .join(buckets.select(col("doc_id").as("d1"), col("gkey")),
              Seq("d1"))
            .join(buckets.select(col("doc_id").as("d2"), col("gkey")),
              Seq("d2", "gkey"))
            .select("gkey", "d1", "d2")
          Propagation.contractThenClose(grouped, "doc_id", materialize,
            maxRounds)
        }
      }
    val labels = core
      .unionByName(
        documents.select(col("doc_id"), col("doc_id").as("label"))
          .join(edges.select(col("a").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti"))
    labels.select(col("doc_id"), col("label").as("cluster"))
  }

  /** Incremental (cross-snapshot) dedup — the PRODUCTION dedup shape: an
    * INCOMING batch classifies against an EXISTING corpus without the
    * corpus ever comparing to itself:
    *   exact_dup  normalized-content sha already in the corpus
    *   near_dup   any MinHash band signature already in the corpus
    *   new        neither
    *
    * Scale posture: the corpus reduces to DISTINCT (sha) and (band, sig)
    * key sets BEFORE the joins — at 100 TB those keys are materialized
    * once per snapshot and every incoming crawl batch joins against them
    * (two narrow left-semi joins keyed on hashes; raw text never
    * shuffles). The incoming side pays one minhash pipeline over the
    * batch only. */
  def incrementalDedup(incoming: DataFrame, corpus: DataFrame,
      k: Int = 16, r: Int = 4): DataFrame =
    incrementalDedupAgainstKeys(incoming,
      contentShas(corpus).select("h").distinct(),
      lshBands(corpus, k, r).select("band", "sig").distinct(), k, r)

  /** The (doc_id, sha256-of-normalized-text) projection — the exact-dup
    * key a dedup state stores per document. */
  def contentShas(df: DataFrame): DataFrame =
    df.select(col("doc_id"), sha2(norm(col("text")), 256).as("h"))

  /** [[incrementalDedup]] against PRE-REDUCED corpus key sets — the form
    * a long-lived ingestion service runs, where the corpus exists only
    * as its maintained sha / band-signature state (see
    * [[graft.streaming.StreamingCuration]]), never as raw documents.
    * `corpusSha` is a (h) set; `corpusSigs` a (band, sig) set. */
  def incrementalDedupAgainstKeys(incoming: DataFrame, corpusSha: DataFrame,
      corpusSigs: DataFrame, k: Int = 16, r: Int = 4): DataFrame = {
    val exactIds = contentShas(incoming)
      .join(corpusSha, Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val nearIds = lshBands(incoming, k, r)
      .join(corpusSigs, Seq("band", "sig"), "left_semi")
      .select("doc_id").distinct()
    incoming.select("doc_id")
      .join(exactIds.withColumn("is_exact", lit(1)), Seq("doc_id"), "left_outer")
      .join(nearIds.withColumn("is_near", lit(1)), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("is_exact") === 1, "exact_dup")
          .when(col("is_near") === 1, "near_dup")
          .otherwise("new").as("status"))
      .orderBy("doc_id")
  }

  /** Near-dedup APPLY — the corpus filter a dedup pipeline actually
    * ships: LSH components → keep each cluster's canonical (minimum)
    * doc_id, drop the rest ([[dropExactDuplicates]]'s near-dup analog; the
    * canonical-min rule is the standard deterministic survivor policy).
    * Map-only on top of the components' narrow doc_id shuffles — the
    * filter is `doc_id == cluster`, no extra join against the corpus
    * needed because every doc carries its own label. */
  def nearDupApply(documents: DataFrame, materialize: Boolean = true,
      rounds: Int = 0): DataFrame =
    nearDupKeepIds(documents, materialize, rounds).orderBy("doc_id")

  /** Unsorted near-dedup keep-ids — the stage-snapshot form for
    * releasePipeline (no global sort before a checkpoint). `rounds`
    * forwards to the propagation loop: 0 = fixpoint (production);
    * positive = bounded unroll, the form a lazy plan dump wants (a
    * fixpoint cannot be built without executing convergence actions). */
  private[operators] def nearDupKeepIds(documents: DataFrame,
      materialize: Boolean = true, rounds: Int = 0): DataFrame =
    lshComponentsUnsorted(documents, rounds = rounds,
        materialize = materialize)
      .where(col("doc_id") === col("cluster"))
      .select(col("doc_id"))

  /** Source-priority near-dedup survivor policy — what real curation
    * uses instead of keep-min-id: within each near-dup cluster keep the
    * member from the highest-priority SOURCE (curated feed beats crawl
    * copy), breaking ties on doc_id. `rank` maps source → priority
    * (lower wins; unlisted sources take `defaultRank`).
    *
    * Scale posture: [[lshComponents]]' shuffles plus one narrow
    * (doc_id, source) join and a per-cluster rank window — cluster
    * sizes are bounded by near-dup diameter, so the window partitions
    * stay small. */
  def nearDupApplyByPriority(documents: DataFrame, rank: Map[String, Int],
      defaultRank: Int = 100, materialize: Boolean = true): DataFrame = {
    val prio = rank.foldLeft(lit(defaultRank)) { case (acc, (s, r)) =>
      when(col("source") === s, lit(r)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("prio"), col("doc_id"))
    lshComponentsUnsorted(documents, materialize = materialize)
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("prio", prio)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("cluster"), col("source"))
      .orderBy("doc_id")
  }

  /** Duplicate n-gram SPAN detection — substring-level exact dedup (the
    * "dedup at the span level, not the document level" operator of
    * training-data curation, after Lee et al.'s suffix-array dedup): a
    * token `l`-gram is duplicated when it occurs in ≥2 distinct
    * documents; each document's duplicated gram positions merge into
    * maximal covering spans (gaps-and-islands over [i, i+l−1]
    * intervals), yielding span count, covered-token total and the
    * duplicated-token fraction — the inputs to a span-cut or
    * doc-drop policy.
    *
    * Scale posture: grams hash to sha32 in the scan stage (raw gram text
    * never shuffles); the duplicate-gram set is one (hash, doc) distinct
    * + one combinable count keyed on the hash; span merging is a per-doc
    * window over narrow (doc_id, position) rows — the same
    * one-key-shuffle shape as the rest of the dedup family. A
    * suffix-array build (arbitrary-length longest repeats) trades this
    * bounded shuffle for a global sort; fixed-`l` grams are the
    * standard large-scale approximation. */
  /** Shared span-detection pipeline for [[duplicateSpans]],
    * [[duplicateSpansApply]] and [[suffixArraySpans]]: tokenized docs,
    * the snapshotted hashed gram table, duplicated gram positions, and
    * the merged maximal islands (doc_id, island, s, e). One shared
    * definition so a hardening fix in one consumer cannot silently miss
    * the others. */
  private def spanIslands(documents: DataFrame, l: Int,
      materialize: Boolean): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
    val base = documents.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("ts"))
    // snapshot the hashed gram table ONCE: both the duplicate-hash set
    // and the position join read it, and without a stage boundary the
    // tokenize→explode→sha pipeline runs twice (the lshComponents lesson)
    val grams = Stage.snap(
      base.where(size(col("ts")) >= l)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), size(col("ts")) - (l - 1)),
            i => concat_ws(" ",
              (0 until l).map(d => element_at(col("ts"), i + d)): _*))))
        .select(col("doc_id"), (col("pos") + 1).as("i"), sha32(col("col")).as("h")),
      materialize)
    val dupH = grams.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("h")
    val dup = grams.join(dupH, Seq("h"), "left_semi").select("doc_id", "i")
    val wPrev = w.partitionBy("doc_id").orderBy("i")
      .rowsBetween(w.unboundedPreceding, -1)
    val wRun = w.partitionBy("doc_id").orderBy("i")
      .rowsBetween(w.unboundedPreceding, 0)
    val islands = dup
      .withColumn("prev_end", max(col("i") + (l - 1)).over(wPrev))
      .withColumn("new_island",
        (col("prev_end").isNull || col("i") > col("prev_end")).cast("int"))
      .withColumn("island", sum("new_island").over(wRun))
      .groupBy("doc_id", "island")
      .agg(min("i").as("s"), max(col("i") + (l - 1)).as("e"))
    (base, grams, dup, islands)
  }

  def duplicateSpans(documents: DataFrame, l: Int = 8,
      materialize: Boolean = true): DataFrame = {
    val (base, _, dup, islands) = spanIslands(documents, l, materialize)
    val perDoc = islands.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("covered_tokens"))
    val dupCount = dup.groupBy("doc_id").agg(count(lit(1)).as("n_dup_grams"))
    base.select(col("doc_id"), size(col("ts")).cast("bigint").as("n_tokens"))
      .withColumn("n_grams", greatest(col("n_tokens") - (l - 1), lit(0L)))
      .join(dupCount, Seq("doc_id"), "left_outer")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        // empty documents exist in real corpora: under ANSI mode the
        // unguarded covered/0 is a JOB-KILLING DIVIDE_BY_ZERO, not a
        // quiet NaN (found by ReferenceCrossCheckSpec's generator)
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(coalesce(col("covered_tokens"), lit(0L)) /
            col("n_tokens").cast("double"), 4)).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Duplicate-span APPLY — the action form of [[duplicateSpans]]: cut
    * every duplicated token span out of each document and return the
    * cleaned text (span-level dedup keeps the unique remainder of a
    * document instead of dropping it whole — the Lee-et-al. policy).
    * The FIRST occurrence is not preserved here (both sides of a
    * duplicated gram are cut): for training-corpus boilerplate — headers,
    * licenses, navigation — removing every copy is the standard policy.
    *
    * Scale posture: [[duplicateSpans]]'s shuffles plus one
    * collect_list of (s, e) interval structs per doc (bounded by spans
    * per doc, not tokens) and a row-local array rebuild of the kept
    * tokens. */
  def duplicateSpansApply(documents: DataFrame, l: Int = 8,
      materialize: Boolean = true): DataFrame = {
    val (base, _, _, islands) = spanIslands(documents, l, materialize)
    val spans = islands.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    val covered = flatten(transform(col("spans"),
      sp => sequence(sp.getField("s"), sp.getField("e"))))
    // zero-token guard: sequence(1, 0) yields [1, 0] (Spark steps -1
    // when start > stop) and element_at(ts, 0) then THROWS — an empty
    // document must produce an empty kept-list, not kill the job
    // (review finding; the dup_frac sibling had the same hazard)
    val positions = when(size(col("ts")) > 0,
      sequence(lit(1), size(col("ts")))).otherwise(array().cast("array<int>"))
    // array_except (hash-set membership, left order preserved) instead of
    // a per-position array_contains scan: the latter is
    // O(n_tokens x covered_tokens) per document — quadratic on large
    // heavily-duplicated docs. positions are distinct, so except ==
    // filter here
    val kept = array_except(positions, col("covered"))
    base.join(spans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("ts"),
        coalesce(covered, array().cast("array<int>")).as("covered"))
      .select(col("doc_id"),
        size(col("ts")).cast("bigint").as("n_tokens"),
        size(col("covered")).cast("bigint").as("n_cut_tokens"),
        array_join(transform(kept, i => element_at(col("ts"), i)), " ")
          .as("cut_text"))
      .orderBy("doc_id")
  }

  /** ARBITRARY-LENGTH duplicate spans on the worst offenders — the
    * suffix-array exact pass of Lee et al.'s ExactSubstr dedup, run as a
    * refinement stage over the sample [[duplicateSpans]] flags rather
    * than over the whole corpus. Fixed-`l` grams are the standard
    * corpus-scale approximation (they quantize span boundaries to gram
    * granularity and see only cross-document repeats); this pass gives
    * the sampled documents EXACT maximal extents for every repeat of
    * length ≥ `minLen`, including within-document repeats and
    * overlapping occurrences — the full ExactSubstr semantics.
    *
    * Output: one row per maximal duplicated token span, (doc_id, s, e,
    * span_len), 1-based inclusive token positions.
    *
    * Scale posture: candidate RANKING rides the distributed
    * [[spanIslands]] chain (dup_frac over the same snapshotted gram
    * table); the exact pass runs on a BOUNDED sample — the `topK` worst
    * offenders PLUS up to `maxPartners` docs sharing a duplicated gram
    * with one (the copies that define the offenders' exact extents: an
    * offender whose duplicate lives outside the sample would otherwise
    * show no repeat). Sample token streams reduce to sha32 longs
    * row-locally before the single repartition, so raw text still never
    * crosses a shuffle and the one-task suffix sort is O(sample), not
    * O(corpus). Sharding the sample (one suffix array per near-dup
    * cluster) is the same code at larger caps. Determinism: per-doc
    * unique negative sentinels separate documents (token hashes are
    * 32-bit nonnegative), so all suffixes are distinct, no repeat
    * crosses a document boundary, and the suffix order is total; the
    * naive suffix sort is O(n·log n·lcp) — fine for a bounded sample,
    * and the place a full-corpus build would swap in DC3/doubling. */
  def suffixArraySpans(documents: DataFrame, l: Int = 8, topK: Int = 20,
      minLen: Int = 8, maxPartners: Int = 100,
      materialize: Boolean = true): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (base, grams, _, islands) = spanIslands(documents, l, materialize)
    val ranked = islands.groupBy("doc_id")
      .agg(sum(col("e") - col("s") + 1).as("covered"))
      .join(base.select(col("doc_id"), size(col("ts")).as("nt")), Seq("doc_id"))
      .select(col("doc_id"), when(col("nt") === 0, lit(0.0))
        .otherwise(col("covered") / col("nt").cast("double")).as("frac"))
    val offenders = ranked
      .orderBy(col("frac").desc, col("doc_id"))
      .limit(topK)
      .select("doc_id")
    // partner expansion: any doc sharing a gram with an offender (the
    // shared gram is duplicated by definition when the docs differ)
    val offenderHashes = grams.join(broadcast(offenders), Seq("doc_id"))
      .select("h").distinct()
    val partners = grams.join(broadcast(offenderHashes), Seq("h"))
      .select("doc_id").distinct()
      .join(broadcast(offenders), Seq("doc_id"), "left_anti")
      .join(ranked, Seq("doc_id"))
      .orderBy(col("frac").desc, col("doc_id"))
      .limit(maxPartners)
      .select("doc_id")
    val sample = documents
      .join(broadcast(offenders.union(partners)), Seq("doc_id"))
      .select(col("doc_id").cast("long"),
        transform(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)),
          t => sha32(t)).as("hs"))
      .as[(Long, Array[Long])]
    sample.repartition(1).mapPartitions { it =>
      val docs = it.toArray.sortBy(_._1)
      if (docs.isEmpty) Iterator.empty
      else {
        // concatenated hash stream with a unique negative sentinel after
        // each document (hashes are in [0, 2^32) — sentinels can't match)
        val n = docs.map(_._2.length).sum + docs.length
        val arr = new Array[Long](n)
        val docStart = new Array[Int](docs.length)
        var off = 0
        docs.zipWithIndex.foreach { case ((_, hs), k) =>
          docStart(k) = off
          System.arraycopy(hs, 0, arr, off, hs.length)
          off += hs.length
          arr(off) = -(k + 1).toLong
          off += 1
        }
        // suffix array (naive sort — bounded sample) + Kasai LCP
        def less(i0: Int, j0: Int): Boolean = {
          var i = i0; var j = j0
          while (i < n && j < n) {
            if (arr(i) != arr(j)) return arr(i) < arr(j)
            i += 1; j += 1
          }
          i == n
        }
        val sa = Array.range(0, n).sortWith(less)
        val rank = new Array[Int](n)
        var r = 0
        while (r < n) { rank(sa(r)) = r; r += 1 }
        val lcp = new Array[Int](n) // lcp(r) = LCP(sa(r), sa(r+1))
        var h = 0
        var p = 0
        while (p < n) {
          val rp = rank(p)
          if (rp + 1 < n) {
            val q = sa(rp + 1)
            while (p + h < n && q + h < n && arr(p + h) == arr(q + h)) h += 1
            lcp(rp) = h
            if (h > 0) h -= 1
          } else h = 0
          p += 1
        }
        // rep(p) = longest repeated prefix at p = max LCP with either
        // suffix-order neighbor; covered = union of [p, p+rep-1] for
        // rep >= minLen. Qualifying intervals never contain a sentinel
        // (a repeat would need the unique sentinel twice), and interval
        // merging can't bridge one (the sentinel position itself never
        // qualifies), so each merged island lies within one document.
        def rep(p: Int): Int = {
          val rp = rank(p)
          math.max(lcp(rp), if (rp > 0) lcp(rp - 1) else 0)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Int)]
        var s = -1; var e = -2
        def flush(): Unit = if (s >= 0) {
          var k = java.util.Arrays.binarySearch(docStart, s)
          if (k < 0) k = -k - 2
          val ls = s - docStart(k) + 1
          val le = e - docStart(k) + 1
          out += ((docs(k)._1, ls, le, le - ls + 1))
        }
        p = 0
        while (p < n) {
          val rp = rep(p)
          if (rp >= minLen) {
            val pe = p + rp - 1
            if (s < 0) { s = p; e = pe }
            else if (p <= e + 1) e = math.max(e, pe)
            else { flush(); s = p; e = pe }
          }
          p += 1
        }
        flush()
        out.iterator
      }
    }.toDF("doc_id", "s", "e", "span_len")
      .orderBy("doc_id", "s")
  }

  /** n-gram (token) Jaccard between consecutive doc ids — the
    * oracle-checkable pairwise variant (the scalable path is MinHash+LSH).
    *
    * Round-1 version joined token-level rows on the RAW token string —
    * a full-text shuffle and the bench's single worst query (11 s / 22%).
    * Now: tokens hash to sha32 longs row-locally, one groupBy collects the
    * per-doc distinct-hash set, and the pair join carries ONE narrow
    * long-array row per document keyed on doc_id. Raw text never crosses a
    * shuffle; the intersection is a row-local `array_intersect`. The oracle
    * mirrors the hash (as dd_minhash does), so the negligible 2^32
    * collision behavior is identical on both sides. */
  def jaccardConsecutive(documents: DataFrame): DataFrame = {
    val sets = documents
      .select(col("doc_id"),
        explode(array_distinct(
          regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)))).as("w"))
      .select(col("doc_id"), sha32(col("w")).as("h"))
      .groupBy("doc_id")
      .agg(collect_set(col("h")).as("hs"))
    val a = sets.select(col("doc_id").as("d1"), col("hs").as("h1"))
    val b = sets.select((col("doc_id") - 1).as("d1"),
      col("doc_id").as("d2"), col("hs").as("h2"))
    a.join(b, Seq("d1"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("h1"), col("h2"))).as("common"),
        size(col("h1")).as("n1"), size(col("h2")).as("n2"))
      .select(col("d1"), col("d2"),
        round(col("common") / (col("n1") + col("n2") - col("common")), 4)
          .as("jaccard"))
      .orderBy("d1")
  }

  /** Exact n-gram Jaccard VERIFICATION of the LSH candidate pairs —
    * the stage a production near-dup pipeline runs between candidate
    * generation and the dedup decision when the MinHash ESTIMATE is
    * not certain enough (k=16 signatures estimate J with σ ≈ 0.125;
    * a borderline takedown / legal-compliance dedup wants the true
    * overlap). Each LSH candidate pair (and ONLY candidates — never
    * all-pairs) gets its exact shingle-set Jaccard |A∩B| / |A∪B| and
    * an `is_dup` verdict at `threshold`. Returns
    * (d1, d2, inter, n1, n2, jaccard, is_dup).
    *
    * Scale posture: ONE shingle→sha32 pass feeds both the signature
    * chain (candidates) and the verification sets — the per-doc
    * DISTINCT 32-bit hash set is snapshotted and reused, so raw text
    * never crosses a shuffle and the shingle pipeline never re-runs
    * (the lshComponents lesson). The intersection is two narrow
    * id-keyed joins on (doc, h) rows RESTRICTED to candidate docs
    * (left-semi prune first), grouped per pair — work is bounded by
    * |candidates| × shingles-per-doc, not corpus². */
  def jaccardVerifiedPairs(documents: DataFrame, k: Int = 16, r: Int = 4,
      threshold: Double = 0.5, materialize: Boolean = true): DataFrame = {
    val sets = Stage.snap(
      shinglesRaw(documents)
        .select(col("doc_id"), sha32(col("g")).as("h")).distinct(),
      materialize)
    val pairs = Stage.snap(
      pairsFromBands(bandsFromWide(wideFromHashes(sets, k), k, r)),
      materialize)
    // only candidate docs' hash rows enter the intersection joins
    val candDocs = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id"))).distinct()
    val candSets = sets.join(candDocs, Seq("doc_id"), "left_semi")
    val sizes = candSets.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(candSets.select(col("doc_id").as("d1"), col("h")), Seq("d1"))
      .join(candSets.select(col("doc_id").as("d2"), col("h")), Seq("d2", "h"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    val i = coalesce(col("inter"), lit(0L))
    pairs
      .join(inter, Seq("d1", "d2"), "left_outer")
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"), i.as("inter"), col("n1"), col("n2"),
        round(i.cast("double") / (col("n1") + col("n2") - i), 6).as("jaccard"))
      .withColumn("is_dup", (col("jaccard") >= threshold).cast("int"))
      .orderBy("d1", "d2")
  }
}
