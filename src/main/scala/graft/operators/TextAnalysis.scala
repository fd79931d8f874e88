package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Functions.sha32

/** Text-analysis operators for a training-data pipeline: language-ID
  * heuristic, quality scoring, token counting, document fingerprinting.
  * All pure column expressions (whole-stage codegen, no UDFs), all
  * reproducible in the DuckDB oracle.
  */
object TextAnalysis {

  private def countChar(text: org.apache.spark.sql.Column, ch: String) =
    length(text) - length(regexp_replace(text, ch, ""))

  /** Character-frequency language-ID heuristic (the synthetic corpus is
    * ASCII, so the heuristic is a deterministic frequency argmax — the
    * char-n-gram-profile slot of a real pipeline). */
  def langId(documents: DataFrame): DataFrame = {
    val t = lower(col("text"))
    val ce = countChar(t, "e")
    val ca = countChar(t, "a")
    val co = countChar(t, "o")
    documents.select(
      col("doc_id"), col("lang"),
      when(ce >= ca && ce >= co, "en")
        .when(ca >= co, "es")
        .otherwise("de").as("lang_pred"))
      .withColumn("hit", when(col("lang") === col("lang_pred"), 1).otherwise(0))
      .orderBy("doc_id")
  }

  // shared scoring expressions — quality(), filterByQuality() and
  // corpusStats() must grade with the SAME metric definition
  private def nTokensCol = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
  private def stopHitsCol =
    (length(col("text")) - length(regexp_replace(col("text"), " the ", ""))) / lit(5)
  // greatest(n, 1) denominators: empty documents exist in real corpora,
  // and under Spark 4 ANSI mode an unguarded x/0 is a JOB-KILLING
  // DIVIDE_BY_ZERO, not a quiet NaN (ReferenceCrossCheckSpec found the
  // dup_frac instance; this is the same hazard). For n_tokens >= 1 the
  // value is unchanged; for empty docs quality degrades to 0.
  private def safeTokens = greatest(nTokensCol, lit(1)).cast("double")
  private def qualityCol =
    least(lit(1.0), nTokensCol / lit(100.0)) *
      (lit(1.0) - stopHitsCol / safeTokens)

  /** Quality scoring: token count, average token length, stopword ratio,
    * a [0,1] composite. */
  def quality(documents: DataFrame): DataFrame = {
    val t = col("text")
    val nonSpace = length(regexp_replace(t, " ", ""))
    documents.select(
      col("doc_id"),
      length(t).as("n_chars"),
      nTokensCol.as("n_tokens"),
      round(nonSpace / safeTokens, 4).as("avg_token_len"),
      round(stopHitsCol / safeTokens, 4).as("stop_ratio"),
      round(qualityCol, 4).as("quality"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens, BPE-ish piece count (letters /
    * digits / single punctuation), and the reference's byte-based
    * approx-token estimate (`includes/class-chunker.php:95-99`). */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe_ish_tokens"),
      ceil(octet_length(col("text")) / lit(4.0)).cast("int").as("approx_tokens"))
      .orderBy("doc_id")

  /** Document fingerprint: sha256 of the normalized text + its 64-bit
    * prefix (the cheap join key for exact dedup at scale). */
  def fingerprint(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    documents.select(
      col("doc_id"),
      sha2(norm, 256).as("fp"),
      substring(sha2(norm, 256), 1, 16).as("fp64"))
      .orderBy("doc_id")
  }

  /** Apply the quality score as a corpus filter — the training-pipeline
    * action form of [[quality]] (same [[qualityCol]] metric): keep
    * documents at or above `threshold`. */
  def filterByQuality(documents: DataFrame, threshold: Double = 0.5): DataFrame =
    quality(documents)
      .where(col("quality") >= threshold)
      .select("doc_id", "quality")
      .orderBy("doc_id")

  /** Unsorted quality keep-ids — [[releasePipeline]]'s stage-snapshot form.
    * Same metric AND the same round-to-4 boundary as [[filterByQuality]]
    * (an unrounded compare would flip docs sitting exactly on the
    * threshold); no global sort, because a sort feeding a checkpoint is
    * pure wasted shuffle. */
  private[operators] def qualityKeepIds(documents: DataFrame,
      threshold: Double): DataFrame =
    documents.select(col("doc_id"), round(qualityCol, 4).as("quality"))
      .where(col("quality") >= threshold)
      .select("doc_id")

  /** PII/link scrubbing — the redaction pass a training-data pipeline runs
    * before tokenization: emails → `<EMAIL>`, URLs → `<URL>`, long digit
    * runs (id/phone-shaped) → `<NUM>`, with per-doc match counts. Pure
    * codegen'd regexp expressions; the synthetic corpus carries no PII, so
    * the query composes a deterministic contact suffix per document to
    * exercise the patterns (the oracle mirrors the composition).
    *
    * Count contract: `n_emails`/`n_urls`/`n_nums` count matches in the
    * RAW text, independently per pattern — NOT placeholders in
    * `scrubbed`, which applies the three replacements sequentially (a
    * digit run inside a URL counts in `n_nums` but is consumed by the
    * `<URL>` replacement, so no `<NUM>` placeholder appears). Raw
    * counts are the PII-exposure signal a curation card wants; don't
    * assert count == placeholder occurrences. */
  def scrub(documents: DataFrame): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val urlRe = "https?://[^\\s]+"
    val numRe = "[0-9]{6,}"
    val t = col("text")
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(t, lit(emailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(urlRe), lit(0))).as("n_urls"),
      size(regexp_extract_all(t, lit(numRe), lit(0))).as("n_nums"),
      regexp_replace(regexp_replace(regexp_replace(t,
        emailRe, "<EMAIL>"), urlRe, "<URL>"), numRe, "<NUM>").as("scrubbed"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split: bucket = sha32 of the document
    * id mod 100 → 90/5/5. Hash-based (not random) so the split is stable
    * across runs, machines and engines — the property a training pipeline
    * needs for reproducible data cards. Map-only; no shuffle. */
  def split(documents: DataFrame): DataFrame = {
    val bucket = pmod(sha32(col("doc_id").cast("string")), lit(100L))
    documents.select(
      col("doc_id"),
      bucket.as("bucket"),
      when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Corpus statistics per language — the reporting aggregation behind a
    * dataset card: document count, token totals/means, mean quality.
    * One map-side-combinable groupBy. */
  def corpusStats(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), nTokensCol.as("t"), qualityCol.as("q"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t").cast("bigint")).as("total_tokens"),
        round(avg(col("t").cast("double")), 4).as("mean_tokens"),
        round(avg(col("q")), 4).as("mean_quality"))
      .orderBy("lang")

  /** Per-language token-count quantiles — the distribution row of a
    * dataset card (median/tail lengths drive chunking and packing
    * choices). EXACT interpolated percentiles (Spark `percentile` ≡
    * DuckDB `quantile_cont`: index (n−1)·p, linear interpolation),
    * rounded to 4 dp before output.
    *
    * Scale posture: exact percentile buffers each group's values — fine
    * for a per-language card (values are one int per doc), wrong for
    * high-cardinality keys at 100 TB, where a t-digest
    * `approx_percentile` (map-side combinable, bounded memory) is the
    * swap. */
  def tokenQuantiles(documents: DataFrame): DataFrame =
    documents.select(col("lang"), nTokensCol.as("t"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(t, 0.5)"), 4).as("p50"),
        round(expr("percentile(t, 0.9)"), 4).as("p90"),
        round(expr("percentile(t, 0.99)"), 4).as("p99"),
        max("t").cast("bigint").as("p100"))
      .orderBy("lang")

  /** Per-language vocabulary cardinality — the lexical-diversity row of
    * a dataset card: token total and EXACT distinct-token count.
    *
    * Scale posture: exact distinct is a two-phase shuffle on (lang,
    * token) — fine for a per-language card, expensive at extreme
    * cardinality, where an HLL++ `approx_count_distinct` (combinable,
    * bounded memory) is the swap. */
  def tokenCardinality(documents: DataFrame): DataFrame =
    documents.select(col("lang"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("token"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_distinct"))
      .orderBy("lang")

  /** Heavy hitters (frequent tokens above an absolute count): one
    * map-side-combinable (token) aggregation + threshold filter.
    * Only (token, n) rows above the threshold survive to the sort. */
  def heavyHitters(documents: DataFrame, minCount: Long = 100): DataFrame =
    documents.select(
      explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .orderBy(col("n").desc, col("token"))

  /** Stratified sampling with per-language fractions — the mixture-
    * rebalancing action form of [[mixPlan]] (`sampleBy` with a
    * DETERMINISTIC hash draw instead of RNG state): each doc draws a
    * stable uniform from its id and survives iff u < rate(lang).
    * Reproducible across runs, machines and engines; map-only. */
  def stratifiedSample(documents: DataFrame, rates: Map[String, Double],
      defaultRate: Double = 1.0): DataFrame = {
    val u = pmod(sha32(concat(lit("strat:"), col("doc_id"))), lit(1000000L)) /
      lit(1000000.0)
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    documents.select(
      col("doc_id"), col("lang"), u.as("u"), rate.as("rate"),
      (u < rate).cast("int").as("sampled"))
      .orderBy("doc_id")
  }

  /** Corpus-release pipeline — the capstone composition a training-data
    * release actually runs: quality filter → exact dedup → near dedup →
    * deterministic [[split]] → data-card counts, from the operators above
    * plus [[Dedup.dropExactDuplicates]]/[[Dedup.nearDupApply]].
    *
    * With `materialize=true` (default) every stage's keep-id list and the
    * final corpus (doc_id, lang) snapshot at a stage boundary via
    * localCheckpoint — a real release pipeline materializes stages, both
    * for lineage bookkeeping and because each downstream branch otherwise
    * re-derives the whole upstream dedup (r3: the lazily-composed form
    * re-ran the LSH pipeline per branch and cost 20 s — 26% of the whole
    * bench). The keep lists are ids only, so the snapshots are narrow; on
    * a cluster these would be reliable-storage checkpoints (the stage
    * parquet a release pipeline keeps anyway). `materialize=false` keeps
    * the round-3 all-lazy form for plan-equivalence testing.
    *
    * Stage passes over the corpus with materialization: quality (1),
    * exact-dedup keep list (1), LSH edges + isolated-vertex set (2),
    * final corpus projection (1) — 5 bounded passes, independent of how
    * many downstream branches consume each stage. */
  def releasePipeline(documents: DataFrame, materialize: Boolean = true,
      threshold: Double = 0.5, rounds: Int = 0): DataFrame = {
    def snap(df: DataFrame): DataFrame = Stage.snap(df, materialize)
    // stage keep-lists snapshot UNSORTED: the public operators' global
    // orderBy (oracle determinism) feeding a checkpoint would physically
    // execute a range-partitioned sort nobody reads — the semi-joins
    // below are order-indifferent
    val keepQ = snap(qualityKeepIds(documents, threshold))
    val d1 = documents.join(keepQ, Seq("doc_id"), "left_semi")
    val keepE = snap(Dedup.exactKeepIds(d1))
    val d2 = d1.join(keepE, Seq("doc_id"), "left_semi")
    // nearDupKeepIds' survivors are already ⊆ d2 ⊆ d1 — its output IS the
    // final corpus id list. materialize propagates so the lazy form is
    // lazy ALL the way down (no hidden checkpoint inside lshComponents).
    val keepN = Dedup.nearDupKeepIds(d2, materialize, rounds)
    val corpus = snap(documents.select("doc_id", "lang")
      .join(keepN, Seq("doc_id"), "left_semi"))
    split(corpus)
      .join(corpus.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("split", "lang")
  }

  /** Release pipeline V2 — the round-6 capstone: the CLASSIFIER-era
    * curation chain (model-scored keep decision instead of heuristic
    * ratios) composed end to end from this round's operators:
    *
    *   classify ([[classifyQuality]] keep=1) → exact dedup → near dedup
    *   → per-source token budget ([[Dedup.tokenBudgetPerSource]])
    *
    * with a per-stage (stage, n_docs, n_tokens) card as output — the
    * shrinkage report a release review reads to see where mass went.
    *
    * Scale posture: the releasePipeline lessons apply unchanged — each
    * stage's keep-id list snapshots UNSORTED at a stage boundary, semi-
    * joins carry ids only, and every stage is itself scale-shaped
    * (map-only classify, sha-keyed exact, bucketed LSH, salted budget
    * windows). The cards are five bounded aggregations. */
  def releasePipelineV2(documents: DataFrame, budgetTokens: Long = 800,
      materialize: Boolean = true): DataFrame = {
    def snap(df: DataFrame): DataFrame = Stage.snap(df, materialize)
    val nTok = size(regexp_extract_all(lower(coalesce(col("text"), lit(""))),
      lit("[a-z]+"), lit(0))).cast("long")
    // tokenize ONCE (round 17): the five stage cards previously each
    // re-tokenized their stage's corpus — five full text scans for one
    // shrinkage report. One narrow (doc_id, n_tok) snapshot serves every
    // card through id-only semi-joins; sums are over the same per-doc
    // counts, so the card is value-identical.
    val toks = snap(documents.select(col("doc_id"), nTok.as("n_tok")))
    def card(stage: String, ids: DataFrame): DataFrame =
      toks.join(ids.select("doc_id"), Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
    val keepC = snap(classifyQuality(documents).where(col("keep") === 1)
      .select("doc_id"))
    val d1 = documents.join(keepC, Seq("doc_id"), "left_semi")
    val keepE = snap(Dedup.exactKeepIds(d1))
    val d2 = d1.join(keepE, Seq("doc_id"), "left_semi")
    val keepN = Dedup.nearDupKeepIds(d2, materialize)
    val d3 = d2.join(keepN, Seq("doc_id"), "left_semi")
    val keepB = snap(Dedup.tokenBudgetPerSource(d3, budgetTokens)
      .select("doc_id"))
    val d4 = d3.join(keepB, Seq("doc_id"), "left_semi")
    card("00_input", toks)
      .unionByName(card("10_classify", d1))
      .unionByName(card("20_exact", d2))
      .unionByName(card("30_near", d3))
      .unionByName(card("40_budget", d4))
      .orderBy("stage")
  }

  /** Quality-weighted deterministic sampling: each document draws a
    * stable uniform u from its id hash and survives iff
    * u < quality × rate — higher-quality documents sample at
    * proportionally higher rates, and the decision is reproducible
    * across runs and engines (no RNG state). Map-only. */
  def qualitySample(documents: DataFrame, rate: Double = 0.5): DataFrame = {
    val q = round(qualityCol, 4)
    val u = pmod(sha32(concat(lit("sample:"), col("doc_id"))), lit(1000000L)) /
      lit(1000000.0)
    documents.select(
      col("doc_id"), q.as("quality"), u.as("u"),
      (u < q * rate).cast("int").as("sampled"))
      .orderBy("doc_id")
  }

  /** Mixture re-weighting plan: per-language corpus share vs a uniform
    * target share, with the capped repeat factor (epochs) that
    * rebalances the mixture — the data-mixing step between curation and
    * packing. Two tiny aggregations; the global totals ride a
    * partition-less window (K languages ≈ a handful of rows). */
  def mixPlan(documents: DataFrame, cap: Double = 4.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    documents.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("total", sum("n_docs").over(w))
      .withColumn("k", count(lit(1)).over(w))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs") / col("total").cast("double"), 6).as("share"),
        round(lit(1.0) / col("k").cast("double"), 6).as("target_share"),
        round(least(lit(cap),
          (lit(1.0) / col("k").cast("double")) /
            (col("n_docs") / col("total").cast("double"))), 4).as("repeat_factor"))
      .orderBy("lang")
  }

  /** Quality-decile tiers — the "quality pyramid" card a curation run
    * reads when choosing a keep cutoff: every doc lands in one of 10
    * equal-population tiers by its structural quality score
    * (deterministic NTILE with doc_id tiebreak), and the card reports
    * per-tier population, score band, and token mass. Reading the
    * tiers from the top answers "how many tokens survive a
    * top-N-deciles policy" without re-running anything.
    *
    * Scale posture: the global NTILE is a single total-order window —
    * acceptable for the card (one narrow (doc_id, quality, tokens) row
    * per doc through one range partitioner); at extreme scale swap in
    * approx-percentile cutpoints and a map-only bucket assign. */
  def qualityTiers(documents: DataFrame, tiers: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality"), col("doc_id"))
    quality(documents)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .withColumn("tier", ntile(tiers).over(w))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_docs"),
        min("quality").as("min_q"), max("quality").as("max_q"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
      .orderBy("tier")
  }

  /** Temperature-based mixture sampling at T = 2 — the multilingual-LM
    * sampling rule (sample language l with p_l ∝ share_l^(1/T)):
    * low-resource languages are upsampled relative to their corpus
    * share without letting the head dominate. [[mixPlan]] is the
    * uniform-target variant; this is the smooth exponent family's
    * canonical point.
    *
    * T = 2 is chosen deliberately: share^(1/2) is a SQRT — IEEE-exact
    * and bit-identical on both engines (an arbitrary pow(x, α) is not
    * correctly rounded and could flip a 6-dp rounding). Each sqrt
    * quantizes to integer micro-units before the normalizing sum, so
    * the denominator is exact integer math — order-independent, the
    * unigram micro-bits contract.
    *
    * Scale posture: one combinable per-lang count; the normalization
    * rides a partition-less window over K ≈ a handful of language
    * rows. */
  def mixTemperature(documents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    documents.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("total", sum("n_docs").over(w))
      .withColumn("sqm",
        round(sqrt(col("n_docs").cast("double")) * 1e6, 0).cast("bigint"))
      .withColumn("sq_sum", sum("sqm").over(w))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs") / col("total").cast("double"), 6).as("share"),
        round(col("sqm") / col("sq_sum").cast("double"), 6).as("temp_share"),
        round((col("sqm") / col("sq_sum").cast("double")) /
          (col("n_docs") / col("total").cast("double")), 4).as("repeat_factor"))
      .orderBy("lang")
  }

  /** Per-document FEATURE MATRIX — the training table for a real
    * quality classifier (the labeled-data step after
    * [[classifyQuality]]'s hashing-trick stand-in): one row per doc
    * joining the structural score ([[quality]]), vocabulary diversity
    * ([[tokenEntropy]]), repetition signals ([[repetitionSignals]]) and
    * LM surprisal ([[unigramSurprisal]]) — the feature set the
    * CCNet/fastText-era curation classifiers actually train on.
    * Scope contract (mirrored by the oracle's inner joins): a doc
    * appears iff it has ≥ 2 whitespace tokens (the repetition signals
    * need a bigram) AND ≥ 1 alphabetic `[a-z]+` token (surprisal is
    * undefined on an empty term vector) — a digits-/punctuation-only
    * doc is deliberately absent from the training table, not scored
    * zero (round-11 review made the second condition explicit).
    *
    * Scale posture: each signal keeps its own scale-shaped plan (one
    * combinable agg or row-local pass); the matrix is three narrow
    * id-keyed equi-joins over per-doc rows — no signal's intermediate
    * re-derives another's, and no raw text crosses a join. */
  def featureMatrix(documents: DataFrame): DataFrame =
    quality(documents).select(col("doc_id"), col("n_tokens"), col("quality"))
      .join(tokenEntropy(documents)
        .select(col("doc_id"), col("ttr_bps"), col("entropy_micro")), Seq("doc_id"))
      .join(repetitionSignals(documents)
        .select(col("doc_id"), col("top_word_ratio"), col("dup_bigram_ratio"),
          col("keep")), Seq("doc_id"))
      .join(unigramSurprisal(documents)
        .select(col("doc_id"), col("micro_bpt")), Seq("doc_id"))
      .orderBy("doc_id")

  /** Compression-ratio quality signal — the zlib heuristic of the
    * RefinedWeb/Gopher filter family: highly compressible text is
    * repetitive or templated (boilerplate, keyword stuffing, generated
    * spam), while natural prose compresses to a fairly stable band.
    * Output per doc: raw UTF-8 bytes, Deflate(level 6) bytes, and
    * ratio_bps = compressed·10000/raw (low = suspiciously repetitive).
    *
    * Spec-verified, not oracle-gated: the Deflate bitstream is
    * engine-specific (same disclosed standing as the t-digest/HLL/
    * Bloom/Misra–Gries sketch siblings), though deterministic for a
    * fixed level — the spec pins reproducibility, the repetitive≪prose
    * ordering, and the empty-doc guard. The EXACT counterpart signals
    * are [[repetitionSignals]] / [[tokenEntropy]] (both oracle-gated).
    *
    * Scale posture: one row-local mapPartitions pass, Deflater reused
    * across the partition (allocation per row is the ~2× output buffer
    * only); zero shuffle. */
  def compressionRatio(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        // release the native buffers when the TASK ends, drained or not —
        // a limit/take stops consuming mid-partition and a drain-time-only
        // end() would leak native memory (end() is idempotent, so the
        // eager drain-time release below can stay as the fast path)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val mapped = it.map { case (id, text) =>
          val raw = (if (text == null) ""
            else text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (raw.isEmpty) (id, 0L, 0L, 0L)
          else {
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            val buf = new Array[Byte](raw.length * 2 + 64)
            var comp = 0L
            while (!deflater.finished())
              comp += deflater.deflate(buf)
            (id, raw.length.toLong, comp, comp * 10000L / raw.length)
          }
        }
        new Iterator[(Long, Long, Long, Long)] {
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h) deflater.end()
            h
          }
          def next(): (Long, Long, Long, Long) = mapped.next()
        }
      }
      .toDF("doc_id", "n_bytes", "n_compressed", "ratio_bps")
      .orderBy("doc_id")
  }

  /** Repetition / diversity signals (the Gopher-rule family a corpus
    * filter runs on top of length heuristics): top-word dominance,
    * type-token ratio, duplicate-bigram fraction, and the resulting
    * keep/drop flag. Token counting is one combinable (doc, token)
    * aggregation; the bigram ratio is row-local array arithmetic. */
  def repetitionSignals(documents: DataFrame, maxTopWord: Double = 0.12,
      minTypeToken: Double = 0.35): DataFrame = {
    val counts = documents
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
    val stats = counts.groupBy("doc_id").agg(
      sum("n").cast("int").as("n_tokens"),
      count(lit(1)).cast("int").as("n_types"),
      max("n").cast("int").as("top_n"))
    val bigrams = documents
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("ts"))
      .where(size(col("ts")) >= 2)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => concat_ws(" ", element_at(col("ts"), i),
            element_at(col("ts"), i + 1))).as("gs"))
      .select(col("doc_id"), size(col("gs")).as("n_bi"),
        size(array_distinct(col("gs"))).as("n_bi_d"))
    val topRatio = round(col("top_n") / col("n_tokens").cast("double"), 4)
    val typeRatio = round(col("n_types") / col("n_tokens").cast("double"), 4)
    stats.join(bigrams, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        topRatio.as("top_word_ratio"),
        typeRatio.as("type_token_ratio"),
        round(lit(1.0) - col("n_bi_d") / col("n_bi").cast("double"), 4)
          .as("dup_bigram_ratio"),
        (topRatio <= maxTopWord && typeRatio >= minTypeToken).cast("int")
          .as("keep"))
      .orderBy("doc_id")
  }

  /** Sequence PACKING plan (concat-then-chunk): assign each document an
    * offset in a per-language token stream and a pack id of `capacity`
    * tokens — the layout step that turns a filtered corpus into fixed-size
    * pretraining sequences. Documents stay whole here (the chunker splits
    * oversized ones upstream); `pack_id = floor(stream_offset / capacity)`.
    *
    * Scale posture: one window partitioned by lang ordered by doc_id — at
    * 100 TB the partition key becomes (lang, shard) so no single ordered
    * partition grows unbounded; the assignment stays embarrassingly
    * parallel across shards. */
  def packPlan(documents: DataFrame, capacity: Int = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    documents
      .select(col("doc_id"), col("lang"), nTokensCol.as("n_tokens"))
      .withColumn("stream_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("stream_offset"),
        floor(col("stream_offset") / capacity).as("pack_id"))
      .orderBy("doc_id")
  }

  /** Per-language packing-efficiency card over [[packPlan]] — bins
    * consumed (max pack id + 1: ids a long document SKIPS still
    * represent allocated stream capacity), token mass, and utilization
    * in basis points (tokens / bins·capacity). The number a packing
    * config is tuned on: low utilization means the capacity or the
    * document ordering wastes context-window space; > 10000 bps is
    * possible only when the tail document overflows its final bin
    * (streaming-concat semantics). One combinable per-lang fold over
    * the plan's narrow rows. */
  def packStats(documents: DataFrame, capacity: Int = 2048): DataFrame =
    packPlan(documents, capacity)
      .groupBy("lang")
      .agg((max("pack_id") + 1).as("n_packs"),
        sum("n_tokens").as("total_tokens"))
      .withColumn("util_bps",
        expr(s"total_tokens * 10000 div (n_packs * $capacity)"))
      .orderBy("lang")

  /** TF-IDF keyword extraction: top-`k` terms per document by
    * `tf · ln(N/df)`, deterministic tie-break on the term — the keyword /
    * topic-signal step of a corpus-analysis pipeline. The score rounds to
    * 6 decimals BEFORE ranking so the ordering is engine-stable.
    *
    * Scale posture: two map-side-combinable aggregations (per-doc tf,
    * per-term df) over narrow (doc_id, token) rows, the corpus count
    * broadcasts as one row, and only (doc_id, token, score) rows reach
    * the per-doc ranking window. The tf⋈df join is a token equi-join —
    * vocab-sized build side, AQE picks broadcast vs sort-merge by stats. */
  def tfidfTopK(documents: DataFrame, k: Int = 3,
      materialize: Boolean = true): DataFrame = {
    // EVERY downstream statistic derives from the ONE tf aggregation
    // (df = rows per token ≡ distinct (doc, token) count), and the tf
    // table snapshots at a stage boundary: its several consumers read
    // the snapshot instead of re-scanning the corpus per statistic
    // (gated by PlanInvariantsSpec) — the releasePipeline lesson
    // applied to the scorer family.
    val tf = Stage.snap(termFreq(documents), materialize)
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = documents.select(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Okapi BM25 keyword extraction: top-`k` terms per document by the
    * BM25 term weight — [[tfidfTopK]]'s saturating, length-normalized
    * upgrade (the default lexical-retrieval score a corpus search or
    * hybrid-RAG index uses). idf = ln(1 + (N − df + ½)/(df + ½)) (the
    * Robertson–Spärck Jones form, always ≥ 0); tf saturates via
    * k1 and the doc-length prior via b. Scores round to 6 dp BEFORE
    * ranking (engine-stable ordering, token tie-break).
    *
    * avgdl convention (round-11 review, made explicit): avgdl averages
    * over TOKEN-BEARING docs only (sum_dl / n_dl, the dl table's row
    * count), while N in the idf counts every doc. A token-less doc can
    * contribute no (doc, token) row to score anyway, so including its
    * zero length in avgdl would only deflate every other doc's length
    * prior; the [[graft.operators.LexIndex]] stats table carries
    * n_docs and n_dl separately for exactly this distinction, and the
    * DuckDB oracle mirrors it.
    *
    * Scale posture: identical to [[tfidfTopK]] — two map-side-combinable
    * aggregations over narrow (doc_id, token) rows plus a per-doc length
    * table; the corpus constants (N, avgdl) broadcast as one row, avgdl
    * is an exact BIGINT token total over a double division (no
    * order-dependent double summation); only (doc_id, token, score) rows
    * reach the ranking window. */
  /** The (doc_id, token, tf) table every scorer below derives from —
    * ONE corpus scan + one combinable shuffle; doc lengths, document
    * frequencies and corpus totals are all exact integer derivations of
    * it (dl = Σ tf per doc, df = rows per token, total = Σ tf), so the
    * shared tf exchange is reused instead of re-scanning the corpus per
    * statistic. */
  private def termFreq(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  def bm25TopK(documents: DataFrame, k: Int = 3, k1: Double = 1.2,
      b: Double = 0.75, materialize: Boolean = true): DataFrame = {
    val tf = Stage.snap(termFreq(documents), materialize)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val consts = documents.select(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(sum("dl").as("sum_dl"), count(lit(1)).as("n_dl")))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val avgdl = col("sum_dl").cast("double") / col("n_dl")
    val score = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("bm25").desc, col("token"))
    tf.join(dfq, Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("token"), round(score, 6).as("bm25"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("bm25"))
      .orderBy("doc_id", "rank")
  }

  /** Unigram-LM surprisal scoring — the perplexity-filter slot of a
    * curation pipeline (the CCNet/KenLM step, with the corpus's own
    * unigram model standing in for the external LM): per token,
    * surprisal = −log2 p(w) with p(w) = corpus count / corpus total;
    * per document, the total and mean surprisal. Unusually-high
    * bits-per-token flags gibberish, unusually-low flags boilerplate.
    *
    * Per-token surprisal rounds to integer MICRO-BITS (×10⁶) before the
    * per-doc sum, so the aggregate is an exact, order-independent BIGINT
    * — the engine's fixed-point aggregate-output contract (q1/st_hourly)
    * applied to a double-valued score; a raw double sum would be
    * partial-aggregation-order dependent across engines.
    *
    * Scale posture: one vocab-keyed count (map-side combinable), the
    * corpus total broadcasts as one row, and the per-doc sum rides
    * narrow (doc_id, micro) rows. */
  def unigramSurprisal(documents: DataFrame,
      materialize: Boolean = true): DataFrame = {
    // per-token micro-bits times tf replaces the per-occurrence rows:
    // Σ_occurrences micro(w) ≡ Σ_tokens tf·micro(w) exactly (integer
    // arithmetic), and everything derives from the one snapshotted tf
    // aggregation
    val tf = Stage.snap(termFreq(documents), materialize)
    val cw = tf.groupBy("token").agg(sum("tf").as("cw"))
    val tot = cw.agg(sum("cw").as("t"))
    tf.join(cw, Seq("token"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"),
        round(log(col("t").cast("double") / col("cw")) / log(lit(2.0)) * 1e6, 0)
          .cast("bigint").as("micro"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"), sum(col("tf") * col("micro")).as("micro_bits"))
      .select(col("doc_id"), col("n_tokens"), col("micro_bits"),
        round(col("micro_bits") / col("n_tokens").cast("double"), 0)
          .cast("bigint").as("micro_bpt"))
      .orderBy("doc_id")
  }

  /** Bigram-LM surprisal — the context-sensitive upgrade of
    * [[unigramSurprisal]]: per bigram (w₋₁, w), surprisal
    * = −log2 p(w | w₋₁) with p = corpus bigram count / left-context
    * count, summed per document over all adjacent token pairs. A
    * document the corpus's own bigram statistics find surprising is
    * word-salad even when its unigram mix looks normal (shuffled text
    * has the same unigram score but a much higher bigram score — the
    * discriminator the spec asserts).
    *
    * Same fixed-point contract as the unigram form: per-bigram
    * micro-bits (×10⁶, rounded to BIGINT) before the per-doc sum, so
    * the aggregate is exact and partial-aggregation-order independent.
    *
    * Scale posture: bigrams are built ROW-LOCALLY from the token array
    * (`transform` over an index sequence — no ordering window, no
    * cross-row state), then reduced to (doc_id, bigram, tf) once; the
    * corpus bigram table snapshots and feeds both the pair count and
    * the left-context marginal, so the explode happens exactly once.
    * Short docs (<2 tokens) take the empty-array branch — `sequence`
    * throws on start > stop (the dd_spans_apply lesson). */
  def bigramSurprisal(documents: DataFrame,
      materialize: Boolean = true): DataFrame = {
    val ts = documents.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("ts"))
    val bgs = ts.select(col("doc_id"),
      explode(when(size(col("ts")) >= 2,
          expr("transform(sequence(0, size(ts)-2), i -> concat(ts[i], ' ', ts[i+1]))"))
        .otherwise(array().cast("array<string>"))).as("bg"))
    val tfbg = Stage.snap(
      bgs.groupBy("doc_id", "bg").agg(count(lit(1)).as("tf")), materialize)
    val cbg = Stage.snap(
      tfbg.groupBy("bg").agg(sum("tf").as("c")), materialize)
    val cl = cbg
      .groupBy(substring_index(col("bg"), " ", 1).as("l"))
      .agg(sum("c").as("cl"))
    val perdoc = tfbg.join(cbg, Seq("bg"))
      .join(cl, substring_index(col("bg"), " ", 1) === cl("l"))
      .select(col("doc_id"), col("tf"),
        round(log(col("cl").cast("double") / col("c")) / log(lit(2.0)) * 1e6, 0)
          .cast("bigint").as("micro"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        sum(col("tf") * col("micro")).as("micro_bits"))
    // docs with <2 tokens carry zero bigrams, not a dropped row
    documents.select(col("doc_id")).join(perdoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("micro_bits"), lit(0L)).as("micro_bits"),
        when(col("n_bigrams") > 0,
          round(col("micro_bits") / col("n_bigrams").cast("double"), 0)
            .cast("bigint")).as("micro_bpb"))
      .orderBy("doc_id")
  }

  /** Perplexity-band filter — the APPLY form of [[unigramSurprisal]]
    * (the CCNet/KenLM curation step): keep documents whose mean
    * surprisal falls inside [lo, hi] micro-bits-per-token. Below the
    * band is boilerplate (the model finds it too predictable); above
    * is gibberish. Survivors carry their score so downstream mixing
    * can stratify on it.
    *
    * Scale posture: the scorer's one vocab-keyed shuffle plus a
    * doc_id equi-join back to the corpus — the corpus text itself
    * never re-shuffles. */
  def lmFilter(documents: DataFrame,
      loMicroBpt: Long, hiMicroBpt: Long,
      materialize: Boolean = true): DataFrame = {
    val kept = unigramSurprisal(documents, materialize)
      .where(col("micro_bpt").between(loMicroBpt, hiMicroBpt))
      .select("doc_id", "micro_bpt")
    documents.join(kept, Seq("doc_id"))
      .select("doc_id", "lang", "source", "micro_bpt")
      .orderBy("doc_id")
  }

  /** Vocabulary head: the `k` most frequent tokens per language with
    * counts and rank — the frequency table a tokenizer-training or
    * stopword-induction step reads. Token explode is row-local; the count
    * is one map-side-combinable groupBy; only (lang, token, n) rows reach
    * the ranking window. */
  def vocabTopK(documents: DataFrame, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("token"))
    documents
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy("lang", "rank")
  }

  /** Winnowed rolling-hash fingerprints (the MOSS scheme): per token
    * window of `w`, a Rabin-Karp positional hash W_i = Σ h_{i+d}·B^{w-1-d}
    * mod 2^32 (B=7 keeps the 64-bit sum overflow-free at h<2^32); then
    * keep the MIN window hash per band of `band` consecutive windows.
    * Near-identical documents share most selected fingerprints, so a
    * groupBy on (fp) finds local near-dups without pairwise comparison.
    *
    * Scale posture: window hashing is row-local (one pass over the token
    * array); the only shuffle carries narrow (doc_id, band, fp) rows.
    */
  def winnow(documents: DataFrame, w: Int = 8, band: Int = 4): DataFrame = {
    // loud bound, not silent wrap (round-11 review): the un-reduced
    // window sum is at most (2^32-1)·(7^w-1)/6, which passes
    // Long.MaxValue at w = 12 — a wrapped sum goes NEGATIVE and Scala's
    // % keeps the sign, so fingerprints would silently diverge from the
    // oracle's positive-mod arithmetic instead of failing
    require(w >= 1 && w <= 11,
      s"winnow window w=$w outside [1, 11]: the 64-bit rolling sum " +
        "overflows at w >= 12 (switch to mod-reduced accumulation " +
        "before raising the bound)")
    // Typed mapPartitions hot loop (round-1 used interpreted higher-order
    // `transform` with 8 element_ats per window — 10 s / 20% of the bench).
    // Here each partition makes ONE pass: sha256 per token (reused digest
    // instance), then a tight rolling-window loop that folds the per-band
    // min in place, so only final (doc_id, band, fp) rows materialize. The
    // hash (first 4 bytes of sha256, big-endian unsigned) and the
    // polynomial mod 2^32 mirror sha32Sql/the oracle bit-for-bit.
    val spark = documents.sparkSession
    import spark.implicits._
    val pows = (0 until w).map(d => math.pow(7, w - 1 - d).toLong).toArray
    val mod = 4294967296L
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val tokenRe = java.util.regex.Pattern.compile("\\S+")
        it.flatMap { case (docId, text) =>
          // Locale.ROOT: executor-default locales (e.g. Turkish dotless-i)
          // must not change token hashes vs Spark's lower()/the oracle.
          // Null text degrades to no fingerprints — the sibling
          // mapPartitions operators' degrade-don't-fail contract
          val safe = if (text == null) "" else text
          val m = tokenRe.matcher(safe.toLowerCase(java.util.Locale.ROOT))
          val hs = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (m.find()) {
            hs += sha32Of(md.digest(
              m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          }
          val n = hs.length
          if (n < w) Iterator.empty
          else {
            // bands arrive in order (window pos is monotone), so a linear
            // buffer of per-band mins suffices — no map lookups.
            val nWindows = n - w + 1
            val nBands = (nWindows + band - 1) / band
            val mins = Array.fill(nBands)(Long.MaxValue)
            var i = 0
            while (i < nWindows) {
              var s = 0L
              var dd = 0
              while (dd < w) { s += hs(i + dd) * pows(dd); dd += 1 }
              val wh = s % mod
              val b = i / band
              if (wh < mins(b)) mins(b) = wh
              i += 1
            }
            (0 until nBands).iterator.map(b => (docId, b.toLong, mins(b)))
          }
        }
      }
      .toDF("doc_id", "band", "fp")
      .orderBy("doc_id", "band")
  }

  /** Deterministic shard assignment — the "write the training corpus as
    * N files" step of a release: shard = sha32("shard:seed:doc_id") mod
    * nShards. Pure map-only column math (no shuffle, no RNG state), so
    * assignment is reproducible across runs/engines and a re-run of a
    * failed shard writes byte-identical content. The seed string versions
    * the layout: bumping it reshuffles every doc deterministically. */
  def shardAssign(documents: DataFrame, nShards: Int = 8,
      seed: String = "v1"): DataFrame =
    documents.select(
      col("doc_id"), col("lang"), col("n_chars"),
      pmod(sha32(concat(lit(s"shard:$seed:"), col("doc_id"))),
        lit(nShards.toLong)).cast("int").as("shard"))

  /** Per-shard balance card over [[shardAssign]] — doc count, char mass
    * and language spread per shard. The check a release runs before
    * shipping: a sha-based assignment should be near-uniform; a skewed
    * card means the shard key is wrong. One combinable aggregation. */
  def shardBalance(documents: DataFrame, nShards: Int = 8,
      seed: String = "v1"): DataFrame =
    shardAssign(documents, nShards, seed)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        countDistinct("lang").as("n_langs"))
      .orderBy("shard")

  /** Hashing-trick linear quality scorer — the model-based filter slot
    * of a curation pipeline (the fastText-style classifier that replaces
    * hand-written heuristics once labels exist): each token hashes into
    * a `dim`-entry weight table, a document scores as the mean token
    * weight, and the keep decision thresholds the mean at 0.
    *
    * The weight table here is a DISCLOSED deterministic stand-in
    * (w[i] = sha32("w:seed:i") mod 2001 − 1000 — there is no trained
    * model in this environment); the Spark-side contract is the real
    * thing: the table lives in the task closure (at real dims it would
    * broadcast), scoring is one row-local pass, and the outputs are
    * exact integers (sum of integer weights; mean as floor-divided
    * MILLI-weights) so the oracle matches bit-for-bit.
    *
    * Scale posture: map-only — no shuffle at any corpus size; the same
    * shape serves a real exported linear model by swapping the table. */
  def classifyQuality(documents: DataFrame, dim: Int = 1024,
      seed: String = "v1"): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val weights = Array.tabulate(dim)(i =>
      (sha32Driver(s"w:$seed:$i") % 2001L - 1000L).toInt)
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val tokenRe = java.util.regex.Pattern.compile("[a-z]+")
        it.map { case (docId, text) =>
          val m = tokenRe.matcher(
            if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT))
          var n = 0L
          var sumW = 0L
          while (m.find()) {
            val h = sha32Of(md.digest(
              m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            sumW += weights((h % dim).toInt)
            n += 1
          }
          // plain Long division: truncates toward zero, same as DuckDB `//`
          val mean = if (n == 0L) None else Some(sumW * 1000L / n)
          (docId, n, sumW, mean, if (mean.exists(_ >= 0L)) 1 else 0)
        }
      }
      .toDF("doc_id", "n_tokens", "sum_w", "mean_w_milli", "keep")
      .orderBy("doc_id")
  }

  /** First 4 bytes of a sha256 digest as big-endian unsigned — the ONE
    * byte fold every executor- and driver-side sha32 shares (round-11
    * review: three inlined copies had to stay bit-identical with
    * Functions.sha32 and the DuckDB oracle with no compile-time
    * signal tying them together). */
  private[operators] def sha32Of(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)

  /** Driver-side sha32 (first 4 bytes of sha256, big-endian) — the same
    * value Functions.sha32 computes as a Column; used to fill
    * deterministic closure tables. */
  private def sha32Driver(s: String): Long =
    sha32Of(java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Per-document token Shannon entropy + type-token ratio — the
    * vocabulary-diversity quality signal ([[qualityScore]]'s structural
    * ratios don't see repetition at the vocab level; `repetitionScore`
    * sees n-gram loops but not low-diversity prose).
    *
    * Output per doc: n_tokens, n_distinct, ttr_bps (type-token ratio in
    * integer basis points) and entropy_micro = Σ_t round((c_t/n)·ln(n/c_t)
    * ·1e6) in integer micro-nats. Each term rounds independently, so the
    * sum is order-independent — the same fixed-point contract as
    * unigramSurprisal's micro-bits, which is what makes a float-free
    * DuckDB mirror possible.
    *
    * Scale posture: ONE typed mapPartitions pass, zero shuffle — tokenize,
    * count into a local map, fold the entropy sum in place. The explode +
    * two-level-agg form would shuffle every (doc_id, token) pair; per-doc
    * state is bounded by the doc's vocab so row-local is strictly better
    * at any corpus size. */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val tokenRe = java.util.regex.Pattern.compile("[a-z]+")
        it.map { case (docId, text) =>
          // Locale.ROOT mirrors Spark lower()/the oracle (see winnow)
          val m = tokenRe.matcher(
            if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT))
          val counts = new java.util.HashMap[String, Long]()
          var n = 0L
          while (m.find()) { counts.merge(m.group(), 1L, _ + _); n += 1 }
          val nd = counts.size.toLong
          var entMicro = 0L
          if (n > 0L) {
            val itc = counts.values().iterator()
            while (itc.hasNext) {
              val c = itc.next().toDouble
              // round half-away-from-zero (DuckDB round); terms are ≥ 0
              entMicro += math.floor((c / n) * math.log(n / c) * 1e6 + 0.5).toLong
            }
          }
          val ttrBps = if (n == 0L) 0L else nd * 10000L / n
          (docId, n, nd, ttrBps, entMicro)
        }
      }
      .toDF("doc_id", "n_tokens", "n_distinct", "ttr_bps", "entropy_micro")
      .orderBy("doc_id")
  }

  /** Winsorization — clamp a per-document statistic to its per-group
    * interpolated [pLo, pHi] percentiles: the outlier-capping step run
    * before length/quality statistics feed mixture weights or scorer
    * normalization, where one megadoc would otherwise drag the mean.
    * Bounds round to 4 dp before clamping (the ta_quantiles
    * engine-parity convention) and ride along per row for audit.
    *
    * Scale posture: the bounds table is |groups| rows (one exact
    * percentile aggregation — swap `percentile` for t-digest
    * `approx_percentile` at 100 TB) and broadcasts; the clamp itself is
    * map-only. */
  def winsorize(documents: DataFrame, group: String = "lang",
      value: String = "n_chars", pLo: Double = 0.05,
      pHi: Double = 0.95): DataFrame = {
    val bounds = documents.groupBy(group)
      .agg(round(expr(s"percentile($value, $pLo)"), 4).as("lo"),
        round(expr(s"percentile($value, $pHi)"), 4).as("hi"))
    documents.join(broadcast(bounds), group)
      .select(col("doc_id"), col(group), col(value),
        col("lo"), col("hi"),
        round(least(greatest(col(value).cast("double"), col("lo")), col("hi")), 4)
          .as("clamped"))
      .orderBy("doc_id")
  }

  /** Hashed-n-gram bag per document: unigrams + bigrams of the lowercase
    * token stream, each sha32-hashed into one of `buckets` feature slots
    * — the DSIR feature map (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling": hashed n-gram counts
    * are rich enough to steer selection toward a target domain while
    * staying a fixed-width, trivially-distributable representation).
    * Gram construction is ROW-LOCAL (array transform, no window); the
    * only shuffle is the (doc_id, bucket) count, map-side combinable. */
  private[operators] def hashedGrams(documents: DataFrame, buckets: Int): DataFrame = {
    // unigrams and bigrams concatenate ROW-LOCALLY before the one explode,
    // so the corpus scans ONCE (a union of two explodes scans it twice —
    // the round-11 ta_dsir plan audit)
    val ts = documents.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("ts"))
    ts.select(col("doc_id"), explode(concat(col("ts"),
        when(size(col("ts")) >= 2,
          expr("transform(sequence(0, size(ts)-2), i -> concat(ts[i], ' ', ts[i+1]))"))
          .otherwise(array().cast("array<string>")))).as("g"))
      .select(col("doc_id"), pmod(sha32(col("g")), lit(buckets.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
  }

  /** The frozen per-bucket model of [[dsirWeights]]: (bucket, micro)
    * add-one-smoothed log-ratios in micro-nats over `buckets` slots.
    * Shared — BY CONSTRUCTION, not by parallel implementation — between
    * the in-query weights and the persisted [[DsirModel]], so
    * fit-then-score over the same corpora is provably identical to the
    * one-shot form. */
  /** Snapshotted per-bucket gram counts — each aggregate is referenced
    * twice downstream (its total + the outer merge), and without the
    * stage boundary each reference re-derives the full gram chain (the
    * round-11 plan audit found the target corpus scanned 4×). */
  private[operators] def dsirBucketAgg(grams: DataFrame, cnt: String,
      materialize: Boolean = true): DataFrame =
    Stage.snap(grams.groupBy("bucket").agg(sum("c").as(cnt)), materialize)

  /** The micro table from pre-aggregated bucket counts — the one edit
    * site for the smoothing arithmetic, shared by the in-query path and
    * [[DsirModel.fit]] (which also persists the totals so unseen-bucket
    * scoring can apply the same smoothed default). */
  private[operators] def dsirMicroFromAggs(rB: DataFrame, tB: DataFrame,
      buckets: Int): DataFrame = {
    // corpus totals BEFORE the outer merge (each side's total counts all
    // of its grams, including buckets the other side never hits); an
    // empty corpus contributes 0, not null — smoothing keeps ln finite
    val tot = tB.agg(coalesce(sum("ct"), lit(0L)).as("nt"))
      .crossJoin(rB.agg(coalesce(sum("cr"), lit(0L)).as("nr")))
    rB.join(tB, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        round((log((col("ct") + 1).cast("double") / (col("nt") + lit(buckets.toLong))) -
               log((col("cr") + 1).cast("double") / (col("nr") + lit(buckets.toLong)))) * 1e6, 0)
          .cast("bigint").as("micro"))
  }

  private[operators] def dsirMicro(rawG: DataFrame, targetG: DataFrame,
      buckets: Int, materialize: Boolean = true): DataFrame =
    dsirMicroFromAggs(dsirBucketAgg(rawG, "cr", materialize),
      dsirBucketAgg(targetG, "ct", materialize), buckets)

  /** Per-doc weight application: every doc's hashed grams score against
    * the broadcast (bucket, micro) model; zero-gram docs surface with
    * weight 0, not a dropped row. Shared by [[dsirWeights]] and
    * [[DsirModel.score]]. */
  private[operators] def dsirApply(docIds: DataFrame, grams: DataFrame,
      micro: DataFrame, defaultMicro: Long = 0L): DataFrame = {
    // LEFT join: a bucket absent from the model table takes the smoothed
    // default (ln((nr+B)/(nt+B)) in micro-nats — the zero-count
    // log-ratio). In the in-query path every gram bucket is in the
    // model by construction (the raw side feeds it), so the default
    // never fires there; it exists for [[DsirModel.score]] on NOVEL
    // docs, whose unseen grams must count and carry the smoothed mass,
    // not silently drop (round-11 review).
    val perDoc = grams.join(broadcast(micro), Seq("bucket"), "left_outer")
      .withColumn("micro", coalesce(col("micro"), lit(defaultMicro)))
      .groupBy("doc_id")
      .agg(sum("c").as("n_grams"),
        sum(col("c") * col("micro")).as("micro_logw"))
    docIds.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("micro_logw"), lit(0L)).as("micro_logw"))
      .orderBy("doc_id")
  }

  /** DSIR importance weights: score every `raw` document by how much
    * more likely its hashed-n-gram bag is under the TARGET corpus's
    * bag-of-buckets model than under the raw corpus's own —
    * log w(x) = Σ_grams [ln p̂_target(bucket) − ln p̂_raw(bucket)], with
    * add-one smoothing over the `buckets` slots so unseen buckets stay
    * finite. High weight = looks like the target domain; the selection
    * step resamples ∝ w. (Xie et al. 2023 — the importance-resampling
    * data-selection method; the hashed bag makes both "models" one
    * `buckets`-row table.)
    *
    * Per-bucket log-ratios round to integer MICRO-NATS (×10⁶, BIGINT)
    * before the per-doc sum — the engine's fixed-point
    * aggregate-output contract (same as [[unigramSurprisal]]), so the
    * per-doc aggregate is exact and partial-aggregation-order
    * independent across engines.
    *
    * Scale posture: one hashed-gram pass over each corpus (map-side
    * combinable counts); the two bucket models and their totals are
    * ≤`buckets` rows — they BROADCAST to the per-doc scoring join, so
    * the corpus-sized side never re-shuffles. Raw docs with zero grams
    * surface with n_grams = 0 and weight 0, not a dropped row. */
  def dsirWeights(raw: DataFrame, target: DataFrame, buckets: Int = 4096,
      materialize: Boolean = true): DataFrame = {
    val rawG = Stage.snap(hashedGrams(raw, buckets), materialize)
    dsirApply(raw, rawG,
      dsirMicro(rawG, hashedGrams(target, buckets), buckets, materialize))
  }

  /** DSIR selection: Gumbel top-k over [[dsirWeights]] — adding an
    * independent Gumbel to each log-weight and taking the k largest
    * samples k documents WITHOUT replacement with probability ∝ w(x)
    * (the Gumbel-top-k trick; the resampling step of Xie et al. 2023).
    * The Gumbel is DERIVED (sha32 of seed:doc_id → uniform in (0,1) →
    * −ln(−ln u)), so the draw is reproducible across engines and runs —
    * a re-run of the selection on the same corpus is byte-identical,
    * which is what makes a 100 TB selection auditable. Noise rounds to
    * micro-nats so the ranking key stays an exact BIGINT.
    *
    * Scale posture: the scorer's shuffles plus one TakeOrdered(k) —
    * no full sort, no window over the corpus. */
  def dsirSelect(raw: DataFrame, target: DataFrame, k: Int = 50,
      buckets: Int = 4096, seed: Int = 7,
      materialize: Boolean = true): DataFrame = {
    val u = (sha32(concat(lit(s"dsir:$seed:"), col("doc_id"))) + lit(0.5)) /
      lit(4294967296.0)
    val scored = dsirWeights(raw, target, buckets, materialize)
      .select(col("doc_id"), col("n_grams"), col("micro_logw"),
        round(-log(-log(u)) * 1e6, 0).cast("bigint").as("micro_gumbel"))
      .withColumn("key", col("micro_logw") + col("micro_gumbel"))
    val top = scored.orderBy(col("key").desc, col("doc_id")).limit(k)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("key").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("n_grams"),
        col("micro_logw"), col("micro_gumbel"))
      .orderBy("rank")
  }
}
