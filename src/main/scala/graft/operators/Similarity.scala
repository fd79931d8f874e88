package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Approximate-nearest-neighbor operators over an embedding column.
  *
  * Scale posture (100 TB): brute-force top-k is the correctness baseline —
  * a broadcast of the (small) query set against a full scan of the
  * candidate side, no shuffle of the candidates, ranking via
  * `TakeOrderedAndProject` per query key. The scale path is sign-LSH
  * bucketing: candidates shuffle once on an 8-bit bucket key, and queries
  * only probe their own bucket — the classic IVF/LSH trade (recall vs.
  * fan-out) with the bucket width as the knob.
  */
object Similarity {

  /** Native codegen'd cosine (graft.expressions.CosineSimilarity) — the
    * hot-loop primitive of every operator below. */
  private[operators] def cos(df: DataFrame)(a: Column, b: Column): Column = {
    GraftFunctions.ensureRegistered(df.sparkSession)
    GraftFunctions.cosineSim(a, b)
  }

  /** The `n` smallest-id rows of a one-row-per-vec_id frame — the query
    * head set every *TopK operator probes with. RANK-based
    * (orderBy + limit, a TakeOrdered, no full shuffle), not
    * `vec_id < n`: a filtered/non-contiguous id space must still yield
    * a full head set (the seedCents rationale, applied to probes —
    * round-11 review: value-based selection silently returned an EMPTY
    * result on a corpus whose smallest id exceeds n). On a contiguous
    * 0-based corpus the two selections are identical, which keeps the
    * DuckDB oracles' arithmetic mirrors exact. */
  private def queryHeads(unique: DataFrame, n: Int): DataFrame =
    unique.orderBy("vec_id").limit(n)

  /** Brute-force cosine top-k: for each query vector (the nQueries
    * smallest ids), the k nearest candidates by cosine. Ranking uses
    * the 6-dp-rounded cosine with vec_id tiebreak so results are
    * deterministic and oracle-reproducible. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val q = queryHeads(embeddings, nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = embeddings
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val scored = q.hint("broadcast").crossJoin(c)
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(cos(embeddings)(col("qe"), col("ce")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("qid", "cid", "cos", "rn")
      .orderBy("qid", "rn")
  }

  /** Hard-negative mining — the contrastive-training data step
    * (retrieval/embedding fine-tuning wants negatives that are SIMILAR
    * but wrong): for each query vector, the k most-cosine-similar
    * candidates whose label DIFFERS from the query's. Same determinism
    * contract as [[bruteForceTopK]] (6-dp-rounded cosine, vec_id
    * tiebreak).
    *
    * Scale posture: the query side broadcasts (nQueries rows); the
    * label-inequality predicate filters the broadcast join's stream
    * side before ranking, and the per-query top-k is one rank window
    * over qid. At billion-candidate scale the same output contract is
    * served by swapping the scored source for [[pqTopK]]/[[ivfPqTopK]]
    * candidates — the ranking tail is unchanged. */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val q = queryHeads(embeddings, nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"))
    val c = embeddings
      .select(col("vec_id").as("cid"), col("label").as("clabel"),
        col("embedding").as("ce"))
    val scored = q.hint("broadcast").crossJoin(c)
      .where(col("qlabel") =!= col("clabel"))
      .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
        round(cos(embeddings)(col("qe"), col("ce")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("qid", "qlabel", "cid", "clabel", "cos", "rn")
      .orderBy("qid", "rn")
  }

  /** Incremental SEMANTIC dedup — the online-ingestion shape of
    * [[semanticDedupCells]] (the embedding counterpart of
    * [[graft.operators.Dedup.incrementalDedup]]): for each INCOMING
    * vector, is there an EXISTING-corpus vector within the cosine
    * near-dup threshold? Candidates are drawn from the SAME
    * corpus-adaptive two-level quantizer the batch path
    * ([[cosineNearDupCells]]) trains: the quantizer trains ONCE on the
    * corpus (seeds, super ranking, one Lloyd round —
    * [[trainCellQuantizer]]),
    * the corpus assigns to its `probes` best cells, and each INCOMING
    * vector routes through the same super→child search to its own
    * `probes` cells; candidates are cell-mates only. Output per incoming
    * vector: (vec_id, n_candidates, max_cos, is_dup); zero-candidate
    * vectors surface with n=0 and a NULL max_cos — honest abstention,
    * same stance as [[knnClassify]].
    *
    * Scale posture — the round-13 verdict's one named scale-killer,
    * closed: banded candidates grow as ≈ n/32 PER INCOMING VECTOR at
    * corpus size n (3×10⁷ scored pairs per document at a 10⁹ corpus);
    * cell-local candidates are ≈ probes²·cellTarget ≈ 128 per vector,
    * CORPUS-SIZE-INDEPENDENT, because cells ∝ n (measured flat at 10×
    * data in SCALE.md §Round-14 while the banded form grows ~10×).
    *
    * This form still TRAINS the quantizer per call — the right shape
    * for a one-shot query (and the driver gate's oracle mirrors it),
    * but a real ingest loop must not pay O(corpus) Lloyd + assign per
    * batch. The shipped ingest path is the persisted [[SemDedupIndex]]
    * (round 15): train once at build, store quantizer + corpus cell
    * assignments under the StateCommit snapshot discipline, and each
    * batch pays assign-incoming + probe stored cell-mates only
    * (spec-pinned row-identical to this operator on a fresh index). */
  def semanticDedupIncrementalCells(incoming: DataFrame, corpus: DataFrame,
      cellTarget: Int = 32, probes: Int = 2, threshold: Double = 0.35,
      materialize: Boolean = true): DataFrame = {
    val (q, corVsup) = trainCellQuantizer(corpus, cellTarget, materialize)
    // corpus assignment snaps: it is the reusable "index" side — at
    // ingest scale this is the persisted posting table, not per-batch work
    val corAssign = Stage.snap(
      assignWithQuantizer(corpus, corVsup, q, probes)
        .select(col("vec_id").as("cid"), col("cell")),
      materialize)
    // the incoming super ranking stays LAZY (round 17): one consumer
    // (the assignment below) — the eager snap was a pure extra job
    val incAssign = assignWithQuantizer(incoming,
      topSupers(incoming, q.supers, materialize = false), q, probes)
    // vec_id =!= cid: an at-least-once replay puts the batch's own rows
    // in the corpus snapshot — without the exclusion each replayed
    // vector self-matches at cos 1.0 and flags itself duplicate.
    // DISTINCT: a pair sharing both probed cells must score once.
    val cands = incAssign.join(corAssign, Seq("cell"))
      .where(col("vec_id") =!= col("cid"))
      .select("vec_id", "cid").distinct()
    val scored = cands
      .join(incoming.select(col("vec_id"), col("embedding").as("ie")),
        Seq("vec_id"))
      .join(corpus.select(col("vec_id").as("cid"), col("embedding").as("ce")),
        Seq("cid"))
      .select(col("vec_id"),
        round(cos(incoming)(col("ie"), col("ce")), 6).as("cos"))
    incoming.select(col("vec_id"))
      .join(scored, Seq("vec_id"), "left_outer")
      .groupBy("vec_id")
      .agg(count(col("cos")).as("n_candidates"), max(col("cos")).as("max_cos"))
      .withColumn("is_dup",
        coalesce((col("max_cos") >= threshold).cast("int"), lit(0)))
      .orderBy("vec_id")
  }

  /** kNN label-agreement audit over [[knnGraph]] — the confident-
    * learning-style label-noise check (complementary to
    * [[centroidOutliers]]' parametric prototype test): each vector's
    * predicted label is the majority vote of its k bucket-mate
    * neighbors (ties break to the smallest label), and `agree` flags
    * whether the vote matches the stored label. Low-agreement vectors
    * are the relabel/review queue. Vectors alone in their bucket have
    * no neighbors and emit no row — honest abstention, not a guess.
    *
    * Scale posture: rides the bucketed graph; votes are one combinable
    * (src, label) count; the argmax is a rank window over ≤ k rows per
    * vector; label joins carry (id, int) rows only. */
  def knnClassify(embeddings: DataFrame, bits: Int = 8, k: Int = 3): DataFrame = {
    val lbl = embeddings.select(col("vec_id"), col("label"))
    val votes = knnGraph(embeddings, bits, k)
      .join(lbl.select(col("vec_id").as("dst"), col("label").as("nlabel")),
        Seq("dst"))
      .groupBy("src", "nlabel").agg(count(lit(1)).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("v").desc, col("nlabel"))
    votes.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("src").as("vec_id"), col("nlabel").as("pred"))
      .join(lbl, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("pred"),
        (col("pred") === col("label")).cast("int").as("agree"))
      .orderBy("vec_id")
  }

  /** Sign-LSH bucket of the first `bits` embedding coordinates
    * (coordinate-hyperplane LSH). */
  def lshBucket(e: org.apache.spark.sql.Column, bits: Int = 8): org.apache.spark.sql.Column =
    concat((1 to bits).map(i =>
      when(element_at(e, i) >= 0f, "1").otherwise("0")): _*)

  /** OR-amplified sign-LSH signatures: `bands` strings of `bandBits`
    * sign bits each ('j:bbbb' — the band index prefixes the bits so
    * bands can't cross-collide in a flat join key). Two vectors are
    * CANDIDATES when any band matches: recall 1 − (1 − p^bandBits)^bands
    * vs the single-bucket p^bits — the same banding the lexical MinHash
    * LSH uses, applied to the sign hash. A band whose coordinates run
    * past the embedding's length yields NULL (equi-joins never match
    * NULL, so out-of-range bands contribute no candidates instead of
    * throwing everything into one '0000' mega-bucket — and DuckDB's
    * out-of-range list index mirrors this exactly: NULL || _ = NULL). */
  private[operators] def bandSigs(e: org.apache.spark.sql.Column,
      bands: Int, bandBits: Int): org.apache.spark.sql.Column =
    array((0 until bands).map { j =>
      concat(lit(s"$j:") +: (1 to bandBits).map { i =>
        val x = try_element_at(e, lit(j * bandBits + i))
        when(x >= 0f, "1").when(x < 0f, "0")
      }: _*)
    }: _*)

  /** Bucket histogram — the partition-shape diagnostic for the LSH path. */
  def lshBuckets(embeddings: DataFrame, bits: Int = 8): DataFrame =
    embeddings
      .select(lshBucket(col("embedding"), bits).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Embedding-level benchmark decontamination — the SEMANTIC form of
    * [[graft.operators.Dedup.decontaminate]] (which matches shingle
    * text): flag every TRAIN vector whose 6-dp-rounded cosine to ANY
    * benchmark vector in its sign-LSH bucket clears the threshold —
    * paraphrased eval questions share no shingles but sit next to each
    * other in embedding space. Per flagged vector: hit count, best
    * cosine, and the smallest offending benchmark id (the audit
    * pointer a contamination report links to).
    *
    * Scale posture: the benchmark side is eval-set-sized and is
    * BROADCAST, so the 100 TB train corpus is scanned once map-side;
    * candidates are bucket-mates only (never all-pairs); the rollup
    * shuffles flagged hits, not the corpus. Recall is SINGLE-bucket
    * bounded (p^bits — measured 4% of the exact baseline at cosine
    * 0.3, ~29% even for 0.9-cosine pairs): production sweeps should
    * use [[semanticDecontaminateBanded]] (OR-amplified, same output
    * contract) and grade either against
    * [[semanticDecontaminateExact]]. */
  def semanticDecontaminate(train: DataFrame, benchmark: DataFrame,
      bits: Int = 8, threshold: Double = 0.25): DataFrame = {
    val t = train.select(lshBucket(col("embedding"), bits).as("bucket"),
      col("vec_id"), col("embedding").as("te"))
    val bm = benchmark.select(lshBucket(col("embedding"), bits).as("bucket"),
      col("vec_id").as("bench_id"), col("embedding").as("be"))
    t.join(broadcast(bm), Seq("bucket"))
      .select(col("vec_id"), col("bench_id"),
        round(cos(train)(col("te"), col("be")), 6).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"),
        max(col("cos")).as("max_cos"),
        min(col("bench_id")).as("bench_id"))
      .orderBy("vec_id")
  }

  /** BANDED semantic decontamination — [[semanticDecontaminate]] with
    * OR-amplified LSH: instead of one `bits`-bit bucket (whose recall at
    * match probability p is p^bits — measured 4% against the exact
    * baseline at threshold 0.3, and only ~29% even for 0.9-cosine
    * pairs), candidates are pairs sharing ANY of `bands` sign-bands of
    * `bandBits` coordinates each: recall = 1 − (1 − p^bandBits)^bands
    * (≈ 1.0 at cosine 0.9, ≈ 0.66 at 0.3 with 8×4) — the same
    * banding scheme the lexical MinHash LSH has always used, applied to
    * the sign-hash. Output contract identical to the single-bucket form.
    * The COARSE 4-bit default is deliberate here and wrong for an
    * all-pairs operator (Θ(bands·n²/2^bandBits) candidates):
    * decontamination joins the corpus against a SMALL eval set, so
    * candidate volume is ≈ bands · n_train · n_bench / 2^bandBits —
    * linear in the corpus at any band width — and coarse bands buy the
    * recall that matters when eval leakage sits at moderate cosine.
    *
    * Scale posture: band signatures are map-side column expressions;
    * the train side explodes to (vec_id, band-sig) WITHOUT carrying the
    * embedding; the benchmark signature table broadcasts; only DISTINCT
    * candidate (vec_id, bench_id) pairs shuffle (bounded by bands ×
    * bucket collisions, never |train| × |bench|); embeddings join back
    * by id for the one scoring pass. */
  def semanticDecontaminateBanded(train: DataFrame, benchmark: DataFrame,
      bands: Int = 8, bandBits: Int = 4,
      threshold: Double = 0.25): DataFrame = {
    val tSig = train.select(col("vec_id"),
      explode(bandSigs(col("embedding"), bands, bandBits)).as("sig"))
    val bSig = benchmark.select(col("vec_id").as("bench_id"),
      explode(bandSigs(col("embedding"), bands, bandBits)).as("sig"))
    val cands = tSig.join(broadcast(bSig), Seq("sig"))
      .select("vec_id", "bench_id").distinct()
    val bm = benchmark.select(col("vec_id").as("bench_id"),
      col("embedding").as("be"))
    cands
      .join(train.select(col("vec_id"), col("embedding").as("te")), Seq("vec_id"))
      .join(broadcast(bm), Seq("bench_id"))
      .select(col("vec_id"), col("bench_id"),
        round(cos(train)(col("te"), col("be")), 6).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"),
        max(col("cos")).as("max_cos"),
        min(col("bench_id")).as("bench_id"))
      .orderBy("vec_id")
  }

  /** Corpus-adaptive coarse-quantizer size: one cell per `cellTarget`
    * vectors (floor 8). The ONE count action buys the sub-quadratic
    * exponent: with cells ∝ n, in-cell candidate volume is
    * ≈ probes²·cellTarget·n/2 — LINEAR in the corpus — where any fixed
    * bucketing (sign-LSH bands included) keeps Θ(n²/2^bits) and only
    * shrinks the constant (the round-11 band-width audit's disclosed
    * caveat, closed here). */
  private def adaptiveCells(embeddings: DataFrame, cellTarget: Int): Int =
    math.max(8, math.ceil(
      embeddings.select(col("vec_id")).count().toDouble / cellTarget).toInt)

  /** TWO-LEVEL (hierarchical) multi-probe cell assignment —
    * (vec_id, cell) with each vector in its `probes` best cells, where
    * "best" is searched through a super-cell layer instead of a flat
    * scan of every centroid. The flat form is FLOPs-quadratic when
    * cells ∝ n (n·c cosines: measured 452 s at n = 200k, c = 6250 —
    * the whole sf10 curve cost); this is the standard IVF answer
    * (FAISS trains an index over its own coarse centroids):
    *
    *   s = ⌈√c⌉ super-cells, seeded from the smallest-s ids;
    *   every vector ranks its top-2 supers          (n·s cosines);
    *   the c child seeds each join their top-1 super (c·s, tiny);
    *   Lloyd: top-1 child inside the TOP-1 super via a windowless
    *   map-side max(struct), 9-dp element means      (n·c/s);
    *   final: top-`probes` among the refined children of the vector's
    *   TOP-2 supers (children keep their seed's super key — refined
    *   centroids never migrate, so the mirror is closed-form) (2n·c/s).
    *
    * Total ≈ n·(s + 3c/s) = Θ(n·√c) cosines — n^1.5 with a small
    * constant when c ∝ n (64 k at sf0.1 vs the flat 252 k; 6×10⁷ at
    * sf10 vs the flat 2.5×10⁹), and the SAME trick stacks to a third
    * level before it matters again. Probing TWO supers (not one) is
    * the boundary repair at both levels: a near-dup pair split across
    * a super boundary still meets in the shared runner-up. Everything
    * narrow: no fat column ever rides a ×cells or ×supers shuffle; the
    * only per-vector fat join is the (vec_id → its 2 supers) expansion.
    * All cosines round 6-dp, means 9-dp, ties to the smallest id — the
    * exact determinism contract of the flat quantizer chain, so the
    * DuckDB oracle mirrors every stage.
    *
    * MEMORY at extreme c (round-12 review: the child-centroid broadcast
    * was the flat assignment's memory analog — c ∝ n/32 outgrows the
    * driver around 10⁹ vectors): the child tables (`csup`/`ccsup`) only
    * BROADCAST while c stays under `spark.graft.quantizer.broadcastCells`
    * (default 131072 ≈ 70 MB at dim 64). Past the bound the same joins
    * run as shuffle equi-joins on the super key — the super layer IS the
    * search structure (each vector meets only its 2 supers' ~√c
    * children, exactly the pruning FAISS gets from searching a coarse
    * index over its own centroids), so no row ever scans all c and the
    * per-partition working set is O(√c). Row-identical either way (same
    * join keys, same tie-breaks; spec-pinned) — a pure physical-strategy
    * gate, the broadcast-join pattern the engine uses everywhere. The
    * supers table (√c rows) broadcasts unconditionally: it outgrows a
    * broadcast only past ~10¹⁰ cells ≈ 10¹² vectors. */
  private def maybeBroadcastCells(df: DataFrame, c: Int): DataFrame = {
    val bound = graft.GraftConf.long(df.sparkSession,
      graft.GraftConf.QuantizerBroadcastCells)
    if (c <= bound) broadcast(df) else df
  }

  /** Trained two-level quantizer: the broadcast super table (sid, se),
    * the Lloyd-refined child centroids keyed by their seed's super
    * (centroid_id, ce, sid), and the cell count (the broadcast-gate
    * input). Training and assignment split since round 14 so the
    * INCREMENTAL dedup path can train on the corpus once and assign
    * both the corpus and each incoming batch through the same cells. */
  private[operators] case class CellQuantizer(supers: DataFrame,
      ccsup: DataFrame, c: Int)

  /** Each vector's top-2 super-cells (vec_id, sid, srn) — the narrow
    * n·s ranking both training's Lloyd step and every assignment pass
    * read. Probing TWO supers is the boundary repair (scaladoc above). */
  private[operators] def topSupers(vectors: DataFrame, supers: DataFrame,
      materialize: Boolean): DataFrame = {
    val e = vectors.select(col("vec_id"), col("embedding"))
    val scored = e.crossJoin(broadcast(supers))
      .select(col("vec_id"), col("sid"),
        round(cos(vectors)(col("embedding"), col("se")), 6).as("sc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sc").desc, col("sid"))
    Stage.snap(scored.withColumn("srn", row_number().over(w))
      .where(col("srn") <= 2).select("vec_id", "sid", "srn"),
      materialize)
  }

  /** Train the corpus-adaptive two-level quantizer on `corpus`: seeds,
    * super ranking, one Lloyd round inside the top-1 super. Returns the
    * quantizer plus the corpus's own snapped super ranking (reused by
    * the corpus's assignment — training already paid for it). */
  private[operators] def trainCellQuantizer(corpus: DataFrame, cellTarget: Int,
      materialize: Boolean): (CellQuantizer, DataFrame) = {
    val c = adaptiveCells(corpus, cellTarget)
    val s = math.max(4, math.ceil(math.sqrt(c.toDouble)).toInt)
    val e = corpus.select(col("vec_id"), col("embedding"))
    val supers = seedCents(corpus, s)
      .select(col("centroid_id").as("sid"), col("ce").as("se"))
    // vector → top-2 supers (narrow n·s window)
    val vsup = topSupers(corpus, supers, materialize)
    // child seed → its top-1 super (c·s, all broadcast-sized)
    val csup = {
      val scored = seedCents(corpus, c).crossJoin(broadcast(supers))
        .select(col("centroid_id"), col("ce"), col("sid"),
          round(cos(corpus)(col("ce"), col("se")), 6).as("sc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("centroid_id").orderBy(col("sc").desc, col("sid"))
      scored.withColumn("r", row_number().over(w))
        .where(col("r") === 1).select("centroid_id", "ce", "sid")
    }
    // Lloyd input: top-1 child inside the top-1 super — windowless
    // map-side-combined max(struct); ties to the smallest centroid via
    // the negated id (exactly (ccos DESC, centroid_id) order)
    val a0 = e
      .join(vsup.where(col("srn") === 1).select("vec_id", "sid"), Seq("vec_id"))
      .join(maybeBroadcastCells(csup, c), Seq("sid"))
      .select(col("vec_id"),
        round(cos(corpus)(col("embedding"), col("ce")), 6).as("ccos"),
        col("centroid_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("centroid_id")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cell"))
    val cents1 = elementwiseMean(
      a0.join(e, Seq("vec_id")), Seq("cell"), "embedding", "ce")
      .select(col("cell").as("centroid_id"), col("ce"))
    // refined centroids keyed by their SEED's super (no migration)
    val ccsup = cents1.join(csup.select("centroid_id", "sid"),
      Seq("centroid_id"))
    (CellQuantizer(supers, ccsup, c), vsup)
  }

  /** Assign vectors (with their precomputed super ranking) to their
    * top-`probes` refined children across their 2 supers — the final
    * membership pass, shared by the batch and incremental paths. */
  private[operators] def assignWithQuantizer(vectors: DataFrame, vsup: DataFrame,
      q: CellQuantizer, probes: Int): DataFrame = {
    val e = vectors.select(col("vec_id"), col("embedding"))
    val scored2 = e.join(vsup.select("vec_id", "sid"), Seq("vec_id"))
      .join(maybeBroadcastCells(q.ccsup, q.c), Seq("sid"))
      .select(col("vec_id"), col("centroid_id"),
        round(cos(vectors)(col("embedding"), col("ce")), 6).as("ccos"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("ccos").desc, col("centroid_id"))
    scored2.withColumn("r", row_number().over(w2))
      .where(col("r") <= probes)
      .select(col("vec_id"), col("centroid_id").as("cell"))
  }

  private def assignCellsHierarchical(embeddings: DataFrame,
      cellTarget: Int, probes: Int, materialize: Boolean): DataFrame = {
    val (q, vsup) = trainCellQuantizer(embeddings, cellTarget, materialize)
    assignWithQuantizer(embeddings, vsup, q, probes)
  }

  /** CELL-LOCAL embedding near-dup (SemDeDup's published shape: cluster
    * first with the coarse quantizer, then compare only within
    * clusters). Candidates are DISTINCT same-cell id pairs under a
    * corpus-adaptive k-means quantizer (one cell per `cellTarget`
    * vectors, Lloyd-refined — the SAME [[trainCentroids]] the IVF/ANN
    * family trains) with `probes` cells per vector, then ONE
    * exact-cosine scoring pass.
    *
    * Scale posture, against sign-LSH banding: banded candidates are
    * Θ(bands·n²/2^bandBits) — the quadratic exponent survives any band
    * width — while cell-local candidates are ≈ probes²·cellTarget·n/2,
    * linear in n because the quantizer GROWS with the corpus.
    * Assignment is two-level and size-gated (see
    * [[maybeBroadcastCells]]): child centroids broadcast while they
    * fit, and past the bound the super-key equi-join prunes
    * exactly as FAISS's coarse-index search would — each vector meets
    * only its 2 supers' ~√c children; the shuffled volume is n·probes
    * rows either way.
    * Recall at near-dup cosine is probe-bounded, not band-bounded:
    * a 0.9+-cosine pair subtends a small angle relative to coarse-cell
    * diameter, so same-cell probability is high and the second probe
    * catches boundary splits (SimilarityQualitySpec plants pairs at
    * 0.9/0.99 and gates pair recall ≥ 0.9 vs the exact all-pairs
    * baseline). */
  def cosineNearDupCells(embeddings: DataFrame, cellTarget: Int = 32,
      probes: Int = 2, threshold: Double = 0.35,
      materialize: Boolean = true): DataFrame =
    cosineNearDupCellsParts(embeddings, cellTarget, probes, threshold,
      materialize)._2.orderBy("d1", "d2")

  /** [[cosineNearDupCells]] split into its two reusable stages:
    * (snapped cell assignment, UNSORTED scored pairs). The clustering
    * consumers take this form — they re-use the assignment for
    * cell-local contraction and have no use for a global pair sort
    * (round-12 review: the trailing orderBy re-executed inside the
    * edge-set snapshot, twice). The threshold default (0.35) matches the
    * gated dedup posture across the Cells family — three operators, one
    * default (round-12 advice). */
  private[operators] def cosineNearDupCellsParts(embeddings: DataFrame,
      cellTarget: Int, probes: Int, threshold: Double,
      materialize: Boolean): (DataFrame, DataFrame) = {
    // narrow (vec_id, cell) rows feed BOTH sides of the candidate
    // self-join: snap so the quantizer trains once
    val assigned = Stage.snap(
      assignCellsHierarchical(embeddings, cellTarget, probes, materialize),
      materialize)
    val cands = assigned.select(col("cell"), col("vec_id").as("d1"))
      .join(assigned.select(col("cell"), col("vec_id").as("d2")), Seq("cell"))
      .where(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val pairs = cands
      .join(e.select(col("vec_id").as("d1"), col("embedding").as("e1")), Seq("d1"))
      .join(e.select(col("vec_id").as("d2"), col("embedding").as("e2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        round(cos(embeddings)(col("e1"), col("e2")), 6).as("cos"))
      .where(col("cos") >= threshold)
    (assigned, pairs)
  }

  /** Bucketed kNN graph — each vector's top-k neighbor list over the
    * WHOLE corpus ([[bruteForceTopK]] is the exact baseline for a few
    * query vectors; this is the every-vector scale path): candidates
    * are sign-LSH bucket-mates only, so the candidate join is bucketed
    * — never all-pairs — and the per-vector top-k is a rank window over
    * the bounded in-bucket candidate set. The kNN graph is the substrate
    * of graph-based ANN indexes and of kNN-classification audits.
    *
    * Recall is bucket-bounded by construction: a true neighbor in
    * another bucket is unseen (the standard LSH trade; the spec
    * quantifies recall vs brute force on the query head). Vectors alone
    * in their bucket emit no rows. Determinism: 6-dp-rounded cosine,
    * dst tiebreak — the [[bruteForceTopK]] contract. */
  def knnGraph(embeddings: DataFrame, bits: Int = 8, k: Int = 3): DataFrame = {
    val withB = embeddings.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), bits).as("bucket"))
    val a = withB.select(col("bucket"), col("vec_id").as("src"),
      col("embedding").as("e1"))
    val b = withB.select(col("bucket"), col("vec_id").as("dst"),
      col("embedding").as("e2"))
    val scored = a.join(b, Seq("bucket"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(cos(embeddings)(col("e1"), col("e2")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("src", "dst", "cos", "rn")
      .orderBy("src", "rn")
  }

  /** IVF cell assignment: the first `nCentroids` vectors act as the coarse
    * quantizer's (deterministic) centroid seeds; every vector lands in the
    * cell of its highest-cosine centroid (vec_id tiebreak).
    *
    * Scale posture: centroids are broadcast (a k-means refinement would
    * keep the same shape — small table out, broadcast back), so assignment
    * is a map-only pass over the candidate side; the only shuffle in the
    * IVF path is the final per-cell ranking. */
  /** Rank every vector against a broadcast centroid table (centroid_id,
    * ce): per-vector cosine + rank `arn` (1 = nearest cell). ONE
    * definition of the assignment tie-break shared by the seed and
    * k-means-refined quantizers. */
  private[operators] def rankAgainst(embeddings: DataFrame, cents: DataFrame): DataFrame = {
    val scored = embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        round(cos(embeddings)(col("embedding"), col("ce")), 6).as("ccos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("ccos").desc, col("centroid_id"))
    scored.withColumn("arn", row_number().over(w))
  }

  /** Quantizer-training sample size: ~256 training points per centroid
    * at the family's 16-centroid codebooks — the FAISS norm (its docs
    * recommend 39×k minimum, 256×k typical). At or under the cap the
    * sample IS the corpus, so every sf0.01 oracle is unchanged
    * bit-for-bit; past it codebook training cost is CAPPED while
    * encode/assign still covers every vector — the round-13 plan audit
    * measured ~60% of the IVF-PQ build as corpus-proportional training,
    * the build's dominant term at 100 TB. */
  val DefaultTrainCap = 4096

  /** Bounded deterministic training sample: the `cap` smallest rows by
    * (sha32("train:" + vec_id), vec_id) — a rank, not a modulus, so the
    * bound is exact at any corpus size and the DuckDB mirror is one
    * ROW_NUMBER window (the ta_sample hash convention). One map-side
    * TakeOrdered pass; no shuffle of the corpus. */
  private[operators] def trainSample(vectors: DataFrame, cap: Int): DataFrame = {
    val h = graft.functions.Functions.sha32(
      concat(lit("train:"), col("vec_id").cast("string")))
    vectors.select(col("vec_id"), col("embedding"), h.as("h"))
      .orderBy("h", "vec_id").limit(cap)
      .select("vec_id", "embedding")
  }

  /** Seed centroids: the `nCentroids` SMALLEST vec_ids — rank-based, not
    * `vec_id < n`, so a filtered/non-contiguous id space still seeds a
    * full codebook (TakeOrderedAndProject: map-side top-N, no full sort). */
  private def seedCents(embeddings: DataFrame, nCentroids: Int): DataFrame =
    embeddings.select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
      .orderBy("centroid_id").limit(nCentroids)

  /** Per-cell top-k ranking shared by the IVF variants: q = (qid, qe,
    * cell), c = (cid, ce2, cell); broadcast query side, rounded-cosine
    * rank with cid tie-break. */
  private[operators] def cellTopK(q: DataFrame, c: DataFrame, k: Int,
      session: DataFrame): DataFrame = {
    val scored = q.hint("broadcast").join(c, Seq("cell"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(cos(session)(col("qe"), col("ce2")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("qid", "cid", "cos", "rn")
      .orderBy("qid", "rn")
  }

  /** Per-vector centroid ranking against the first-N seed centroids. */
  private def ivfRanked(embeddings: DataFrame, nCentroids: Int): DataFrame =
    rankAgainst(embeddings, seedCents(embeddings, nCentroids))

  def ivfAssign(embeddings: DataFrame, nCentroids: Int = 8): DataFrame =
    ivfRanked(embeddings, nCentroids)
      .where(col("arn") === 1)
      .select(col("vec_id"), col("embedding"), col("centroid_id").as("cell"))

  /** Element-wise mean of the `arrCol` arrays per `keys` — the Lloyd /
    * centroid pooling every quantizer-training step shares (explode to
    * (keys, pos, x), average, reassemble in pos order). ONE edit site
    * for the cross-engine determinism contract (round-11 review: four
    * near-identical copies had to agree or the "same quantizer"
    * row-for-row guarantees between the in-query and persisted paths
    * would silently drift): `nano = false` rounds the mean to 9 dp
    * (absorbing partial-agg summation order); `nano = true` quantizes
    * to integer nanos and divides back — for paths whose DuckDB oracle
    * mirrors the integer form. */
  private def elementwiseMean(df: DataFrame, keys: Seq[String],
      arrCol: String, out: String, nano: Boolean = false): DataFrame = {
    val m =
      if (nano) round(avg(col("col").cast("double")) * 1e9, 0).cast("bigint")
      else round(avg(col("col").cast("double")), 9)
    df.select(keys.map(col) :+ posexplode(col(arrCol)): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(m.as("m"))
      .groupBy(keys.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("pos").as("p"), col("m").as("m")))),
        s => if (nano) s.getField("m").cast("double") / 1e9
             else s.getField("m")).as(out))
  }

  /** Lloyd-refined coarse centroids (seed-assign → element-wise cell
    * mean, 9-dp rounded for cross-engine reproducibility):
    * (centroid_id, ce). Shared by [[ivfKmeansTopK]] and the persisted
    * [[AnnIndex]] so the in-query and build-once paths train the SAME
    * quantizer — their results must agree row-for-row (spec-gated). */
  def trainCentroids(embeddings: DataFrame, nCentroids: Int = 8,
      trainCap: Int = DefaultTrainCap): DataFrame =
    // TRAIN on the bounded sample (seeds = the sample's smallest ids,
    // Lloyd mean over sample members only — identical to full-corpus
    // training whenever the corpus fits the cap); assignment against
    // the result still covers every vector
    elementwiseMean(ivfAssign(trainSample(embeddings, trainCap), nCentroids),
        Seq("cell"), "embedding", "ce")
      .select(col("cell").as("centroid_id"), col("ce"))

  /** Every vector assigned to its nearest centroid:
    * (vec_id, embedding, cell). Assignment is map-only against the
    * broadcast centroid table. */
  def assignCells(embeddings: DataFrame, cents: DataFrame): DataFrame =
    rankAgainst(embeddings, cents)
      .where(col("arn") === 1)
      .select(col("vec_id"), col("embedding"), col("centroid_id").as("cell"))

  /** [[assignCells]] keeping the winning cosine (`ccos`) — the
    * assignment-quality signal the [[AnnIndex]] drift monitor folds. */
  private[operators] def assignCellsScored(embeddings: DataFrame,
      cents: DataFrame): DataFrame =
    rankAgainst(embeddings, cents)
      .where(col("arn") === 1)
      .select(col("vec_id"), col("embedding"),
        col("centroid_id").as("cell"), col("ccos"))

  /** IVF with one Lloyd (k-means) refinement: seed-assign (first-N
    * centroids, as [[ivfAssign]]), recompute each cell's centroid as the
    * element-wise mean, re-assign against the refined centroids, then
    * rank per cell. Addresses the round-1 note that "first N vectors" is
    * a seeding simplification — this is the real quantizer-training step,
    * and further Lloyd rounds are the same two stages repeated.
    *
    * Scale posture identical to [[ivfTopK]]: the mean is one narrow
    * (cell, pos, x) aggregation, centroids stay a broadcast-sized table,
    * assignment remains map-only. Means round to 9 dp so the DuckDB
    * oracle's float sums agree bit-for-bit after the 6-dp cosine round. */
  def ivfKmeansTopK(embeddings: DataFrame, nCentroids: Int = 8,
      nQueries: Int = 8, k: Int = 5,
      materialize: Boolean = true): DataFrame = {
    // snapshot the assignment ONCE: both sides of cellTopK's self-join
    // read it, and without a stage boundary the whole seed-assign +
    // Lloyd-mean + reassign training lineage runs twice (the pqTopK
    // codebook lesson — round-11 review)
    val assigned = Stage.snap(
      assignCells(embeddings, trainCentroids(embeddings, nCentroids)),
      materialize)
    val q = queryHeads(assigned, nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell"))
    val c = assigned
      .select(col("vec_id").as("cid"), col("embedding").as("ce2"), col("cell"))
    cellTopK(q, c, k, embeddings)
  }

  /** EXACT semantic decontamination — the brute-force companion of the
    * sign-LSH-bucketed [[semanticDecontaminate]], in the engine's
    * exact↔approx pairing convention (ta_quantiles/ta_cardinality):
    * score every training vector against EVERY eval vector, so recall
    * is 1 by construction and the bucketed path's misses are gradable
    * against it (the LSH path's flags are a SUBSET: both require the
    * same rounded cosine ≥ threshold, buckets only restrict candidates
    * — spec-gated). Returns the full audit form (vec_id, eval_id of
    * the nearest eval vector with min-id tie-break, max_cos,
    * contaminated) for every training vector, flagged or not; callers
    * filter `contaminated` to apply.
    *
    * Scale posture: eval sets are small by construction, so the eval
    * side BROADCASTS and scoring is map-only over the training corpus —
    * no shuffle of the 100 TB side; the per-vector argmax rides a
    * window keyed on vec_id over |eval| rows per vector. When |eval| ×
    * |train| compares grow too hot even map-side, swap to the bucketed
    * [[semanticDecontaminate]] — that trade is the pairing's point. */
  def semanticDecontaminateExact(train: DataFrame, eval: DataFrame,
      threshold: Double = 0.9): DataFrame = {
    val e = broadcast(eval.select(col("vec_id").as("eval_id"),
      col("embedding").as("ee")))
    val scored = train.select(col("vec_id"), col("embedding"))
      .crossJoin(e)
      .select(col("vec_id"), col("eval_id"),
        round(cos(train)(col("embedding"), col("ee")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cos").desc, col("eval_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("eval_id"), col("cos").as("max_cos"),
        (col("cos") >= threshold).as("contaminated"))
      .orderBy("vec_id")
  }

  /** Cluster-balanced prototypicality pruning (Sorscher et al. 2022,
    * "Beyond neural scaling laws": with abundant data, the EASY —
    * most prototypical — examples are the ones to drop): train the
    * deterministic one-Lloyd coarse quantizer ([[trainCentroids]], the
    * same quantizer the IVF family shares), assign every vector with
    * its winning 6-dp cosine (= prototypicality: high cosine means the
    * vector sits at its cluster's prototype), then per cell drop the
    * `dropFrac` most-prototypical members. Pruning per cell rather than
    * globally keeps the selection CLUSTER-BALANCED — a dominant dense
    * cluster can't crowd the budget the way a global score cut lets it.
    * Returns the full audit form (vec_id, cell, ccos, proto_rank,
    * n_cell, kept); callers filter `kept` to apply.
    *
    * Scale posture: centroids broadcast (nCentroids rows), assignment
    * is map-only, the per-cell rank windows on the cell key (skew
    * bounded by the largest cluster — at 100 TB swap the exact window
    * for a per-cell quantile threshold on ccos, the same exact↔approx
    * swap the quantiles family documents), and the cell-size table is
    * nCentroids rows joined broadcast. */
  def prototypesPrune(embeddings: DataFrame, nCentroids: Int = 8,
      dropFrac: Double = 0.3, materialize: Boolean = true): DataFrame = {
    val assigned = Stage.snap(
      assignCellsScored(embeddings, trainCentroids(embeddings, nCentroids)),
      materialize)
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("n_cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("ccos").desc, col("vec_id"))
    assigned.withColumn("proto_rank", row_number().over(w))
      .join(broadcast(sizes), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("ccos"), col("proto_rank"),
        col("n_cell"),
        (col("proto_rank") > floor(lit(dropFrac) * col("n_cell"))).as("kept"))
      .orderBy("vec_id")
  }

  /** Source-priority SemDeDup survivor policy —
    * [[graft.operators.Dedup.nearDupApplyByPriority]] applied to the
    * EMBEDDING clusters: within each semantic near-dup cluster keep the
    * member from the highest-priority SOURCE (curated feed beats crawl
    * copy of the same paraphrase), ties to the smallest id. `rank` maps
    * source → priority (lower wins; unlisted sources take
    * `defaultRank`). Documents join by vec_id ≡ doc_id (the
    * sim_semdedup_apply convention of the testdata).
    *
    * Scale posture: [[semanticDedupCells]]'s shuffles plus one narrow
    * (id, source) join and a per-cluster rank window — cluster sizes
    * are bounded by near-dup diameter, so the window partitions stay
    * small. */
  def semanticDedupByPriorityCells(embeddings: DataFrame,
      documents: DataFrame, rank: Map[String, Int], defaultRank: Int = 100,
      cellTarget: Int = 32, probes: Int = 2, threshold: Double = 0.35,
      materialize: Boolean = true): DataFrame =
    priorityFromClusters(
      semanticDedupCells(embeddings, cellTarget, probes, threshold,
        materialize = materialize),
      documents, rank, defaultRank)

  private def priorityFromClusters(clusters: DataFrame,
      documents: DataFrame, rank: Map[String, Int],
      defaultRank: Int): DataFrame = {
    val prio = rank.foldLeft(lit(defaultRank)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(r)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("prio"), col("vec_id"))
    clusters
      .select(col("vec_id"), col("cluster"))
      .join(documents.select(col("doc_id").as("vec_id"), col("source")),
        Seq("vec_id"))
      .withColumn("prio", prio)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("cluster"), col("source"))
      .orderBy("vec_id")
  }

  /** SEMANTIC dedup survivors (SemDeDup, Abbas et al. 2023): documents
    * whose EMBEDDINGS are near-duplicates cluster together and only the
    * canonical (minimum-id) member survives — the embedding-space
    * counterpart of [[graft.operators.Dedup.nearDupApply]], catching
    * paraphrases and re-encodings that lexical MinHash can't see.
    * Edges are the cell-local cosine pairs ([[cosineNearDupCells]]);
    * clusters come from the SAME convergence-driven min-label propagation
    * core as `lshComponents` ([[Propagation.minLabel]] — `rounds <= 0`,
    * the default, iterates until a round changes no label, so embedding
    * paraphrase CHAINS deeper than any fixed cap stop silently
    * splitting). A positive `rounds` keeps the bounded-unroll form for
    * shallow-graph equivalence specs. Survivors are `vec_id == cluster`.
    * Returns (vec_id, cluster, survivor). */
  def semanticDedupCells(embeddings: DataFrame, cellTarget: Int = 32,
      probes: Int = 2, threshold: Double = 0.35, rounds: Int = 0,
      materialize: Boolean = true,
      maxRounds: Int = Propagation.DefaultMaxRounds): DataFrame = {
    val (assigned, pairs) = cosineNearDupCellsParts(embeddings, cellTarget,
      probes, threshold, materialize)
    clustersFromPairsCells(embeddings, assigned, pairs, rounds, materialize,
      maxRounds)
  }

  /** Shared SemDeDup clustering core: near-dup pairs (whatever candidate
    * scheme produced them) → min-label components ([[Propagation]]'s
    * size-gated union-find / fixpoint) → canonical survivor flag. */
  private def clustersFromPairs(embeddings: DataFrame, pairs: DataFrame,
      rounds: Int, materialize: Boolean, maxRounds: Int): DataFrame = {
    // snap the PAIRS, not the symmetric union: the union consumes its
    // input twice, so an unsnapped pairs lineage — candidate join,
    // scoring, even a trailing sort — evaluated once PER BRANCH inside
    // the snapshot job (round-12: the semdedup trio re-ran the whole
    // cell chain twice here). Two projections of a snapshot union for
    // free — narrow, shuffle-less.
    val p = Stage.snap(pairs.select("d1", "d2"), materialize)
    val edges = p.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(p.select(col("d2").as("a"), col("d1").as("b")))
    finishClusters(embeddings,
      Propagation.minLabel(edges, "vec_id", rounds, materialize, maxRounds), p)
  }

  /** Cell-aware SemDeDup clustering — the [[semanticDedupCells]] tail.
    * Physical strategy by measured size (the broadcast-join pattern):
    * a pair set at or under `spark.graft.components.localEdges` resolves
    * through the exact single-task union-find (one job — the per-round
    * scheduler constant × ~log_φ(diameter) rounds was the round-12
    * 8–10× regression); past the bound, SemDeDup's published cluster-
    * then-compare shape runs IN FULL: per-cell union-find over bounded
    * groups (one shuffle — a cell holds ~cellTarget·probes vectors, so
    * its pair list is group-local by construction), then the global
    * closure only over the CONDENSED bridge graph (one star per vector
    * that spans cells), which re-gates through [[Propagation.minLabel]].
    * Both strategies emit the exact min-reachable-id components the
    * DuckDB recursive-CTE oracle computes. Bounded-unroll (`rounds` > 0)
    * and all-lazy (materialize = false) forms keep the plain shared
    * chain — they exist to mirror plan/oracle shapes, not to be fast. */
  private def clustersFromPairsCells(embeddings: DataFrame,
      assigned: DataFrame, pairs: DataFrame, rounds: Int,
      materialize: Boolean, maxRounds: Int): DataFrame = {
    if (rounds > 0 || !materialize)
      return clustersFromPairs(embeddings, pairs, rounds, materialize,
        maxRounds)
    val p = Stage.snap(pairs.select("d1", "d2"), materialize)
    val bound = Propagation.localEdgeBound(p)
    val labels =
      if (bound > 0 && p.count() <= bound)
        Stage.snap(Propagation.unionFindLocal(
          p.select(col("d1").as("a"), col("d2").as("b")), "vec_id"),
          materialize)
      else cellContractLabels(assigned, p, materialize, maxRounds)
    finishClusters(embeddings, labels, p)
  }

  /** Cell-local contraction then condensed global closure — exact
    * connected components in two phases (the standard two-level CC
    * composition, and SemDeDup's own cluster-first shape):
    *
    *   A. each pair re-joins the assignment to recover its generating
    *      cell(s); per cell, one union-find over the cell's pair list
    *      (bounded: a cell holds ~cellTarget·probes vectors) emits
    *      (vec_id, local min). Dense intra-cell structure — near-cliques
    *      at near-dup thresholds — collapses here, in ONE shuffle, the
    *      work the global fixpoint was paying ~19 rounds for.
    *   B. a vector assigned to two cells bridges its local components:
    *      per vector, a star from its smallest local label to the rest
    *      (≤ probes−1 edges). The global fixpoint runs only on this
    *      condensed graph — and re-gates through [[Propagation.minLabel]],
    *      so a condensed graph under the bound resolves in one more job.
    *
    * Exact: components(∪ per-cell edges) ≡ components(pairs) because
    * every pair lives in ≥1 shared cell of the SAME assignment snapshot
    * that generated it, and phase B's stars connect exactly the local
    * components that share a vector. Labels are min-ids at every level,
    * so the composed min is the component's global min id. */
  /** The cell-keyed (gkey, d1, d2) pair grouping [[cellContractLabels]]
    * and the stats diagnostic share: each pair re-joins the assignment
    * to recover its generating cell(s). */
  private def cellGroupedPairs(assigned: DataFrame,
      pairs: DataFrame): DataFrame =
    pairs
      .join(assigned.select(col("vec_id").as("d1"), col("cell")), Seq("d1"))
      .join(assigned.select(col("vec_id").as("d2"), col("cell")),
        Seq("d2", "cell"))
      .select(col("cell").cast("long").as("gkey"), col("d1"), col("d2"))

  private def cellContractLabels(assigned: DataFrame, pairs: DataFrame,
      materialize: Boolean, maxRounds: Int): DataFrame =
    // the generic two-phase core ([[Propagation.contractThenClose]] —
    // shared with the lexical band engine since round 14); the cell
    // grouping is exact because every pair was GENERATED by a shared
    // cell of this same assignment snapshot
    Propagation.contractThenClose(cellGroupedPairs(assigned, pairs),
      "vec_id", materialize, maxRounds)

  /** Shared clustering tail: component labels over the paired vertex
    * set, isolated vectors unioned back self-labeled, survivor =
    * canonical minimum. `p` is the SNAPPED (d1, d2) pair set. */
  private def finishClusters(embeddings: DataFrame, labels: DataFrame,
      p: DataFrame): DataFrame = {
    val pairedDocs = p.select(col("d1").as("vec_id"))
      .unionByName(p.select(col("d2").as("vec_id"))).distinct()
    labels
      .unionByName(
        embeddings.select(col("vec_id"), col("vec_id").as("label"))
          .join(pairedDocs, Seq("vec_id"), "left_anti"))
      .select(col("vec_id"), col("label").as("cluster"),
        (col("vec_id") === col("label")).cast("int").as("survivor"))
      .orderBy("vec_id")
  }

  /** Per-label embedding centroids — mean pooling over a group key (the
    * class-centroid / prototype computation behind nearest-centroid
    * classification, cluster summaries and doc-from-chunk pooling):
    * element-wise mean per label as NANO-scaled BIGINTs (one rounding of
    * the mean, then integer rendering — double JSON rendering is
    * engine-specific, sci-notation vs fixed; integers render identically
    * everywhere), plus the member count.
    *
    * Scale posture: one narrow (label, pos, x) combinable aggregation —
    * the same shape as the IVF Lloyd step; no vector ever shuffles
    * whole. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col").cast("double")) * 1e9, 0).cast("bigint").as("m"),
        count(lit(1)).as("n"))
      .groupBy("label")
      .agg(
        to_json(transform(
          array_sort(collect_list(struct(col("pos").as("p"), col("m").as("m")))),
          s => s.getField("m"))).as("centroid_nano"),
        max("n").as("n_members"))
      .orderBy("label")

  /** Label-centroid outlier detection — the mislabeled-sample /
    * noisy-data flagging step of an embedding curation pipeline: score
    * every vector by cosine to its OWN label's centroid and flag the
    * ones negatively (or weakly) correlated with their class
    * prototype. The standard first pass before training a classifier
    * on weak labels.
    *
    * The centroid used for scoring is the NANO-ROUNDED mean (the
    * [[labelCentroids]] contract): both engines round each mean to an
    * integer nano before the cosine, so the cosine's inputs are
    * bit-identical and the 6-dp rounding cannot straddle an
    * engine-specific ulp. The outlier decision compares the ROUNDED
    * cosine, for the same reason.
    *
    * Scale posture: centroids are one narrow (label, pos, x)
    * combinable agg; the per-label centroid table is tiny and
    * broadcasts; scoring is map-only HOF arithmetic per row. */
  def centroidOutliers(embeddings: DataFrame, threshold: Double = -0.10,
      materialize: Boolean = true): DataFrame = {
    val cents = Stage.snap(
      elementwiseMean(embeddings, Seq("label"), "embedding", "c",
        nano = true),
      materialize)
    // the native codegen'd cosine (identical double-sequential
    // accumulation to the HOF fold it replaces — round-11 review: the
    // interpreted aggregate/zip_with form was the exact composition
    // cosine_sim exists to replace, on a map-only full-corpus pass)
    embeddings.join(broadcast(cents), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(cos(embeddings)(col("embedding"), col("c")), 6).as("cos"))
      .withColumn("is_outlier", (col("cos") < threshold).cast("int"))
      .orderBy("vec_id")
  }

  /** Symmetric int8 quantization of the embedding column — the 4×
    * storage-compression step an embedding store applies at scale (PQ's
    * simpler cousin): per-vector scale = max|x|/127 (rounded to 9 dp so
    * the oracle's float math agrees), codes = round(x/scale) clamped to
    * [−127, 127], plus reconstruction-error metrics. All row-local
    * sequential HOF arithmetic (no shuffle); the codes column is what a
    * real store would persist alongside `scale`. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    def d(c: Column) = transform(c, x => x.cast("double"))
    val e = d(col("embedding"))
    val maxAbs = aggregate(e, lit(0.0), (a, x) => greatest(a, abs(x)))
    // floor AFTER rounding: a near-zero vector's scale would otherwise
    // round to exactly 0.0 and the code division would produce NaN/Inf
    val scaleCol = greatest(round(maxAbs / 127.0, 9), lit(1e-9))
    val codes = transform(e, x =>
      least(greatest(round(x / col("scale"), 0), lit(-127.0)), lit(127.0))
        .cast("int"))
    val err2 = aggregate(
      zip_with(e, col("codes"), (x, c) =>
        (x - c.cast("double") * col("scale")) *
          (x - c.cast("double") * col("scale"))),
      lit(0.0), (a, x) => a + x)
    embeddings
      .select(col("vec_id"), col("embedding"), scaleCol.as("scale"))
      .withColumn("codes", codes)
      // codes serialized as compact JSON: a bare array<int> column is
      // unhashable for the driver's pandas-based compare (r2 `err`), and
      // "[1,2,3]" is the identical rendering on both engines.
      .select(col("vec_id"), col("scale"), to_json(col("codes")).as("codes"),
        round(err2 / size(col("codes")), 12).as("mse"))
      .orderBy("vec_id")
  }

  /** Product quantization (PQ) encode — the vector-compression step of a
    * billion-scale ANN index (IVF-PQ's fine quantizer): the embedding
    * splits into `m` sub-blocks of `subDim` dims; each block trains its
    * own codebook (first-`nCentroids` seeds + one Lloyd round, the same
    * deterministic quantizer-training shape as [[ivfKmeansTopK]]) and
    * each vector encodes as `m` centroid ids — 64 float dims become 8
    * bytes. Distances rank by NANO-scaled squared-L2 as BIGINT (one
    * round per block, integer compare) so argmin ties and the per-vector
    * error total are exact and order-independent on both engines —
    * the fixed-point-aggregate contract applied to distance math.
    *
    * Scale posture: codebooks are m×nCentroids rows — broadcast; block
    * explode and distance evaluation are map-only; the Lloyd mean is one
    * narrow (blk, cell, j) combinable aggregation; the final code
    * assembly is one groupBy(vec_id) over m-row groups. */
  def pqEncode(embeddings: DataFrame, m: Int = 8, subDim: Int = 8,
      nCentroids: Int = 16, trainCap: Int = DefaultTrainCap): DataFrame =
    pqAssign(embeddings, m, subDim, nCentroids, trainCap)
      .groupBy("vec_id")
      .agg(
        to_json(transform(
          array_sort(collect_list(struct(col("blk").as("b"), col("cell").as("c")))),
          s => s.getField("c"))).as("codes"),
        sum("nano").as("err_nano"))
      .orderBy("vec_id")

  /** Sub-block view of the embedding column: (vec_id, blk, sub). */
  private[operators] def pqBlocks(embeddings: DataFrame, m: Int, subDim: Int): DataFrame =
    embeddings.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        b => slice(col("embedding"), b * subDim + 1, lit(subDim)))))
      .select(col("vec_id"), col("pos").as("blk"), col("col").as("sub"))

  /** Nano-scaled squared L2 — the integer ranking/error primitive shared
    * by PQ training, encode and ADC search. The distance itself is the
    * native codegen'd [[graft.expressions.L2SqDistance]] (round 17): the
    * old `aggregate(zip_with(...))` composition is CodegenFallback —
    * interpreted, one lambda frame per element — and this expression
    * runs once per (vector-block × codebook-centroid) candidate row in
    * every PQ encode, the family's hottest loop. Bit-identical by
    * construction (sequential double accumulation in index order, same
    * null/length semantics — L2SqDistanceSpec pins it against the HOF
    * form); the nano round/cast stays the same builtin composition. */
  private[operators] def nanoL2(a: Column, b: Column): Column = {
    GraftFunctions.ensureRegistered(
      org.apache.spark.sql.SparkSession.active)
    round(GraftFunctions.l2Sq(a, b) * 1e9, 0).cast("bigint")
  }

  /** Per-(vector, block) nearest centroid against a broadcast codebook
    * (blk, cid, ce): returns (vec_id, blk, sub, cell, nano).
    *
    * Argmin via `min_by` AGGREGATION, not a rank window: the aggregate
    * gets map-side combine (candidate×centroid rows reduce to one row
    * per (vector, block) before the shuffle) and no sort — the window
    * form shuffles and sorts the full scored set. The (nano, cid) order
    * key is unique (cid is), so the argmin is deterministic — the same
    * tie-break the window encoded. `sub` is group-constant (it depends
    * only on the group key), so first() is deterministic too. */
  private[operators] def pqNearest(blocks: DataFrame, cents: DataFrame): DataFrame =
    blocks.join(broadcast(cents), Seq("blk"))
      .select(col("vec_id"), col("blk"), col("sub"), col("cid"),
        nanoL2(col("sub"), col("ce")).as("nano"))
      .groupBy("vec_id", "blk")
      .agg(first(col("sub")).as("sub"),
        min_by(struct(col("cid"), col("nano")),
          struct(col("nano"), col("cid"))).as("best"))
      .select(col("vec_id"), col("blk"), col("sub"),
        col("best.cid").as("cell"), col("best.nano").as("nano"))

  /** Trained per-block codebook (blk, cid, ce): first-`nCentroids` seeds
    * + one Lloyd round. Means round to 9 dp (absorbs partial-agg
    * summation order — the ivfKmeansTopK contract).
    *
    * `source` is the UN-EXPLODED (vec_id, …) table behind `blocks`: seed
    * ranking runs on it as a TakeOrdered over vectors — ranking on
    * `blocks` itself would need a distinct + shuffle over m× as many
    * rows for the same id set. Seeding stays rank-based (the N smallest
    * vec_ids), not `vec_id < n`: a filtered corpus with non-contiguous
    * ids would otherwise under-seed or empty the codebook. */
  private def pqCodebook(blocks: DataFrame, source: DataFrame,
      nCentroids: Int, trainCap: Int = DefaultTrainCap,
      materialize: Boolean = true): DataFrame = {
    // TRAINING is sample-bounded (seeds from the sample's smallest ids,
    // Lloyd mean over the sample's blocks only — the corpus-proportional
    // term the round-13 build profile flagged); ENCODE (the callers'
    // pqNearest against the returned codebook) still covers every vector.
    // The sample snaps: two consumers (seeds + the semi-join) would
    // otherwise each re-run the corpus TakeOrdered.
    val sampleIds = Stage.snap(
      trainSample(source, trainCap).select("vec_id"), materialize)
    val seedIds = sampleIds.orderBy("vec_id").limit(nCentroids)
    val blocksS = blocks.join(broadcast(sampleIds), Seq("vec_id"), "left_semi")
    val cents0 = blocks.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("blk"), col("vec_id").as("cid"), col("sub").as("ce"))
    elementwiseMean(pqNearest(blocksS, cents0), Seq("blk", "cell"),
        "sub", "ce")
      .select(col("blk"), col("cell").as("cid"), col("ce"))
  }

  /** Final PQ assignment (vec_id, blk, sub, cell, nano) against the
    * trained codebook. */
  private def pqAssign(embeddings: DataFrame, m: Int, subDim: Int,
      nCentroids: Int, trainCap: Int): DataFrame = {
    val blocks = pqBlocks(embeddings, m, subDim)
    pqNearest(blocks, pqCodebook(blocks, embeddings, nCentroids, trainCap))
  }

  /** PQ ADC (asymmetric distance computation) top-k — the SEARCH path
    * over [[pqEncode]]'s codes, and the reason PQ exists: each query
    * builds a (blk, cid) → distance lookup table against the codebook
    * (m × nCentroids entries), and every candidate's approximate
    * distance is the SUM of m table entries selected by its codes — the
    * raw candidate vectors are never touched at query time. Distances
    * stay nano-scaled BIGINTs end to end, so ranking ties and the
    * per-candidate sums are exact on both engines.
    *
    * Scale posture: the LUT is nQueries × m × nCentroids rows — tiny,
    * broadcast; candidates contribute only their (vec_id, blk, cell)
    * code rows to ONE combinable sum keyed on (qid, cid); only
    * (qid, cid, adist) rows reach the ranking window. At 100 TB the
    * codes table is the 8-bytes-per-vector index a real IVF-PQ system
    * scans. */
  def pqTopK(embeddings: DataFrame, m: Int = 8, subDim: Int = 8,
      nCentroids: Int = 16, nQueries: Int = 8, k: Int = 5,
      materialize: Boolean = true): DataFrame = {
    val blocks = pqBlocks(embeddings, m, subDim)
    // snapshot the trained codebook ONCE (m × nCentroids rows — tiny):
    // both the candidate-encode pass and the query LUT read it, and
    // without a stage boundary the whole seed-assign + Lloyd training
    // lineage runs twice (the lshComponents lesson)
    val cents = Stage.snap(
      pqCodebook(blocks, embeddings, nCentroids, materialize = materialize),
      materialize)
    val codes = pqNearest(blocks, cents)
      .select(col("vec_id").as("cid2"), col("blk"), col("cell"))
    val lut = blocks
      .join(broadcast(queryHeads(embeddings.select("vec_id"), nQueries)),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("blk"), col("sub"))
      .join(broadcast(cents), Seq("blk"))
      .select(col("qid"), col("blk"), col("cid"),
        nanoL2(col("sub"), col("ce")).as("dq"))
    val scored = codes
      .join(broadcast(lut),
        codes("blk") === lut("blk") && codes("cell") === lut("cid"))
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

  /** IVF-PQ encode — the composed architecture of a production
    * billion-vector index (coarse inverted file + product-quantized
    * RESIDUALS): each vector assigns to its nearest coarse centroid by
    * integer nano-L2, the residual (x − centroid) is what PQ encodes,
    * and the emitted row (vec_id, cell, codes, err_nano) is exactly the
    * posting a real IVF-PQ list stores.
    *
    * The residual decomposition pays off on CLUSTERED corpora (residuals
    * concentrate near zero, so the codebook budget buys lower error —
    * SimilarityQualitySpec proves it on a clustered corpus). The coarse
    * quantizer is TRAINED, not just seeded: seeds (the `nCoarse`
    * smallest-id vectors) get one Lloyd refinement — assign all vectors,
    * recompute each cell's centroid as the element-wise mean — before
    * the final assignment, the same quantizer-training step as
    * [[ivfKmeansTopK]] and the per-block PQ codebooks. Untrained seeds
    * subtract a weakly-correlated centroid and INFLATE residual variance
    * (~1.6× raw-PQ error measured on unclustered data in round 5).
    *
    * Determinism: seed order is the vec_id order, Lloyd means round to
    * 9 dp (absorbing partial-agg summation order, the ivfKmeansTopK
    * contract), residual subtraction is exact in doubles, distances are
    * nano-scaled BIGINTs end to end, the PQ codebook trains with the
    * same seed+one-Lloyd shape as [[pqEncode]].
    *
    * Scale posture: coarse centroids and per-block codebooks both
    * broadcast; assignment and residual computation are map-only; the
    * only shuffles are the Lloyd mean and the final code assembly —
    * identical to [[pqEncode]] plus one broadcast join. */
  /** Shared IVF-PQ internals: coarse table, residual table (with each
    * vector's coarse cell), the trained residual codebook and the
    * per-(vector, block) residual code assignment. */
  private[operators] case class IvfPqParts(coarse: DataFrame, residuals: DataFrame,
      cents: DataFrame, assign: DataFrame)

  /** Nearest-coarse-cell assignment of (vec_id, embedding) rows against
    * a broadcast (ccell, cce) centroid table — min_by argmin (map-side
    * combine, no sort; embedding is group-constant so first() is
    * deterministic). Shared by the in-query IVF-PQ path and the
    * persisted index's incremental upsert ([[AnnIndexPq]]). */
  private[operators] def assignCoarse(vectors: DataFrame,
      cents: DataFrame): DataFrame =
    vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("ccell"), col("cce"),
        nanoL2(col("embedding"), col("cce")).as("cnano"))
      .groupBy("vec_id")
      .agg(first(col("embedding")).as("embedding"),
        min_by(struct(col("ccell"), col("cce")),
          struct(col("cnano"), col("ccell"))).as("best"))
      .select(col("vec_id"), col("embedding"),
        col("best.ccell").as("ccell"), col("best.cce").as("cce"))

  private[operators] def ivfPqParts(embeddings: DataFrame, nCoarse: Int, m: Int,
      subDim: Int, nCentroids: Int, materialize: Boolean,
      trainCap: Int = DefaultTrainCap): IvfPqParts = {
    def assignTo(cents: DataFrame): DataFrame = assignCoarse(embeddings, cents)
    // coarse quantizer: rank-based seeds + ONE Lloyd round (assign all,
    // re-center each cell on its members' mean — one narrow combinable
    // (ccell, pos, x) aggregation, same shape as the PQ codebooks).
    // Every seed lands in its own cell (self-distance 0), so no cell is
    // empty unless two seeds are identical vectors — in which case the
    // duplicate cell drops out here and out of the search fan-out too.
    // coarse TRAINING rides the bounded deterministic sample (seeds =
    // the sample's smallest ids, Lloyd mean over sample members); the
    // final assignment below still covers every vector. Residual PQ
    // codebooks sample by the SAME per-id hash, so one id set trains
    // both quantizer levels. Snapped: the seed TakeOrdered and the
    // Lloyd assignment both read it.
    val sample = Stage.snap(trainSample(embeddings, trainCap), materialize)
    val coarse0 = sample
      .select(col("vec_id").as("ccell"), col("embedding").as("cce"))
      .orderBy("ccell").limit(nCoarse)
    val coarse = Stage.snap(
      elementwiseMean(assignCoarse(sample, coarse0),
        Seq("ccell"), "embedding", "cce"),
      materialize)
    val assigned = assignTo(coarse)
    // snapshot the residual table: the codebook training, the code
    // assignment and the candidate-cell join all read it, and without a
    // stage boundary each consumer re-runs the coarse broadcast+window
    val residuals = Stage.snap(
      assigned.select(col("vec_id"), col("ccell"),
        zip_with(col("embedding"), col("cce"),
          (x, c) => x.cast("double") - c.cast("double")).as("embedding")),
      materialize)
    val blocks = pqBlocks(residuals.select("vec_id", "embedding"), m, subDim)
    val cents = Stage.snap(
      pqCodebook(blocks, residuals, nCentroids, trainCap, materialize),
      materialize)
    IvfPqParts(coarse, residuals, cents, pqNearest(blocks, cents))
  }

  def ivfPqEncode(embeddings: DataFrame, nCoarse: Int = 8, m: Int = 8,
      subDim: Int = 8, nCentroids: Int = 16,
      materialize: Boolean = true,
      trainCap: Int = DefaultTrainCap): DataFrame = {
    val parts = ivfPqParts(embeddings, nCoarse, m, subDim, nCentroids,
      materialize, trainCap)
    val codes = parts.assign
      .groupBy("vec_id")
      .agg(
        to_json(transform(
          array_sort(collect_list(struct(col("blk").as("b"), col("cell").as("c")))),
          s => s.getField("c"))).as("codes"),
        sum("nano").as("err_nano"))
    parts.residuals.select("vec_id", "ccell").join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("ccell").as("cell"), col("codes"),
        col("err_nano"))
      .orderBy("vec_id")
  }

  /** IVF-PQ top-k search — the full composed query path: each query
    * probes its `nProbes` nearest coarse cells, builds a PER-PROBED-CELL
    * residual LUT (query-minus-centroid against the residual codebook),
    * and ranks ONLY candidates posted in the probed cells by the integer
    * sum of their codes' LUT entries. This is IVF's pruning (untouched
    * cells are never read) composed with PQ's compression (candidate
    * vectors are never read) — the production billion-vector query.
    *
    * Scale posture: LUT is nQueries × nProbes × m × nCentroids rows —
    * broadcast; candidates contribute only (cell, blk, code) rows, and
    * the probed-cell equi-join prunes whole cells before any distance
    * math. */
  def ivfPqTopK(embeddings: DataFrame, nCoarse: Int = 8, m: Int = 8,
      subDim: Int = 8, nCentroids: Int = 16, nQueries: Int = 8,
      nProbes: Int = 2, k: Int = 5, materialize: Boolean = true): DataFrame = {
    val parts = ivfPqParts(embeddings, nCoarse, m, subDim, nCentroids, materialize)
    // query → nProbes nearest coarse cells, residual query per probe
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cnano"), col("ccell"))
    val qprobe = queryHeads(embeddings, nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(parts.coarse))
      .select(col("qid"), col("qe"), col("ccell"), col("cce"),
        nanoL2(col("qe"), col("cce")).as("cnano"))
      .withColumn("prn", row_number().over(wq)).where(col("prn") <= nProbes)
      .select(col("qid"), col("ccell").as("pcell"),
        zip_with(col("qe"), col("cce"),
          (x, c) => x.cast("double") - c.cast("double")).as("rq"))
    val rqBlocks = qprobe.select(col("qid"), col("pcell"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        b => slice(col("rq"), b * subDim + 1, lit(subDim)))))
      .select(col("qid"), col("pcell"), col("pos").as("blk"), col("col").as("sub"))
    val lut = rqBlocks.join(broadcast(parts.cents), Seq("blk"))
      .select(col("qid"), col("pcell"), col("blk"), col("cid"),
        nanoL2(col("sub"), col("ce")).as("dq"))
    // candidate code rows carry their coarse cell — the probed-cell join
    // IS the IVF pruning
    val codes = parts.assign.select(col("vec_id").as("cid2"),
        col("blk"), col("cell"))
      .join(parts.residuals.select(col("vec_id").as("cid2"), col("ccell")),
        Seq("cid2"))
    val scored = codes
      .join(broadcast(lut),
        codes("ccell") === lut("pcell") && codes("blk") === lut("blk") &&
          codes("cell") === lut("cid"))
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

  /** IVF top-k: rank only candidates sharing one of the query's probed
    * cells — the scale path (probes `nProbes` coarse cells instead of the
    * full corpus; recall/fan-out traded via `nCentroids` × `nProbes`). */
  def ivfTopK(embeddings: DataFrame, nCentroids: Int = 8, nQueries: Int = 8,
      k: Int = 5, nProbes: Int = 1): DataFrame = {
    val ranked = ivfRanked(embeddings, nCentroids)
    val q = ranked.where(col("arn") <= nProbes)
      .join(broadcast(queryHeads(embeddings.select("vec_id"), nQueries)),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("centroid_id").as("cell"))
    // the candidate side IS ranked's arn==1 slice (ivfAssign's
    // definition) — deriving it from the same frame instead of calling
    // ivfRanked again avoids re-running the full crossJoin + rank
    // window over the corpus (round-11 review)
    val c = ranked.where(col("arn") === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("ce2"),
        col("centroid_id").as("cell"))
    cellTopK(q, c, k, embeddings)
  }

  /** Driver-side mirror of Functions.sha32 (first 8 hex chars of sha256 as
    * unsigned int = first 4 bytes big-endian) — same byte walk as
    * TextAnalysis.winnow's executor-side hash. */
  private def sha32Local(s: String): Long =
    TextAnalysis.sha32Of(java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Sign random projection (Achlioptas/JL): reduce `inDim`-d embeddings
    * to `outDim` components y_k = Σ_j sign(j,k)·x_j with sign(j,k) = ±1
    * from the parity of sha32("rp:seed:j:k") — the cheap, deterministic
    * dimensionality reduction a pipeline runs before LSH bucketing or
    * coarse clustering when the input dim is large.
    *
    * Exactness contract: components quantize to integer micro-units
    * (round(x·1e6), half away from zero) BEFORE the signed sum, so y_micro
    * is exact integer arithmetic — order-independent and reproducible
    * bit-for-bit in the DuckDB oracle (a float Σ± would be
    * summation-order-dependent across engines).
    *
    * Scale posture: the sign matrix (inDim × outDim ints) lives in the
    * task closure — no join, no shuffle; one map-only pass emits outDim
    * narrow rows per vector. */
  def randomProject(embeddings: DataFrame, inDim: Int = 64, outDim: Int = 16,
      seed: String = "v1"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val signs: Array[Array[Int]] = Array.tabulate(inDim, outDim) { (j, k) =>
      if (sha32Local(s"rp:$seed:$j:$k") % 2 == 0) 1 else -1
    }
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, emb) =>
          val xi = new Array[Long](emb.length)
          var j = 0
          while (j < emb.length) {
            val v = emb(j).toDouble * 1e6
            // half away from zero, matching DuckDB round(x, 0)
            xi(j) = (math.signum(v) * math.floor(math.abs(v) + 0.5)).toLong
            j += 1
          }
          (0 until outDim).iterator.map { k =>
            var s = 0L
            var jj = 0
            val d = math.min(xi.length, inDim)
            while (jj < d) {
              s += (if (signs(jj)(k) == 1) xi(jj) else -xi(jj))
              jj += 1
            }
            (id, k, s)
          }
        }
      }
      .toDF("vec_id", "k", "y_micro")
      .orderBy("vec_id", "k")
  }
}
