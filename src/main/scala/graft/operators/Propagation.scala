package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared min-label components over a symmetric edge set — the
  * connected-components core behind BOTH dedup engines
  * ([[Dedup.lshComponents]], lexical MinHash pair graph) and
  * [[Similarity.semanticDedupCells]] (embedding-cosine pair graph). One
  * entry point, one convergence contract, one backstop: convergence
  * work lands once instead of drifting between the two files (the
  * round-10 state — the lexical side was convergence-driven while the
  * semantic side silently kept a fixed 3-round cap, the exact
  * under-clustering defect the fixpoint had just fixed lexically).
  *
  * Since round 13 the physical strategy is SIZE-GATED (the
  * broadcast-join pattern): an edge set at or under
  * [[DefaultLocalEdgeBound]] resolves through an exact single-task
  * union-find — one job — because the distributed loop's cost at small
  * scale is pure scheduler constant (~4 shuffle stages + an action per
  * round) times a round count that grows as ~log_φ(diameter) on
  * chain-heavy graphs. The loop below remains the past-the-bound path.
  *
  * `rounds <= 0` (the production default) runs Borůvka hook-and-contract
  * to the empty contracted graph — exact connected components in
  * O(log n) rounds for ANY id ordering (round 14; see the loop body for
  * the one-hop degeneration that retired the pointer-doubling form) —
  * capped at `maxRounds` as a loud backstop ([[DefaultMaxRounds]]; a
  * parameter, not a code change — round-10 advice). A positive `rounds`
  * keeps the bounded-unroll one-hop form for oracle mirrors and
  * shallow-graph equivalence specs.
  *
  * Scale posture: each round shuffles the CONTRACTED cluster-edge set
  * (shrinking geometrically — self-loops drop at every contraction) plus
  * one cluster-sized hook/compress map; isolated docs never enter
  * (callers union them back). The convergence test is FOLDED INTO the
  * checkpoint materialization: the round's single action counts the
  * contracted edges (zero left IS convergence) while the lazily-marked
  * checkpoints persist their blocks — round 10 paid an eager checkpoint
  * PLUS a separate `isEmpty` per round, and `isEmpty`'s take(1)
  * escalation made the "cheap" test 2–4 scheduler round-trips on an
  * about-to-converge graph; that constant was the real component of
  * dd_near_apply's round-10 bench regression. */
object Propagation {

  /** Backstop for the fixpoint loop. Borůvka hook-and-contract merges
    * every cluster that is NOT a local id-minimum per round — for ANY
    * id ordering, unlike the pointer-doubling loop it replaced in
    * round 14 (whose 2^round horizon claim silently degenerated to ONE
    * hop per round on paths whose ids increase toward the component
    * minimum). Local minima form an independent set in the cluster
    * graph and are absorbed as their neighborhoods merge, so rounds
    * are O(log n) in practice (spec-pinned: diameter-63 chains under
    * every id ordering close in ≤ ~10 rounds; seeded random graphs in
    * ≤ 5) — but min-hooking has no per-round HALVING theorem (a star
    * whose center is the local max shrinks k+1 → k in its first
    * round), so 64 is a generous practical ceiling, not a 2^64 proof.
    * Hitting the backstop aborts loudly (never wrong results) and
    * means the loop or the graph deserves a look. Kept as a parameter
    * so the bounded-unroll oracle mirrors and pathology drills can
    * lower it. */
  val DefaultMaxRounds = 64

  /** Edge-count bound under which the fixpoint dispatches to the
    * single-task union-find instead of the round loop (conf
    * `spark.graft.components.localEdges`; 0 disables the gate).
    * UNIT: DIRECTED candidate pairs — the (d1, d2) rows the dedup
    * engines count before symmetrizing. [[minLabelCounted]] receives
    * the SYMMETRIZED edge set and halves its count before comparing,
    * so one knob value admits the same graph through every gate
    * (round-14 advice: the un-normalized core gate let a graph twice
    * the documented budget through). The broadcast-join pattern applied
    * to connected components: per distributed round the loop pays ~4
    * shuffle stages plus a count action — a fixed multi-second
    * scheduler constant at ANY graph size — and a chain-heavy pair
    * graph needs ~log_φ(diameter) rounds (the round-12 semdedup
    * regression: 19 rounds × ~2.4 s on a 2,324-edge graph). Union-find
    * over one coalesced partition is exact, one job, and at 8M pairs
    * costs ~10⁸ find steps on one executor thread with a 16 B/vertex
    * primitive parent map (≈256 MB at the worst-case 16M vertices,
    * ~32 MB typical) — inside an executor's working set. Past the
    * bound the distributed loop (and, on the cell path, cell-local
    * contraction first) carries the 100 TB posture. */
  val DefaultLocalEdgeBound: Long =
    graft.GraftConf.ComponentsLocalEdges.default.toLong

  private[operators] def localEdgeBound(edges: DataFrame): Long =
    graft.GraftConf.long(edges.sparkSession,
      graft.GraftConf.ComponentsLocalEdges)

  /** Open-addressing long→long map (power-of-2 capacity, linear
    * probing, amortized-doubling) — the union-find's parent store. A
    * boxed HashMap costs ~60 B/entry (≈1 GB at the 8M-edge bound's
    * worst-case 16M vertices); two parallel long arrays cost 16 B/entry
    * (≈256 MB worst case, ~32 MB typical), which is what makes the
    * single-task gate honest. Keys must not be Long.MinValue (the empty
    * slot marker; vec/doc ids are non-negative). */
  private final class LongLongMap(initialCap: Int) {
    private val Empty = Long.MinValue
    private var cap = Integer.highestOneBit(math.max(16, initialCap) * 2 - 1) << 1
    private var keys = Array.fill(cap)(Empty)
    private var vals = new Array[Long](cap)
    private var n = 0
    private def slot(k: Long): Int = {
      // splitmix64 finalizer — avalanches sequential ids
      var h = k * -7046029254386353131L
      h = (h ^ (h >>> 32)) * -4658895280553007687L
      var i = ((h ^ (h >>> 32)) & (cap - 1)).toInt
      while (keys(i) != Empty && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def getOrElse(k: Long, dflt: Long): Long = {
      val i = slot(k); if (keys(i) == Empty) dflt else vals(i)
    }
    def contains(k: Long): Boolean = keys(slot(k)) != Empty
    def put(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (keys(i) == Empty) {
        keys(i) = k; vals(i) = v; n += 1
        if (n * 2 > cap) grow()
      } else vals(i) = v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1; keys = Array.fill(cap)(Empty); vals = new Array[Long](cap); n = 0
      var i = 0
      while (i < ok.length) { if (ok(i) != Empty) put(ok(i), ov(i)); i += 1 }
    }
    def size: Int = n
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < keys.length) { if (keys(i) != Empty) f(keys(i)); i += 1 }
    }
  }

  /** In-memory exact union-find over an edge iterator → (vertex, min id
    * of its component) — the sequential core shared by [[unionFindLocal]]
    * (whole graph, one coalesced task) and the cell-contraction phase
    * (one bounded group per k-means cell). Unions always point the larger
    * root at the smaller, so every root IS its component's minimum. */
  private[operators] def unionFind(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new LongLongMap(1024)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val nx = parent.getOrElse(c, c); parent.put(c, r); c = nx
      }
      r
    }
    it.foreach { case (a, b) =>
      if (!parent.contains(a)) parent.put(a, a)
      if (!parent.contains(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.foreachKey(v => out += ((v, find(v))))
    out.iterator
  }

  /** Exact min-label components via union-find over ONE coalesced
    * partition — the small-graph physical strategy behind [[minLabel]]'s
    * size gate (also called directly by the cell-contraction path on its
    * condensed graph). Input edges need not be symmetric or deduped; ids
    * must be integral. Output matches the loop's contract exactly:
    * (idCol, label = min id reachable) over the edge VERTEX set only. */
  private[graft] def unionFindLocal(edges: DataFrame,
      idCol: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)]
      .repartition(1)
      .mapPartitions(unionFind)
      .toDF(idCol, "label")
  }

  /** Phase A of [[contractThenClose]]: (id, label_local) — each
    * vertex's per-group component minimum, one bounded union-find per
    * group over that group's pair list. Input is (gkey, d1, d2); ANY
    * partition of the pair list into groups is exact (every pair's
    * union happens in at least its own group; cross-group structure is
    * phase B's job), so the group key can be a k-means cell, an LSH
    * (band, sig) bucket hash, or any other generator of the pairs. */
  private[graft] def groupLocalLabels(groupedPairs: DataFrame,
      materialize: Boolean): DataFrame = {
    val spark = groupedPairs.sparkSession
    import spark.implicits._
    Stage.snap(
      groupedPairs.select(col("gkey").cast("long"), col("d1").cast("long"),
          col("d2").cast("long"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups((_, it) => unionFind(it.map(t => (t._2, t._3))))
        .toDF("id", "label_local")
        .distinct(),
      materialize)
  }

  /** Phase B input of [[contractThenClose]]: symmetric condensed edges
    * — one star per vertex spanning groups, from its smallest local
    * label to the rest. Snapped BEFORE the symmetric union (the
    * both-branches rule every pair snapshot follows). */
  private[graft] def bridgeEdges(local: DataFrame,
      materialize: Boolean): DataFrame = {
    val bridges = Stage.snap(
      local.groupBy("id")
        .agg(min(col("label_local")).as("m"),
          collect_set(col("label_local")).as("ls"))
        .select(col("m"), explode(col("ls")).as("o"))
        .where(col("o") =!= col("m")),
      materialize)
    bridges.select(col("m").as("a"), col("o").as("b"))
      .unionByName(bridges.select(col("o").as("a"), col("m").as("b")))
  }

  /** Group-local contraction then condensed global closure — exact
    * connected components in two phases (the standard two-level CC
    * composition; SemDeDup's own cluster-first shape, shared since
    * round 14 by the embedding-cell AND lexical-band dedup engines):
    *
    *   A. one union-find per group over the group's pair list (bounded
    *      by group size: ~cellTarget·probes for k-means cells, the LSH
    *      bucket size for bands) emits (id, local min). Dense
    *      intra-group structure — near-cliques at near-dup thresholds —
    *      collapses here, in ONE shuffle, the work the global fixpoint
    *      was paying ~19 rounds for.
    *   B. a vertex in two groups bridges its local components: per
    *      vertex, a star from its smallest local label to the rest.
    *      The global fixpoint runs only on this condensed graph — and
    *      re-gates through [[minLabel]], so a condensed graph under the
    *      bound resolves in one more job.
    *
    * Exact: components(∪ per-group edges) ≡ components(pairs) because
    * every pair lives in ≥1 group of the SAME grouping that carried it
    * in, and phase B's stars connect exactly the local components that
    * share a vertex. Labels are min-ids at every level, so the composed
    * min is the component's global min id. Input (gkey, d1, d2) — a
    * pair may appear under several groups (dedup is unnecessary: the
    * union-find tolerates duplicate edges). Output (idCol, label) over
    * the pair vertex set. */
  private[graft] def contractThenClose(groupedPairs: DataFrame,
      idCol: String, materialize: Boolean, maxRounds: Int): DataFrame = {
    val local = groupLocalLabels(groupedPairs, materialize)
    val condensed = bridgeEdges(local, materialize)
    val glab = minLabel(condensed, "label_local", 0, materialize, maxRounds)
      .select(col("label_local"), col("label").as("glabel"))
    local.join(glab, Seq("label_local"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("glabel"), col("label_local")).as("label"))
      .groupBy(idCol).agg(min(col("label")).as("label"))
  }

  /** Stage snapshot that also RESETS plan-statistics flow: a
    * LAZILY-MARKED localCheckpoint ([[Stage.snapLazy]] — the caller's
    * next count both persists the blocks AND answers its convergence
    * test, one action instead of checkpoint + probe; round-15, closing
    * the round-14 advice that the eager form had quietly regressed the
    * folded-convergence optimization) re-wrapped in a fresh leaf, which
    * drops the ESTIMATED origin statistics the checkpoint node would
    * otherwise carry into the next consumer's plan. The contraction
    * loop references its hook/compress map twice and the edge set once
    * per round, so carried size estimates compound ×~5 per round —
    * measured in the round-14 crossover harness as the optimizer
    * spending MINUTES in BigInteger.multiplyToomCook3 (and eventually
    * overflowing BigInteger's 2^31-bit cap) once a loop ran past ~10
    * rounds. A fresh leaf pins each round's estimates at the
    * conservative constant default. The Row re-wrap costs one
    * conversion pass over a cluster-sized, geometrically-shrinking
    * frame — only on the past-the-union-find-bound path. CONTRACT:
    * every snapReset caller must run an action on the result before
    * (or as) its first fan-out read — the loop's convergence counts
    * are exactly those actions. */
  private def snapReset(df: DataFrame, materialize: Boolean): DataFrame =
    if (!materialize) df
    else {
      val cp = Stage.snapLazy(df)
      cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }

  /** [[minLabel]] plus the number of rounds the fixpoint actually ran —
    * the observable the O(log d) convergence specs assert on (a 60-hop
    * chain must close in ~7 rounds, not 60). */
  final case class Labeled(labels: DataFrame, rounds: Int)

  /** Labels every vertex of `edges` with the minimum id reachable from it.
    *
    * @param edges symmetric edge set with columns (a, b) — callers snapshot
    *              it first (every round joins it)
    * @param idCol output vertex-id column name ("doc_id" / "vec_id")
    * @param rounds <= 0 → iterate to convergence; positive → exactly that
    *               many bounded rounds (oracle-mirror form)
    * @param materialize false keeps the all-lazy plan (plan inspection /
    *                    equivalence tests); fixpoint mode requires true
    * @return (idCol, label) over the edge vertex set ONLY — isolated docs
    *         are the caller's union */
  def minLabel(edges: DataFrame, idCol: String, rounds: Int = 0,
      materialize: Boolean = true,
      maxRounds: Int = DefaultMaxRounds): DataFrame =
    minLabelCounted(edges, idCol, rounds, materialize, maxRounds).labels

  /** [[minLabel]], returning the round count too. */
  def minLabelCounted(edges: DataFrame, idCol: String, rounds: Int = 0,
      materialize: Boolean = true,
      maxRounds: Int = DefaultMaxRounds): Labeled = {
    val fixpoint = rounds <= 0
    // SIZE GATE (fixpoint mode only; materialize=false keeps the all-lazy
    // loop for plan inspection): a snapped edge set at or under the bound
    // dispatches to the exact single-task union-find — one job instead of
    // rounds × (4 shuffle stages + a count), the constant that made the
    // round-12 semdedup trio 8–10× slower on a 2,324-edge graph. Bounded-
    // unroll mode (positive `rounds`) never gates: it exists to mirror
    // the oracle's unrolled SQL shape exactly.
    // gate only on bigint ids: the union-find emits long labels, and the
    // two physical strategies must agree on schema as well as rows
    val longIds = Seq("a", "b").forall(c =>
      edges.schema(c).dataType == org.apache.spark.sql.types.LongType)
    if (fixpoint && materialize && longIds) {
      val bound = localEdgeBound(edges)
      // the knob's unit is DIRECTED pairs; this edge set is symmetric
      // (callers union both directions), so halve before comparing —
      // every gate in the engine admits the same graph size
      if (bound > 0 && edges.count() <= 2L * bound)
        return Labeled(Stage.snap(unionFindLocal(edges, idCol), materialize), 1)
    }
    val vertices = edges.select(col("a").as(idCol)).distinct()
    var labels = vertices.select(col(idCol), col(idCol).as("label"))
    val cap = if (fixpoint) maxRounds else rounds
    var round = 0
    var converged = false
    if (!fixpoint) {
      // bounded-unroll form: pure one-hop min-label — the shape the
      // DuckDB oracles mirror with chained CTEs; never gated, never
      // compressed.
      while (round < cap) {
        val nbrMin = edges.join(labels, edges("b") === labels(idCol))
          .groupBy(col("a")).agg(min("label").as("nl"))
        val stepped = labels
          .join(nbrMin, labels(idCol) === nbrMin("a"), "left_outer")
          .select(col(idCol),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        labels = Stage.snap(stepped, materialize)
        round += 1
      }
      return Labeled(labels, round)
    }
    // Fixpoint form: BORŮVKA HOOK-AND-CONTRACT (round 14). The previous
    // pointer-doubling min-label loop was O(log d) only when ids
    // DECREASE toward the component minimum along paths: on an "uphill"
    // run (ids increasing toward the min — content-addressed ids,
    // wrap-around orderings, any non-monotone numbering) every label
    // pointed AWAY from the min, the jump map compressed toward a local
    // id minimum, and the true min crawled ONE hop per round — measured
    // in the round-14 crossover harness as non-convergence at 16 rounds
    // on a diameter-63 chain whose ids straddle a modular wrap. Hooking
    // follows EDGES instead of label horizons, so no ordering can
    // defeat it:
    //
    //   hook:     every cluster adopts min(itself, min adjacent cluster)
    //   compress: one pointer-jump over the hook forest (chains halve)
    //   contract: edges relabel to cluster roots; self-loops drop
    //
    // Each round every cluster that is NOT a local id-minimum hooks
    // into a strictly-smaller neighbor and contracts away. Local minima
    // form an independent set in the cluster graph (two adjacent
    // clusters can't both be smaller than each other) and are absorbed
    // as their neighborhoods merge into them, so rounds are O(log n) in
    // PRACTICE — spec-pinned (diameter-63 chains under every id
    // ordering close in ≤ ~10 rounds; seeded random graphs in ≤ 5) —
    // but min-hooking carries no per-round halving THEOREM (a star
    // whose center is the local max shrinks k+1 → k clusters in its
    // first round; Kiveris et al.'s provable O(log n) variants
    // alternate large-star/small-star hooks). The maxRounds backstop is
    // therefore a loud abort on pathology, never wrong results
    // (round-14 advice: the previous comment overstated this as a
    // halving guarantee).
    // Cluster ids are always original vertex ids and only ever decrease
    // to ids of ADJACENT clusters, and the component minimum never
    // hooks away, so the terminal one-cluster-per-component state is
    // labeled by exactly the component min — the same contract as the
    // union-find gate (spec-pinned equivalent on seeded random graphs).
    //
    // ONE action per round-step (round-15): every snapReset below is a
    // LAZY checkpoint mark, and the count that follows it — the
    // contracted-edge convergence test, the compression stability test
    // — is the job that persists its blocks. The vertex→cluster map
    // stays a lazy chain over those per-round snapshots and
    // materializes once at the end.
    var ce = snapReset(
      edges.select(col("a").as("x"), col("b").as("y"))
        .where(col("x") =!= col("y")).distinct(),
      materialize)
    converged = ce.count() == 0L
    while (!converged && round < cap) {
      val hooks = ce.groupBy("x").agg(min("y").as("h"))
      // compress the hook forest to IDEMPOTENCE: min-neighbor hooking on
      // a monotone path produces one long parent chain, and a single
      // compression step only shortens it by 2 per round (measured: 30
      // rounds on a 60-hop path). Pointer-jumping the map against
      // itself doubles the jump distance per step — log(depth) steps —
      // and exactness survives ANY early exit (a partially compressed
      // map still maps to valid smaller cluster ids; the next outer
      // round continues), so the cap is a safety, not a correctness,
      // bound.
      var comp = snapReset(
        hooks.select(col("x"), col("x").as("prev"),
          least(col("x"), col("h")).as("nx")),
        materialize)
      // ONE action per compression step (round-15): the changed-row
      // count runs on the lazily-marked snapshot, so the job that
      // answers the stability test is the SAME job that persists the
      // step's blocks — the eager-snap + separate-probe form paid
      // 2 actions × O(log depth) steps × O(log n) rounds on the
      // past-bound path (round-14 advice; action census spec-pinned).
      var changed = comp.where(col("nx") =!= col("prev")).count()
      var steps = 0
      while (changed > 0L && steps < cap) {
        comp = snapReset(
          comp.join(
              comp.select(col("x").as("t"), col("nx").as("tn")),
              comp("nx") === col("t"), "left_outer")
            .select(col("x"), col("nx").as("prev"),
              least(col("nx"), coalesce(col("tn"), col("nx"))).as("nx")),
          materialize)
        changed = comp.where(col("nx") =!= col("prev")).count()
        steps += 1
      }
      val ceNew = ce
        .join(comp.select(col("x"), col("nx").as("cx")), Seq("x"))
        .join(comp.select(col("x").as("y"), col("nx").as("cy")), Seq("y"))
        .select(col("cx").as("x"), col("cy").as("y"))
        .where(col("x") =!= col("y")).distinct()
      val ceSnap = snapReset(ceNew, materialize)
      converged = ceSnap.count() == 0L
      ce = ceSnap
      labels = labels.join(
          comp.select(col("x").as("label"), col("nx")), Seq("label"),
          "left_outer")
        .select(col(idCol), coalesce(col("nx"), col("label")).as("label"))
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"hook-and-contract did not converge in $maxRounds rounds — " +
          "min-hooking has no per-round halving guarantee (each round " +
          "only contracts an independent star set), so investigate the " +
          "loop or graph pathology before raising maxRounds")
    Labeled(Stage.snap(labels, materialize), round)
  }
}
