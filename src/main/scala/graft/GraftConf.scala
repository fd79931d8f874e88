package graft

import org.apache.spark.sql.SparkSession

/** The engine's session-conf knob surface, in one registry (round-13
  * advice: six `spark.graft.*` keys gated physical strategy from five
  * files with nothing catching a typo — a misspelled
  * `spark.graft.compnents.localEdges` silently left the default in
  * force, the worst failure mode a safety knob can have).
  *
  * Every knob read goes through [[long]]/[[string]], which first
  * [[validate]]s the session: any `spark.graft.*` key that is not in
  * the registry fails loudly with the known-key list. The scan is one
  * pass over the session conf map — noise next to the operator the
  * read gates. CONF.md renders this registry as the operator's manual
  * (default, unit, behavior on each side of the gate, and the spec
  * that pins the two physical paths row-identical).
  */
object GraftConf {

  final case class Knob(key: String, default: String, unit: String,
      what: String)

  /** Bound (in DIRECTED candidate pairs — minLabelCounted halves its
    * symmetric input count so every gate measures the same unit) under
    * which connected components dispatch to the exact single-task
    * union-find; 0 disables the gate (always loop). */
  val ComponentsLocalEdges: Knob = Knob(
    "spark.graft.components.localEdges", "8000000", "directed pairs",
    "union-find gate for min-label components (Propagation.minLabel)")

  /** Cell-count bound under which the hierarchical quantizer's child
    * tables broadcast; past it the super-key equi-join prunes. */
  val QuantizerBroadcastCells: Knob = Knob(
    "spark.graft.quantizer.broadcastCells", "131072", "cells",
    "broadcast gate for the two-level quantizer's child centroids")

  /** Stage-snapshot storage: `local` (localCheckpoint) or `reliable`
    * (SparkContext checkpoint dir — multi-executor clusters). */
  val Checkpoint: Knob = Knob(
    "spark.graft.checkpoint", "local", "mode",
    "stage snapshot storage (Stage.snap/snapLazy)")

  /** Loud abort bound on FuzzyJoin.resolve's estimated candidate/output
    * pair count — the r12 disclosed DNF fixed as a GUARD: a
    * duplicate-heavy corpus can make the full pair multiset
    * output-combinatorial (~10¹¹ rows at sf10) and fill the disk before
    * emitting; past the bound the call fails loudly and points at the
    * bounded forms (resolveCapped / resolveBest). 0 disables. */
  val FuzzyMaxPairs: Knob = Knob(
    "spark.graft.fuzzy.maxPairs", "1000000000", "estimated pairs",
    "output-bound guard for FuzzyJoin.resolve (abort, not a strategy gate)")

  /** ADVISORY rebuild threshold for the frozen-quantizer semantic
    * dedup index: when more than this percent of live member rows sit
    * in cells grown past 4× the build-time cellTarget, the drift card
    * (index-status / SemDedupIndex.driftCard) advises a rebuild.
    * Advisory only — verdicts stay exact under drift (candidate
    * ROUTING stales, scoring never approximates), so nothing aborts;
    * 0 advises on any oversized cell, 100 never advises. */
  val SemDedupRebuildAt: Knob = Knob(
    "spark.graft.semdedup.rebuildAt", "25", "percent of member rows",
    "drift-card rebuild advisory for SemDedupIndex (never aborts)")

  /** Vocab-row bound under which BPE merge training collects the word
    * vocabulary once and runs its merge rounds driver-side (identical
    * merge sequence — spec-pinned); past it the distributed per-round
    * loop runs. 0 disables the gate (always loop distributed). The
    * vocab is word-cardinality-sized, never corpus-sized: 256k rows ≈
    * tens of MB on the driver. */
  val BpeLocalVocab: Knob = Knob(
    "spark.graft.bpe.localVocab", "262144", "vocab rows",
    "driver-local gate for Bpe merge training (Bpe.bpeMerges)")

  val All: Seq[Knob] = Seq(ComponentsLocalEdges, QuantizerBroadcastCells,
    Checkpoint, FuzzyMaxPairs, SemDedupRebuildAt, BpeLocalVocab)

  private val known: Set[String] = All.map(_.key).toSet

  /** Fail loudly on any `spark.graft.*` session key outside the
    * registry — a typo'd knob must abort the job, not silently leave
    * the default in force. */
  def validate(spark: SparkSession): Unit = {
    val unknown = spark.conf.getAll.keys
      .filter(_.startsWith("spark.graft."))
      .filterNot(known)
    require(unknown.isEmpty,
      s"unrecognized spark.graft.* conf key(s): " +
        s"${unknown.toSeq.sorted.mkString(", ")} — known knobs: " +
        s"${All.map(_.key).sorted.mkString(", ")}")
  }

  def long(spark: SparkSession, knob: Knob): Long = {
    validate(spark)
    spark.conf.getOption(knob.key).map(_.toLong)
      .getOrElse(knob.default.toLong)
  }

  def string(spark: SparkSession, knob: Knob): String = {
    validate(spark)
    spark.conf.getOption(knob.key).getOrElse(knob.default)
  }
}
