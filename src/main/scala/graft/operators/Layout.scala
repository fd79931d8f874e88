package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton curve) file layout — multi-column data skipping for
  * the scan-bound queries this engine lives on: parquet keeps per-file
  * and per-row-group min/max stats, and the reader skips a file whose
  * [min,max] box misses the predicate. A single-column sort makes that
  * box tight on ONE column and full-range on every other; interleaving
  * the bits of two key columns into one sort key tiles the 2-D key
  * space instead, so per-file bounding boxes are tight on BOTH columns
  * and a 2-D range predicate prunes files no linear sort could.
  *
  * At 100 TB this is a LAYOUT decision, paid once at write time (one
  * range shuffle on the z-key) and collected on every subsequent scan —
  * same amortization argument as [[Bucketing]] (co-located joins) and
  * [[AnnIndex]] (partitioned cells); z-order covers the range-predicate
  * family those two don't.
  *
  * The z-key is pure codegen'd bit arithmetic (shift/mask/or folds —
  * no UDF); keys normalize to 2^bits tiles via min/max scaling (one
  * 4-value aggregate, then map-only keying — NOT a global rank window,
  * which would funnel every row through one task). Min/max tiling
  * assumes roughly uniform keys (true of id spaces); a heavily skewed
  * column wants quantile cut points instead — swap the normalizer,
  * the interleave and write path are unchanged.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of `a` (even positions)
    * and `b` (odd positions). Inputs must be non-negative longs. */
  def zkey(a: Column, b: Column, bits: Int = 16): Column =
    zkeyN(Seq(a, b), bits)

  /** N-column Morton interleave (round-robin: column j's bit i lands
    * at position i·d + j). `bits × cols.length` must fit in 63 bits —
    * in practice more than 3-4 layout dimensions dilutes every
    * per-column bounding box past usefulness anyway (the curse that
    * makes wide z-order a smell, not a feature).
    *
    * Inputs are cast to long BEFORE the shifts: Spark's `shiftleft`
    * returns int for int input, so an IntegerType key would overflow
    * into the sign bit at positions ≥ 31 and silently produce
    * negative/colliding z-keys (round-8 advisory). */
  def zkeyN(cols: Seq[Column], bits: Int = 16): Column = {
    val d = cols.length
    require(d >= 1 && bits * d <= 63,
      s"zkeyN needs bits*cols <= 63, got $bits x $d")
    cols.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c0, j)) =>
      val c = c0.cast("long")
      (0 until bits).foldLeft(acc) { (a, i) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * d + j))
      }
    }
  }

  /** Write `df` z-ordered on (`c1`, `c2`) into `nFiles` files at
    * `path`: rank-normalize both keys, range-partition on the
    * interleaved key, sort within partitions, write. One shuffle. */
  def zorderWrite(df: DataFrame, c1: String, c2: String, path: String,
      nFiles: Int = 8, bits: Int = 16): Unit = {
    val Array(lo1, hi1, lo2, hi2) = df
      .agg(min(col(c1)).cast("double"), max(col(c1)).cast("double"),
        min(col(c2)).cast("double"), max(col(c2)).cast("double"))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    val n = (1L << bits).toDouble
    def tile(c: Column, lo: Double, hi: Double): Column =
      least(lit((1L << bits) - 1),
        floor((c.cast("double") - lo) * n / (hi - lo + 1.0)).cast("long"))
    val keyed = df.withColumn("_zkey",
      zkey(tile(col(c1), lo1, hi1), tile(col(c2), lo2, hi2), bits))
    keyed
      .repartitionByRange(nFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Quantile tile index: the number of cut points ≤ the value — an
    * equi-DEPTH tiling, vs [[zorderWrite]]'s equi-width min/max
    * scaling. One codegen'd fold over a literal cut array per row;
    * no shuffle, no window. */
  // Binary search over the sorted cuts — a deliberate UDF. The
  // declarative forms are O(cuts) PER ROW and worse than that in
  // practice: an `aggregate` HOF interprets its lambda per element
  // (round 9: 48 s over sf0.1 lineitem at 2×255 cuts), and a static
  // when-sum builds a 255-deep Add chain whose generated method blows
  // the JIT limit (measured 81 s; 24 s even at 63 cuts). The UDF is
  // O(log cuts) row-local work — 2.7 s-class on the same input — and
  // sits in a write-path projection where codegen fusion buys nothing.
  // Returns the count of cuts ≤ v (ties count every duplicate cut,
  // matching the when-sum semantics on skewed cut arrays); null keys
  // are not expected on layout columns (primitive-input UDF yields
  // null row-wise if they appear).
  private def quantileTile(c: Column, cuts: Array[Double]): Column = {
    val tile = udf((v: Double) => {
      var lo = 0
      var hi = cuts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (v >= cuts(mid)) lo = mid + 1 else hi = mid
      }
      lo.toLong
    })
    tile(c.cast("double"))
  }

  /** Skew-resistant z-order: tile boundaries are per-column QUANTILE
    * cut points (distributed sketch via `approxQuantile`, driver gets
    * only the 2^bits-1 cuts), so every tile holds ~equal row mass
    * whatever the key distribution. Min/max tiling collapses a skewed
    * column into a handful of occupied tiles — the interleave then
    * degenerates toward a linear sort on the other column and range
    * partitioning piles equal z-keys into oversized files (equal keys
    * cannot split across range partitions). Same write path; `bits`
    * defaults lower because the per-row fold is 2^bits-1 comparisons
    * per column (256 tiles/dim is ample for FILE-level skipping). */
  def zorderWriteQuantiled(df: DataFrame, c1: String, c2: String,
      path: String, nFiles: Int = 8, bits: Int = 8): Unit = {
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val Array(cuts1, cuts2) =
      df.stat.approxQuantile(Array(c1, c2), probs, 0.001)
    // Two-step on purpose: zkeyN references each tile input `bits`
    // times (once per interleaved bit), so passing the 2^bits-1-branch
    // tile expression DIRECTLY builds a tree with bits× syntactic
    // copies of it (~4000 nodes at bits=8 — codegen bails and round 9
    // measured the interpreted fallback at 80+ s on sf0.1 lineitem).
    // Materializing the tiles as attributes first makes every zkey
    // reference a cheap column read; CollapseProject keeps the split
    // because it never inlines a non-cheap expression used more than
    // once.
    val tiled = df.select(df.columns.map(col) :+
      quantileTile(col(c1), cuts1).as("_t1") :+
      quantileTile(col(c2), cuts2).as("_t2"): _*)
    tiled
      .withColumn("_zkey", zkey(col("_t1"), col("_t2"), bits))
      .repartitionByRange(nFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey", "_t1", "_t2")
      .write.mode("overwrite").parquet(path)
  }
}
