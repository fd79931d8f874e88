package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.operators.Layout

/** Z-order layout: the Morton key interleaves correctly, the layout is
  * content-neutral, and — the actual claim — a 2-D range predicate
  * prunes more files under z-order than under a linear sort, measured
  * from the same per-file min/max stats a skipping reader consults.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Per-file min/max bounding boxes of (`c1`, `c2`) for a written
    * layout — the stats a reader's skipping logic consults. */
  private def fileStats(path: String, c1: String, c2: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(c1)).as("min1"), max(col(c1)).as("max1"),
        min(col(c2)).as("min2"), max(col(c2)).as("max2"))

  /** Files whose bounding box intersects the 2-D range predicate —
    * the files a skipping reader must open. */
  private def candidateFiles(stats: DataFrame, lo1: Long, hi1: Long,
      lo2: Long, hi2: Long): Long =
    stats.where(
      col("max1") >= lo1 && col("min1") <= hi1 &&
      col("max2") >= lo2 && col("min2") <= hi2).count()

  test("zkey interleaves bits (hand-computed cases)") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L))
      .toDF("a", "b")
      .select(Layout.zkey(col("a"), col("b"), 16).as("z"))
      .as[Long].collect().toSeq
    // interleave(a,b): a bits at even positions, b at odd
    // (3,5): a=011, b=101 -> z = b2 a2 b1 a1 b0 a0 = 1 0 0 1 1 1 = 100111b = 39
    assert(rows == Seq(0L, 1L, 2L, 39L, 65535L), rows.toString)
  }

  test("z-order prunes MORE files than a linear sort for a 2-D box; contents identical") {
    val base = Files.createTempDirectory("graft_zorder").toString
    val df = Catalog.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val nFiles = 16
    Layout.zorderWrite(df, "l_orderkey", "l_partkey", s"$base/z", nFiles)
    // the linear strawman: same file count, sorted on the first key only
    df.repartitionByRange(nFiles, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$base/linear")

    // content parity first — a layout must never change the data
    def rows(p: String) = spark.read.parquet(p)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$base/z") == rows(s"$base/linear"))

    val zStats = fileStats(s"$base/z", "l_orderkey", "l_partkey")
    val lStats = fileStats(s"$base/linear", "l_orderkey", "l_partkey")
    assert(zStats.count() == nFiles && lStats.count() == nFiles)

    // the honest workload: window predicates on EACH dimension. A
    // linear sort is unbeatable on its own sort key and prunes NOTHING
    // on the other; z-order is decent on both. The claim is the mixed
    // total, not supremacy per query.
    val (o1, o2) = df.agg(min("l_orderkey"), max("l_orderkey"))
      .as[(Long, Long)].head()
    val (p1, p2) = df.agg(min(col("l_partkey").cast("long")),
      max(col("l_partkey").cast("long"))).as[(Long, Long)].head()
    val oStep = math.max(1L, (o2 - o1) / 8); val pStep = math.max(1L, (p2 - p1) / 8)
    val workload =
      (0 until 4).map(i => // orderkey windows, partkey unbounded
        (o1 + i * 2 * oStep, o1 + (i * 2 + 1) * oStep, p1, p2)) ++
      (0 until 4).map(j => // partkey windows, orderkey unbounded
        (o1, o2, p1 + j * 2 * pStep, p1 + (j * 2 + 1) * pStep))
    def opened(stats: DataFrame) = workload.map {
      case (a, b, c, d) => candidateFiles(stats, a, b, c, d) }
    val (zOpened, lOpened) = (opened(zStats), opened(lStats))
    // partkey windows alone: the linear layout must open EVERY file
    // (full-range stats on the unsorted column), z-order must not
    assert(lOpened.drop(4).sum == 4L * nFiles,
      s"strawman unexpectedly pruned partkey windows: $lOpened")
    assert(zOpened.drop(4).sum < 4L * nFiles,
      s"z-order failed to prune partkey windows: $zOpened")
    // and the mixed workload favors z-order in aggregate
    assert(zOpened.sum < lOpened.sum,
      s"z-order opened ${zOpened.sum} files vs linear ${lOpened.sum} " +
        s"(z=$zOpened vs linear=$lOpened)")
  }

  test("zkey is a bijection onto [0, 4^bits) for tile pairs") {
    val pairs = for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong)
    val keys = pairs.toDF("a", "b")
      .select(Layout.zkey(col("a"), col("b"), 6).as("z"))
      .as[Long].collect().toSeq
    assert(keys.distinct.length == pairs.length, "zkey collided")
    assert(keys.min == 0L && keys.max == 4095L,
      s"zkey range is [${keys.min}, ${keys.max}], want [0, 4095]")
  }

  test("zkeyN is int-input safe: IntegerType keys interleave identically to long keys") {
    // the round-8 advisory: shiftleft returns int for int input, so an
    // IntegerType column at bit positions >= 31 overflowed into the
    // sign bit — zkeyN now casts to long internally. Pin: int and long
    // inputs produce the same keys, all non-negative, at bits=16 x 2
    // cols (positions up to 31, the exact overflow point).
    val vals = Seq(0, 1, 12345, 40000, 65535)
    val pairs = for (a <- vals; b <- vals) yield (a, b)
    val asInt = pairs.toDF("a", "b")
      .select(Layout.zkey(col("a"), col("b"), 16).as("z"))
      .as[Long].collect().toSeq
    val asLong = pairs.map { case (a, b) => (a.toLong, b.toLong) }
      .toDF("a", "b")
      .select(Layout.zkey(col("a"), col("b"), 16).as("z"))
      .as[Long].collect().toSeq
    assert(asInt == asLong, "int-typed keys diverged from long-typed keys")
    assert(asInt.forall(_ >= 0L), s"sign-bit overflow: ${asInt.filter(_ < 0)}")
    assert(asInt.distinct.length == pairs.length, "int-typed keys collided")
  }

  test("zkeyN generalizes: 3-column interleave is bijective on the tile grid") {
    val triples = for (a <- 0 until 16; b <- 0 until 16; c <- 0 until 16)
      yield (a.toLong, b.toLong, c.toLong)
    val keys = triples.toDF("a", "b", "c")
      .select(Layout.zkeyN(Seq(col("a"), col("b"), col("c")), 4).as("z"))
      .as[Long].collect().toSeq
    assert(keys.distinct.length == triples.length, "3-d zkey collided")
    assert(keys.min == 0L && keys.max == 4095L)
    // 2-col zkey is the N=2 case
    val two = Seq((3L, 5L)).toDF("a", "b")
      .select(Layout.zkeyN(Seq(col("a"), col("b")), 16).as("z"))
      .as[Long].head()
    assert(two == 39L)
    intercept[IllegalArgumentException] {
      Layout.zkeyN(Seq(col("a"), col("b")), 32)
    }
  }

  test("quantile tiling resists skew where min/max tiling collapses") {
    // heavily skewed first key (quadratic), uniform second
    val skewed = (0 until 4000)
      .map(i => (i.toLong * i.toLong, (i % 64).toLong))
      .toDF("x", "y")
    val base = Files.createTempDirectory("graft_zq").toString
    Layout.zorderWrite(skewed, "x", "y", s"$base/minmax", 16, bits = 8)
    Layout.zorderWriteQuantiled(skewed, "x", "y", s"$base/quant", 16, bits = 8)
    // content parity for both layouts
    def rows(p: String) = spark.read.parquet(p)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$base/minmax") == rows(s"$base/quant"))
    // min/max tiling: x = i^2 crams ~half the rows into the lowest
    // tiles -> per-file x-ranges in the dense region stay WIDE relative
    // to the data mass; quantile tiling splits by mass. Compare the
    // dense-region pruning directly: windows over the low-x half.
    val zq = fileStats(s"$base/quant", "x", "y")
    val zm = fileStats(s"$base/minmax", "x", "y")
    val xMax = 4000L * 4000L
    val boxes = (0 until 8).map { i =>
      val lo = i * xMax / 64; val hi = (i + 1) * xMax / 64
      (lo, hi, 0L, 63L) // dense-region x-windows, y unbounded
    }
    val qOpened = boxes.map { case (a, b, c, d) =>
      candidateFiles(zq, a, b, c, d) }.sum
    val mOpened = boxes.map { case (a, b, c, d) =>
      candidateFiles(zm, a, b, c, d) }.sum
    assert(qOpened < mOpened,
      s"quantile tiling opened $qOpened vs minmax $mOpened on the dense region")
  }
}
