package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one timed window.
  *
  * {{{
  * java -cp <classes>:<spark jars> perfbench.Main --workload delta_ticks \
  *   --seed 1 --seconds 20 --trace 0 --work <empty dir> [--cpus N]
  * }}}
  *
  * Prints progress lines, then one line `PERFBENCH_RESULT {json}` with
  * `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
  * with `--trace 0`, per-layer metrics with `--trace 1`). Exits 0 only
  * when every output check passed. `run.py` builds the classpath, runs
  * this in a fresh work root and deletes the root afterwards.
  */
object Main {

  def main(args: Array[String]): Unit = {
    def opt(name: String): Option[String] = {
      val i = args.indexOf(s"--$name")
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    def need(name: String) = opt(name).getOrElse(
      throw new IllegalArgumentException(s"--$name is required"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = need("work")
    val cpus = opt("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val make: (SparkSession, Env) => Workload = workload match {
      case "delta_ticks" => new DeltaTicks(_, _)
      case "curation_batches" => new CurationBatches(_, _)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (delta_ticks, curation_batches)")
    }

    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val census = if (trace) Some(new Census) else None
    census.foreach(spark.sparkContext.addSparkListener)
    val env = Env(work, seed, census)
    val ok = try {
      val result = new Runner(make(spark, env), env, seconds, sessionS,
        spark.sparkContext).run()
      println("PERFBENCH_RESULT " + result.json(trace))
      result.correct
    } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  /** The session exactly as the engine's CLI builds it (master, shuffle
    * partitions, time zone, parquet and UI settings), with Spark's local
    * (shuffle and spill) and warehouse directories moved into the work
    * root. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What every workload gets: its work root, the seed, and the census
  * listener when the run is traced. */
final case class Env(work: String, seed: Long, census: Option[Census]) {
  def path(sub: String): String = s"$work/$sub"
}

/** Raised by a workload's output check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
}

/** One benchmark workload. A cycle is one write-side operation followed
  * by one read-side operation; the runner repeats cycles until the timed
  * window closes. */
trait Workload {
  /** Builds the inputs and the state the cycles start from. */
  def setup(): Unit
  /** The write op of cycle `c`; returns its wall seconds. */
  def write(c: Int, traced: Boolean, rec: Recorder): Double
  /** The read op of cycle `c`; returns its wall seconds. */
  def read(c: Int, traced: Boolean, rec: Recorder): Double
  /** Whole-run checks after the last cycle. */
  def finish(): Unit
  /** Bytes on disk under the state roots ÷ live payload bytes. */
  def spaceAmp(): Double
  /** True when the workload has no more input for another cycle. */
  def exhausted(c: Int): Boolean = false
}

/** Per-layer samples of a traced run. Means of the recorded values, so
  * a metric recorded once per op is a per-op mean. */
final class Recorder {
  private val sums = mutable.LinkedHashMap[String, (Double, Int)]()
  def add(name: String, v: Double): Unit = {
    val (s, n) = sums.getOrElse(name, (0.0, 0))
    sums(name) = (s + v, n + 1)
  }
  def mean(name: String): Double =
    sums.get(name).map { case (s, n) => s / n }.getOrElse(0.0)
}

final class Runner(w: Workload, env: Env, seconds: Double, sessionS: Double,
    sc: org.apache.spark.SparkContext) {

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      e2e: Seq[(String, String, Double)], layers: Seq[(String, String, Double)]) {
    def json(trace: Boolean): String = {
      val ms = (if (trace) layers else e2e).map { case (n, u, v) =>
        val num = if (v.isNaN || v.isInfinite) "0" else v.toString
        s""""$n": {"value": $num, "unit": "$u"}"""
      }.mkString(", ")
      s"""{"correct": $correct, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": {$ms}}"""
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(): Result = {
    var attempted = 0
    var failed = 0
    def attempt(what: String)(f: => Double): Option[Double] = {
      attempted += 1
      try Some(f)
      catch {
        case e: Throwable =>
          failed += 1
          println(s"FAILED $what: $e")
          e.printStackTrace(System.out)
          None
      }
    }

    val t0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    println(f"setup: $setupS%.3f s")
    val trace = env.census.isDefined
    val rec = new Recorder
    val writes, reads = mutable.ArrayBuffer[(Boolean, Double)]()
    var c = 0
    // each op starts on a collected heap, after the set-up's JIT
    // compile queue has had a moment to drain: less noise, same work
    def settle(ms: Long): Unit = { System.gc(); Thread.sleep(ms) }
    settle(1000)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run alternates plain and traced cycles so its overhead is
    // a same-process difference; it always makes plain, traced, plain, so
    // the later cycles' warmer JIT does not pose as a negative overhead
    def more = System.nanoTime() < deadline ||
      (trace && c < 3) || (!trace && c < 1)
    // whole-cycle wall as the runner sees it, tracing work included
    val cycles = mutable.ArrayBuffer[(Boolean, Double)]()
    while (more && !w.exhausted(c) && failed == 0) {
      val traced = trace && c % 2 == 1
      val t0 = System.nanoTime()
      if (traced) Layers.discardCensus(env, sc)
      attempt(s"write op $c")(w.write(c, traced, rec))
        .foreach(t => writes += traced -> t)
      settle(100)
      attempt(s"read op $c")(w.read(c, traced, rec))
        .foreach(t => reads += traced -> t)
      if (traced) Layers.recordCensus(env, sc, rec)
      cycles += traced -> (System.nanoTime() - t0) / 1e9
      println(f"cycle $c${if (traced) " (traced)" else ""}: write " +
        f"${writes.lastOption.map(_._2).getOrElse(Double.NaN)}%.3f s, read " +
        f"${reads.lastOption.map(_._2).getOrElse(Double.NaN)}%.3f s")
      c += 1
      settle(100)
    }
    attempt("final checks") { w.finish(); 0.0 }
    val amp = w.spaceAmp()
    val rssMb = peakRssMb()

    val plainW = writes.filterNot(_._1).map(_._2).toSeq
    val plainR = reads.filterNot(_._1).map(_._2).toSeq
    val e2e = Seq(
      ("setup_s", "s", sessionS + setupS),
      ("write_s", "s", median(plainW)),
      ("read_s", "s", median(plainR)),
      ("space_amp", "ratio", amp),
      ("peak_rss_mb", "MB", rssMb))
    rec.add("trace.overhead_s", median(cycles.filter(_._1).map(_._2).toSeq) -
      median(cycles.filterNot(_._1).map(_._2).toSeq))
    val layers = Layers.names.map { case (n, u) => (n, u, rec.mean(n)) }
    Result(failed == 0, attempted, failed, e2e, layers)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The per-layer metrics every traced run prints, in order. */
object Layers {
  val Windows: Seq[String] = Seq("normalize", "fingerprint", "chunk",
    "payload", "sync", "store", "delete", "dedup", "semdedup_probe",
    "semdedup_upsert", "quality", "dsir", "lex_upsert", "ann_upsert",
    "lex_search", "ann_search", "semdedup_search")

  val names: Seq[(String, String)] = Seq(
    "normalize.s" -> "s", "fingerprint.s" -> "s", "chunk.s" -> "s",
    "chunk.rows" -> "count", "embed.s" -> "s", "embed.calls" -> "count",
    "embed.texts" -> "count", "embed.busy_ms" -> "ms",
    "sync.s" -> "s", "sync.self_s" -> "s", "sync.skip_ratio" -> "ratio",
    "sync_state.bytes_written" -> "bytes", "delete.s" -> "s",
    "store.upsert_s" -> "s", "store.delete_ids_s" -> "s",
    "store.delete_product_s" -> "s", "store.commits" -> "count",
    "store.bytes_written" -> "bytes", "store.rewrite_amp" -> "ratio",
    "skip.sync_s" -> "s", "skip.embed_texts" -> "count",
    "skip.store_commits" -> "count",
    "curation.dedup_s" -> "s", "curation.survivor_ratio" -> "ratio",
    "semdedup.probe_s" -> "s", "semdedup.upsert_s" -> "s",
    "semdedup.search_s" -> "s", "semdedup.survivor_ratio" -> "ratio",
    "quality.s" -> "s", "dsir.s" -> "s",
    "lex.upsert_s" -> "s", "ann.upsert_s" -> "s", "lex.search_s" -> "s",
    "ann.search_s" -> "s", "index.bytes_written" -> "bytes",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.executor_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.bytes_written" -> "bytes", "trace.overhead_s" -> "s") ++
    Windows.flatMap(w => Seq(s"spark.$w.jobs" -> "count",
      s"spark.$w.executor_ms" -> "ms", s"spark.$w.driver_gap_ms" -> "ms"))

  /** Drops what the census saw outside traced cycles. */
  def discardCensus(env: Env, sc: org.apache.spark.SparkContext): Unit =
    env.census.foreach { c => c.drain(sc); c.take(); perfbench.Windows.takeWallMs() }

  /** Drains the census and records one traced cycle's Spark counters,
    * per window and in total. */
  def recordCensus(env: Env, sc: org.apache.spark.SparkContext,
      rec: Recorder): Unit = env.census.foreach { c =>
    c.drain(sc)
    val accs = c.take()
    val wall = perfbench.Windows.takeWallMs()
    def sum(f: Census#Acc => Long) = accs.values.map(f).sum.toDouble
    rec.add("spark.jobs", sum(_.jobs.get))
    rec.add("spark.tasks", sum(_.tasks.get))
    rec.add("spark.executor_ms", sum(_.executorMs.get))
    rec.add("spark.shuffle_bytes", sum(_.shuffleBytes.get))
    rec.add("spark.spill_bytes", sum(_.spillBytes.get))
    rec.add("spark.bytes_written", sum(_.bytesWritten.get))
    import scala.jdk.CollectionConverters._
    val gaps = Windows.map { w =>
      val a = accs.get(w)
      val gap = Census.driverGapMs(wall.getOrElse(w, 0.0),
        a.map(_.intervals.asScala).getOrElse(Nil))
      rec.add(s"spark.$w.jobs", a.map(_.jobs.get.toDouble).getOrElse(0.0))
      rec.add(s"spark.$w.executor_ms",
        a.map(_.executorMs.get.toDouble).getOrElse(0.0))
      rec.add(s"spark.$w.driver_gap_ms", gap)
      gap
    }
    rec.add("spark.driver_gap_ms", gaps.sum)
  }
}
