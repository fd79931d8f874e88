package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The traced run must observe the engine, not change it: attaching the
  * census listener and the store/embedder decorators leaves the number of
  * Spark jobs a `SyncEngine.sync` pass submits unchanged. Jobs are counted
  * with Spark's own status tracker (a job group per pass), on two
  * identical fresh states built from the same seeded catalog. */
class CensusSpec extends AnyFunSuite with BeforeAndAfterAll {

  // under the build's own target dir: the spec writes nothing outside it
  private val work = {
    val t = java.nio.file.Paths.get("target")
    Files.createDirectories(t)
    Files.createTempDirectory(t.toAbsolutePath, "census-").toString
  }
  private lazy val spark = Main.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  private var groups = 0

  /** Jobs submitted by `f`, counted once the status store has seen a
    * later marker job (events are delivered in order). */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    groups += 1
    val g = s"census-$groups"
    sc.setJobGroup(g, g)
    try f finally sc.clearJobGroup()
    val marker = s"$g-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(5)
    sc.statusTracker.getJobIdsForGroup(g).length
  }

  test("listener and decorators leave sync's job count unchanged") {
    // adaptive execution submits query stages as jobs from async futures,
    // and how many it submits varies by one or two from run to run; with
    // it off a pass submits the same jobs every time, so any job the
    // listener or the decorators added would show as a difference
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val rig = new SyncRig(spark, s"$work/catalog")
    Inputs.writeCatalog(spark, s"$work/catalog", nParts = 40, seed = 7)
    // the session caches each input file's footer schema on first read;
    // warm it so no counted pass pays that one-off job
    rig.Roots(s"$work/warm").plainEngine.sync(rig.candidates(None)).collect()
    val Reps = 2
    val plain = (0 until Reps).map { i =>
      val eng = rig.Roots(s"$work/plain$i").plainEngine
      (jobsOf(eng.sync(rig.candidates(None)).collect()),
        jobsOf(eng.sync(rig.candidates(None)).collect()))
    }
    assert(plain.distinct.size == 1, s"plain passes disagree: $plain")

    val census = new Census
    val sc = spark.sparkContext
    sc.addSparkListener(census)
    try {
      val traced = (0 until Reps).map { i =>
        val tr = new rig.Traced(rig.Roots(s"$work/traced$i"))
        def pass() = Windows.within(sc, "sync")(
          tr.engine.sync(rig.candidates(None)).collect())
        val counts = (jobsOf(pass()), jobsOf(pass()))
        assert(tr.store.commits == 1, "cold pass commits once, no-change pass never")
        counts
      }
      assert(traced == plain,
        s"(cold, no-change) pass jobs: traced $traced, plain $plain")
      census.drain(sc)
      val seen = census.take()
      val charged = Seq("sync", "store").flatMap(seen.get).map(_.jobs.get).sum
      assert(charged == traced.map(t => t._1 + t._2).sum,
        "every job of a traced pass is charged to the sync or store window")
    } finally sc.removeSparkListener(census)
  }
}
