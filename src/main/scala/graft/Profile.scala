package graft
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job-census profiler for single queries (optimization-round harness):
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.Profile lx_search"
  * Runs each named query once warm (untimed) then once measured, printing
  * one line per Spark JOB (wall ms, stages, tasks, description tail) plus
  * the per-query total and job count — the "where do the seconds go"
  * breakdown the UI would give if it were enabled: a query whose time is
  * many ~100 ms jobs is scheduling-constant-bound (fix: fewer actions);
  * one with a few fat jobs is compute/shuffle-bound (fix: the plan).
  * An unknown query name or a failing measured run prints a line and
  * moves on to the next argument. Session: [[LocalSession]].
  */
object Profile {
  /** Written on the listener-bus thread, read on the main thread. */
  private final class JobRow(val id: Int, val start: Long, val desc: String) {
    @volatile var end: Long = 0L
    @volatile var stages: Int = 0
    @volatile var tasks: Int = 0
    val names = new java.util.concurrent.CopyOnWriteArrayList[String]()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("graft-profile")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, new JobRow(e.jobId, e.time, d))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        // charge the stage to the newest unfinished job — good enough for
        // the sequential single-query runs this harness does
        val it = order.iterator()
        var last: JobRow = null
        while (it.hasNext) {
          val r = jobs.get(it.next())
          if (r != null && r.end == 0L) last = r
        }
        if (last != null) {
          last.stages += 1
          last.tasks += e.stageInfo.numTasks
          last.names.add(e.stageInfo.name.takeWhile(_ != '+').trim)
        }
      }
    })
    // Wait for the listener bus to go quiet: poll until the job count
    // and the number of ended jobs stop changing across one interval.
    def drain(): Unit = {
      def snapshot = (jobs.size, jobs.values.asScala.count(_.end > 0))
      var prev = (-1, -1)
      var cur = snapshot
      var polls = 0
      while (cur != prev && polls < 50) {
        Thread.sleep(100)
        prev = cur; cur = snapshot; polls += 1
      }
    }
    try {
      // same untimed warmup as Bench
      try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
      for (name <- args) SparkEntry.queries.get(name) match {
        case None =>
          println(s"UNKNOWN QUERY $name; valid names: " +
            SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
        case Some(fn) =>
          // warm run (codegen/classload), untimed
          try fn(spark, sfDir).queryExecution.toRdd.count()
          catch { case t: Throwable => println(s"WARM FAIL $name: $t") }
          // late warm-run events must not be charged to the measured run
          drain()
          jobs.clear(); order.clear()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).queryExecution.toRdd.count()
            val wall = (System.nanoTime() - t0) / 1e9
            drain()
            report(name, wall, jobs, order)
          } catch { case t: Throwable => println(s"MEASURE FAIL $name: $t") }
      }
    } finally spark.stop()
  }

  private def report(name: String, wall: Double,
      jobs: java.util.concurrent.ConcurrentHashMap[Int, JobRow],
      order: java.util.concurrent.CopyOnWriteArrayList[Int]): Unit = {
    val rows = order.asScala.flatMap(id => Option(jobs.get(id))).toSeq
    println(f"===== $name: wall=$wall%.2fs jobs=${rows.size} =====")
    for (r <- rows) {
      val ms = if (r.end > 0) r.end - r.start else -1L
      val sites = r.names.asScala.distinct.mkString(" | ")
      println(f"  job=${r.id}%3d ${ms}%6d ms stages=${r.stages}%2d tasks=${r.tasks}%4d  ${(r.desc + " " + sites).takeRight(110)}")
    }
    val sumMs = rows.filter(_.end > 0).map(r => r.end - r.start).sum
    println(f"  job-time sum=${sumMs / 1000.0}%.2fs vs wall=$wall%.2fs (gap = driver/plan/commit time)")
  }
}
