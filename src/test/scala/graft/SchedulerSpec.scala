package graft

import java.nio.file.Files
import java.time.Instant

import graft.catalog.Catalog
import graft.scan.{RetryPolicy, Scheduler, Watermark}

/** Scheduler semantics per the reference's test plan
  * (`development-plan.md:1794-1801`): enqueue ≤ limit, quota=0 → no
  * enqueues, watermark lookback, retry schedules and transient
  * classification.
  */
class SchedulerSpec extends SparkSpec {

  private def products = Catalog.products(spark, sfDir)
  private def syncState = Catalog.syncState(spark, sfDir)
  private val now = Instant.parse("2024-01-03T00:00:00Z")

  test("scan enqueues at most min(limit, quota) candidates") {
    val planned = Scheduler.planScan(products, syncState,
      watermark = None, now = now, limit = 10, quotaLeft = 3)
    assert(planned.count() == 3)
  }

  test("quota 0 -> empty plan; quota floors at zero") {
    assert(Scheduler.quota(3, 5) == 0)
    assert(Scheduler.quota(3, 1) == 2)
    val planned = Scheduler.planScan(products, syncState,
      watermark = None, now = now, limit = 10, quotaLeft = 0)
    assert(planned.count() == 0)
  }

  test("watermark: persisted value wins, else 48h lookback from now") {
    assert(Scheduler.since(Some("2024-01-02 11:22:33"), now) == "2024-01-02 11:22:33")
    assert(Scheduler.since(None, now) == "2024-01-01 00:00:00")
    val wm = new Watermark(
      Files.createTempDirectory("graft-wm").resolve("last_scan").toString,
      spark.sparkContext.hadoopConfiguration)
    assert(wm.get.isEmpty)
    wm.set("2024-01-02 00:00:00")
    assert(wm.get.contains("2024-01-02 00:00:00"))
  }

  test("retry policy: schedules and transient classification") {
    assert(Seq(1, 2, 3).map(RetryPolicy.httpBackoffMs) == Seq(250L, 750L, 2250L))
    assert(Seq(1, 2).map(RetryPolicy.jobDelaySec) == Seq(60L, 180L))
    assert(RetryPolicy.isTransient("wcvec_http_error", ""))
    assert(RetryPolicy.isTransient("", "HTTP 429"))
    assert(RetryPolicy.isTransient("", "Too Many Requests"))
    assert(RetryPolicy.isTransient("", "connect timeout"))
    assert(!RetryPolicy.isTransient("wcvec_dim_mismatch", "bad vector length"))
  }
}
