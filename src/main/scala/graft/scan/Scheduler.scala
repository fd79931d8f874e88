package graft.scan

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.StateCommit

/** Scheduler semantics (SURVEY §2.11 T3–T6): persisted scan watermark with
  * 48 h first-scan lookback, admission-control quota, and the two-level
  * retry policy. Reference `includes/class-scheduler.php:108-175`,
  * `includes/jobs/class-job-index-product.php:103-138`,
  * `includes/adapters/class-pinecone-adapter.php:348-381`.
  */
object Scheduler {

  val Fmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** T5 admission control: quota = max_concurrent − in-progress, floored
    * at 0 (`class-scheduler.php:119-131`). */
  def quota(maxConcurrent: Int, inProgress: Int): Int =
    math.max(0, maxConcurrent - inProgress)

  /** T4 watermark: persisted `last_scan_gmt`, defaulting to a 48 h
    * lookback on first scan (`class-scheduler.php:134-141`). */
  def since(watermark: Option[String], now: Instant, lookbackHours: Int = 48): String =
    watermark.getOrElse(Fmt.format(now.minusSeconds(lookbackHours * 3600L)))

  /** One scan tick: the D1 priority union capped at `min(limit, quota)`
    * (`class-scheduler.php:143-158`); quota 0 → empty, no scan work. */
  def planScan(products: DataFrame, syncState: DataFrame, watermark: Option[String],
      now: Instant, limit: Int, quotaLeft: Int): DataFrame = {
    val n = math.min(limit, quotaLeft)
    if (n <= 0) products.select(col("product_id"), lit(0).as("prio")).limit(0)
    else Scans.priorityUnion(products, syncState, since(watermark, now), n)
  }
}

/** File-backed high-watermark cursor (the `last_scan_gmt` option row,
  * reference `includes/class-scheduler.php:134-141, 164-166`), read and
  * written through the session's Hadoop `conf`. */
final class Watermark(path: String, conf: Configuration) {
  def get: Option[String] = StateCommit.readSmallFile(conf, path).map(_.trim)
  // atomic, as every cursor write: a torn plain write would leave a
  // garbage timestamp whose cast turns the modified-scan predicate NULL —
  // zero candidates, no error, and the next tick's set() papers over the
  // skipped window permanently.
  def set(ts: String): Unit = StateCommit.writeSmallFile(conf, path, ts)
}

/** T6 — the reference's two retry levels, as a deterministic policy the
  * writers consult (jitter is the caller's concern).
  */
object RetryPolicy {

  val MaxAttempts = 3

  /** P7 transient-error predicate (`class-job-index-product.php:130-138`):
    * code contains http_error, or message mentions 429 / Too Many
    * Requests / timeout. */
  def isTransient(code: String, message: String): Boolean =
    code.contains("http_error") ||
      message.contains("429") ||
      message.toLowerCase.contains("too many requests") ||
      message.toLowerCase.contains("timeout")

  /** HTTP-level backoff before attempt k (1-based retry index):
    * 0.25·3^(k−1) s → 250, 750, 2250 ms
    * (`class-pinecone-adapter.php:348-381`). */
  def httpBackoffMs(retry: Int): Long =
    (250L * math.pow(3, retry - 1).toLong)

  /** Job-level re-enqueue delay after failed attempt `attempt`:
    * 3^(attempt−1)·60 s → 60 s, 180 s
    * (`class-job-index-product.php:103-106`). */
  def jobDelaySec(attempt: Int): Long =
    60L * math.pow(3, attempt - 1).toLong
}
