package graft.events

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StateCommit

/** K8 — append-only event log (reference `includes/class-events.php`):
  * JSONL append → date-partitioned JSON sink; retention = partition drop;
  * reads are filtered newest-first scans (S7) with offset/limit paging;
  * CSV export capped (reference cap 5000, `class-events.php:166-189`).
  *
  * Scale posture: date partitioning makes retention a metadata operation
  * (drop partition dirs older than N days) and gives every read a
  * partition-pruned scan.
  */
final class EventLog(spark: SparkSession, root: String) {

  private def fs =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Append rows (must carry a `ts` timestamp column); partitioned by day. */
  def append(rows: DataFrame): Unit =
    rows.withColumn("log_date", date_format(col("ts"), "yyyyMMdd"))
      .write.mode(SaveMode.Append).partitionBy("log_date").json(root)

  /** Read the log, normalizing to the reference row shape: the four
    * filterable columns always exist (missing → NULL, which every
    * equality filter rejects — the reference's `filter_match` likewise
    * fails a row lacking the filtered field). Without this, a
    * product-filtered read over a log whose rows never carried
    * product_id would crash on an unresolvable column. */
  def read(): DataFrame = {
    // A log nobody has appended to yet reads as zero rows, not a
    // PATH_NOT_FOUND crash (the reference's read of an empty log table
    // returns empty; only `ts` is pinned — the filter columns below are
    // normalized in either branch).
    val df =
      if (!fs.exists(new Path(root)))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType))))
      else spark.read.json(root)
    Seq("product_id" -> "bigint", "target" -> "string",
      "action" -> "string", "outcome" -> "string")
      .foldLeft(df) { case (d, (c, t)) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(t))
      }
  }

  /** Retention: drop day-partitions older than `retainDays` from `today`
    * (reference daily prune, `class-events.php:97-133`). */
  def prune(today: java.time.LocalDate,
      retainDays: Int = graft.model.Tuning.Default.eventRetentionDays): Seq[String] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    val cutoff = today.minusDays(retainDays.toLong)
    // Try: a malformed partition name (e.g. a NULL-ts row lands in
    // log_date=__HIVE_DEFAULT_PARTITION__) must not abort retention
    // forever — unparseable dirs are skipped, parseable ones still prune.
    val dropped = StateCommit.listPartitionDirs(spark, root, "log_date")
      .filter(d => scala.util.Try(java.time.LocalDate.parse(d, fmt))
        .toOption.exists(_.isBefore(cutoff)))
      .map(d => s"log_date=$d")
    dropped.foreach(d => fs.delete(new Path(root, d), true))
    dropped
  }

  /** Streamed CSV export, filtered + capped (reference `stream_csv`
    * pulls pages through the same `filter_match` predicates up to a 5000
    * cap, `class-events.php:96-146`). */
  def exportCsv(out: String, cap: Int = 5000,
      filters: graft.scan.EventFilters = graft.scan.EventFilters()): Unit =
    read().where(filters.predicate).orderBy(col("ts").desc).limit(cap)
      .coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
}
