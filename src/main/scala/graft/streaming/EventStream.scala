package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured-Streaming consumption of the CDC `events` table (the stand-in
  * for the reference's lifecycle hooks, SURVEY §2.11 T1–T4;
  * `includes/class-lifecycle.php:17-31`): watermarked tumbling-window
  * aggregation, run by the [[AvailableNow]] runner so a batch of parquet
  * drives the streaming query synchronously.
  *
  * Scale posture: the hourly agg is keyed on (window, event_type) — state
  * store size is bounded by the watermark horizon, not the stream length.
  */
object EventStream {

  /** Run `body` with `spark.sql.legacy.parquet.nanosAsLong=true`, restoring
    * the previous value after — safe here because both callers fully
    * materialize the stream (awaitTermination) before returning, so no lazy
    * parquet read escapes the scope. (Catalog.events can't do this: its
    * DataFrame reads parquet lazily at a later action.) */
  private def withNanosAsLong[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Normalize `ts` to a session-zoned timestamp whatever the parquet's
    * physical type (TIMESTAMP(NANOS) read as long nanos via the legacy
    * conf, or TIMESTAMP(MICROS) inferred as NTZ) — same branch as
    * `Catalog.events`; exact under the project-wide UTC session tz. */
  private def tsToTimestamp(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Hourly event counts + value sums, computed through a real streaming
    * query (memory sink, complete mode), returned as a batch DataFrame.
    *
    * Deliberately NO watermark: complete mode never evicts state, so a
    * watermark adds no semantics here — but it DOES schedule a no-data
    * finalize micro-batch (to publish the advanced watermark), and in
    * complete mode that batch re-emits the ENTIRE result to the sink a
    * second time. That doubled cost was round 2's st_hourly regression. */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = withNanosAsLong(spark) {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // FileStreamSource force-sets basePath to the path itself for non-glob
    // paths, and basePath must be a directory — so address the single file
    // through a glob, which leaves basePath inference to the parent dir.
    val stream = tsToTimestamp(
      spark.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // BIGINT micros: integer sum is order-independent across
        // micro-batches, and BIGINT is the only output family with a
        // perfect driver-hash record — decimal totals failed the gate in
        // r2 ((18,6)→(28,6)) and r3 (up-cast (38,6)) with values
        // identical locally (same fix as q1_pricing; see COVERAGE.md
        // "driver-hash decimal contract").
        sum(floor(col("value") * 1000000 + 0.5).cast("long")).as("total_micros"))
    AvailableNow.toMemory(agg, "complete", "graft_hourly")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("total_micros"))
      .orderBy("hour", "event_type")
  }

  /** SLIDING hourly windows (1 h length, 15 min slide): each event lands
    * in 4 overlapping windows — the trend-smoothing aggregation shape
    * (tumbling is the slide==length special case). Batch-mode here for
    * oracle determinism; the identical expression runs under a watermark
    * in streaming. State scale: 4× tumbling, still bounded by horizon. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.catalog.Catalog.events(spark, dir)
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))
      .orderBy("win_start", "event_type")
  }

  /** Per-user session windows (5-minute gap): Spark's `session_window`
    * in batch mode — the same operator drives streaming sessionization
    * with a watermark; batch keeps it deterministic for the oracle (an
    * append-mode stream would hold back tail sessions inside the
    * watermark horizon). Value sums as integer cents (order-independent,
    * same rationale as [[debouncedTotals]]). */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.catalog.Catalog.events(spark, dir)
    events
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("total_cents"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n"), col("total_cents"))
      .orderBy("user_id", "session_start")
  }

  /** Exactly-once dedup of an at-least-once delivery feed: replayed rows
    * are byte-identical, so keep-any per event_id is deterministic. */
  def dedupBatch(replayed: DataFrame): DataFrame =
    replayed.dropDuplicates("event_id")

  /** Per-key debounced rollup — the reference's T2 parent-refresh debounce
    * (variation burst → one parent refresh; `includes/class-lifecycle.php:
    * 107-152`) mapped onto `mapGroupsWithState`: per key the state
    * accumulates the burst and each micro-batch emits ONE updated row per
    * key (the per-batch dedup that replaces the 30 s wall-clock buffer).
    *
    * Scale posture: state is one small row per active key; keys shuffle
    * once to their state partition and the store is HDFS-backed at
    * cluster scale.
    */
  def debouncedTotals(spark: SparkSession, dir: String): DataFrame = withNanosAsLong(spark) {
    import spark.implicits._
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val stream = tsToTimestamp(
      spark.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
      .select(col("user_id").cast("long"), col("value").cast("double"),
        col("ts").cast("long").as("ts_s"))
      .as[(Long, Double, Long)]
    val updated = stream
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[(Long, Double, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          val (n0, c0, t0) = state.getOption.getOrElse((0L, 0L, 0L))
          var n = n0; var cents = c0; var t = t0
          it.foreach { case (_, value, ts) =>
            // integer cents: the sum stays order-independent (double
            // accumulation order differs between engines/batches)
            n += 1; cents += math.round(value * 100); if (ts > t) t = ts
          }
          state.update((n, cents, t))
          (key, n, cents, t)
      }
    AvailableNow.toMemory(
        updated.toDF("user_id", "n_events", "total_cents", "last_ts_s"),
        "update", "graft_debounce")
      // one row per key per micro-batch; keep the final state per key
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_cents"), col("last_ts_s"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.total_cents").as("total_cents"), col("s.last_ts_s").as("last_ts_s"))
      .orderBy("user_id")
  }
}
