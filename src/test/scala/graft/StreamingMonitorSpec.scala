package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Temporal
import graft.streaming.{AvailableNow, StateCommit, StreamingMonitor}

/** Streaming anomaly monitor: the maintained hourly state converges to
  * the batch operator's pre-aggregation regardless of how the feed is
  * split into micro-batches, and a replayed batch id is a no-op.
  */
class StreamingMonitorSpec extends SparkSpec {

  import spark.implicits._

  // 25 hourly buckets: alternate 1,2 for 24 h then a spike of 5
  private def feed: Seq[(Long, String)] =
    ((0 until 24).map(h => 1 + h % 2) :+ 5).zipWithIndex.flatMap {
      case (c, h) => (0 until c).map(i => (h.toLong * 3600 + i, "t"))
    }

  private def toEvents(rows: Seq[(Long, String)]) =
    rows.toDF("s", "event_type")
      .select(timestamp_seconds(col("s")).as("ts"), col("event_type"))

  test("micro-batched feed converges to the batch operator's scores") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_monitor")
    val state = dir.resolve("state").toString
    val input = MemoryStream[(Long, String)]
    val events = input.toDF()
      .select(timestamp_seconds(col("_1")).as("ts"), col("_2").as("event_type"))

    // split the feed into three uneven micro-batches
    val (a, rest) = feed.splitAt(7)
    val (b, c) = rest.splitAt(19)
    for (part <- Seq(a, b, c)) {
      input.addData(part)
      AvailableNow.foreachBatch(events, dir.resolve("ckpt").toString)(
        StreamingMonitor.applyBatch(state, _, _)).awaitTermination()
    }

    val got = StreamingMonitor.scores(spark, state).collect()
    val want = Temporal.rateAnomaly(toEvents(feed)).collect()
    assert(got.length == want.length && got.sameElements(want),
      s"stream/batch divergence:\n${got.mkString("\n")}\nvs\n${want.mkString("\n")}")
    assert(got.head.getLong(5) == 7000) // the hand-computed spike z
  }

  test("replayed batch id is a no-op; state stays the hourly rollup") {
    val dir = Files.createTempDirectory("graft_monitor2")
    val state = dir.resolve("state").toString
    val ev = toEvents(feed)
    StreamingMonitor.applyBatch(state, ev, batchId = 0L)
    val before = StreamingMonitor.hourlyState(spark, state)
      .orderBy("event_type", "hour").collect()
    // at-least-once replay of the SAME batch id must not double-count
    StreamingMonitor.applyBatch(state, ev, batchId = 0L)
    val after = StreamingMonitor.hourlyState(spark, state)
      .orderBy("event_type", "hour").collect()
    assert(after.sameElements(before))
    // the state equals the batch pre-aggregation exactly
    val want = Temporal.hourlyOf(ev).orderBy("event_type", "hour").collect()
    assert(after.sameElements(want))
    // a NEW batch id still applies
    StreamingMonitor.applyBatch(state,
      toEvents(Seq((25L * 3600, "t"))), batchId = 1L)
    val n = StreamingMonitor.hourlyState(spark, state)
      .agg(sum("n")).head.getLong(0)
    assert(n == feed.length + 1)
  }

  test("crash before the pointer swap leaves state intact; replay converges") {
    val dir = Files.createTempDirectory("graft_monitor3")
    val state = dir.resolve("state").toString
    StreamingMonitor.applyBatch(state, toEvents(feed), batchId = 0L)
    val committed = StreamingMonitor.hourlyState(spark, state)
      .orderBy("event_type", "hour").collect()
    // simulate a crash mid-batch-1: the snapshot dir was written (here,
    // even with WRONG un-merged content) but the pointer swap never ran
    val extra = toEvents(Seq((25L * 3600, "t")))
    graft.operators.Temporal.hourlyOf(extra).write.mode("overwrite")
      .parquet(StateCommit.tableDir(state, 1L, "hourly"))
    // readers still see batch 0's state in full
    val seen = StreamingMonitor.hourlyState(spark, state)
      .orderBy("event_type", "hour").collect()
    assert(seen.sameElements(committed), "uncommitted snapshot leaked")
    // the at-least-once replay of batch 1 overwrites the orphan and commits
    StreamingMonitor.applyBatch(state, extra, batchId = 1L)
    val n = StreamingMonitor.hourlyState(spark, state)
      .agg(sum("n")).head.getLong(0)
    assert(n == feed.length + 1)
  }
}
