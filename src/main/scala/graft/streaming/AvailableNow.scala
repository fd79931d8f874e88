package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one runner of this engine's streaming queries: every query runs
  * under `Trigger.AvailableNow`, which drains what the source holds at
  * start (in as many micro-batches as its rate limits ask for) and then
  * stops, so a batch of parquet drives a streaming query synchronously.
  */
object AvailableNow {

  /** Start a pass of `rows` that hands each micro-batch and its batch id
    * to `apply` on the driver, with the stream's offsets and commits in
    * `checkpoint`. */
  def foreachBatch(rows: DataFrame, checkpoint: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        apply(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Run `rows` to the end of its source into a fresh in-memory table,
    * in output `mode`, and return that table. */
  def toMemory(rows: DataFrame, mode: String, prefix: String): DataFrame = {
    val name = s"${prefix}_${System.nanoTime()}"
    rows.writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    rows.sparkSession.table(name)
  }
}
