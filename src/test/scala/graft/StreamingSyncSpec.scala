package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.embed.LocalHashEmbedder
import graft.model.Selection
import graft.store.ParquetVectorStore
import graft.streaming.AvailableNow
import graft.sync.SyncEngine

/** End-to-end STREAMING indexing: a live CDC feed of product rows drives
  * the delta-sync engine batch by batch. The exactly-once-effects claim
  * is exercised directly: replayed unchanged rows produce zero store
  * writes (version does not advance), a changed row re-indexes only
  * itself, and the store converges to the same state a batch sync would
  * produce. The stream is one [[SyncEngine.sync]] pass per micro-batch,
  * run by [[AvailableNow.foreachBatch]].
  */
class StreamingSyncSpec extends SparkSpec {

  import spark.implicits._

  private val model = "text-embedding-3-small"
  private val longText = (1 to 60).map(i => s"word$i token$i").mkString(" ")

  test("CDC feed -> delta engine: first index, skip replay, targeted re-index") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stream_sync")
    val store = new ParquetVectorStore(spark, dir.resolve("store").toString)
    val engine = new SyncEngine(spark, new LocalHashEmbedder(model), store,
      dir.resolve("sync").toString,
      Selection(chunkSize = 25, chunkOverlap = 0, model = model))

    val input = MemoryStream[(Long, String)]
    val normalized = input.toDF()
      .select(col("_1").as("product_id"), col("_2").as("text"),
        lit(1).as("site_id"), concat(lit("SKU-"), col("_1")).as("sku"))
    val ckpt = dir.resolve("ckpt").toString
    val summaries = scala.collection.mutable.ListBuffer.empty[Map[String, Long]]
    def runPass(): Unit = {
      val q = AvailableNow.foreachBatch(normalized, ckpt) { (batch, _) =>
        val rows = engine.sync(batch).collect()
        summaries.synchronized {
          summaries += rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        }
      }
      q.awaitTermination()
    }

    // phase 1: first index — everything upserts
    input.addData((1L, longText), (2L, "tiny doc."))
    runPass()
    val v1 = store.currentVersion
    val n1 = store.count()
    assert(n1 > 0, "first pass must write vectors")
    assert(summaries.exists(_.contains("upsert")), summaries.toString)

    // phase 2: at-least-once replay of identical rows — sha short-circuit
    // => zero store writes, version must NOT advance
    summaries.clear()
    input.addData((1L, longText), (2L, "tiny doc."))
    runPass()
    assert(store.currentVersion == v1,
      s"replay advanced the store: v$v1 -> v${store.currentVersion}")
    assert(store.count() == n1)
    assert(summaries.flatten.toMap.keySet == Set("skip_unchanged"),
      summaries.toString)

    // phase 3: one product changes — only it re-indexes; the store
    // matches what a fresh batch sync over the same corpus produces
    summaries.clear()
    input.addData((1L, longText + " changed tail!"), (2L, "tiny doc."))
    runPass()
    assert(store.currentVersion > v1)
    val s3 = summaries.flatten.toMap
    assert(s3.contains("skip_unchanged") &&
      (s3.contains("upsert") || s3.contains("update")), s3.toString)
    val streamed = store.read()
      .select("id", "fingerprint").collect().map(_.toSeq).toSet
    val batchDir = Files.createTempDirectory("graft_batch_ref")
    val refStore = new ParquetVectorStore(spark, batchDir.resolve("store").toString)
    val refEngine = new SyncEngine(spark, new LocalHashEmbedder(model), refStore,
      batchDir.resolve("sync").toString,
      Selection(chunkSize = 25, chunkOverlap = 0, model = model))
    refEngine.sync(Seq((1L, longText + " changed tail!"), (2L, "tiny doc."))
      .toDF("product_id", "text")
      .withColumn("site_id", lit(1))
      .withColumn("sku", concat(lit("SKU-"), col("product_id"))))
    val batch = refStore.read()
      .select("id", "fingerprint").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      "streamed store state must converge to the batch-sync state")
  }
}
