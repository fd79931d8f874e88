package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.embed.LocalHashEmbedder
import graft.model.Selection
import graft.store.ParquetVectorStore
import graft.streaming.StateCommit
import graft.sync.SyncEngine

/** Kill points of the sync path's two state roots, the vector store and
  * sync_state, which both commit through [[StateCommit]]. A crash after a
  * commit's data write and before its pointer swap is simulated by
  * writing `CURRENT` back to the previous version: readers must see the
  * old state, and re-running the interrupted operation must converge. A
  * sync pass's store write is one commit, so there is no version that
  * holds its deletes without its upserts.
  */
class SyncKillPointSpec extends SparkSpec {

  import spark.implicits._

  private def rollBack(root: String, v: Long): Unit =
    StateCommit.writeSmallFile(spark.sparkContext.hadoopConfiguration,
      s"$root/CURRENT", v.toString)

  private val cols = Seq("id", "values", "site_id", "product_id", "sku",
    "url", "updated_at", "fingerprint", "fields")

  private def payload(pid: Long, chunk: Int, sku: String) =
    (s"site-1:product-$pid:chunk-$chunk", Seq(0.1f, 0.2f), 1, pid,
      sku, "https://x", "2024-01-01", "sha256:x", Seq("title"))

  /** (id, sku) of every stored row, sorted. */
  private def rows(store: ParquetVectorStore): Seq[(String, String)] =
    store.read().select("id", "sku").as[(String, String)].collect().sorted.toSeq

  test("store: a kill before the pointer swap reads as the old version; the re-run converges") {
    val root = Files.createTempDirectory("killstore").toString
    val store = new ParquetVectorStore(spark, root, nBuckets = 4)
    store.upsert(Seq(payload(0, 0, "a"), payload(1, 0, "a"), payload(2, 0, "a"))
      .toDF(cols: _*))
    val before = rows(store)
    // replaces one id, adds one chunk of product 1 and a new product 5
    val batch = Seq(payload(1, 0, "b"), payload(1, 1, "b"), payload(5, 0, "b"))
      .toDF(cols: _*)
    store.upsert(batch)
    val after = rows(store)
    assert(after != before)

    rollBack(root, 1)
    assert(store.currentVersion == 1)
    assert(rows(store) == before)
    assert(store.count() == before.length)

    store.upsert(batch)
    assert(store.currentVersion == 2)
    assert(rows(store) == after)
  }

  private def docs(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("product_id", "text")
      .withColumn("site_id", lit(1))
      .withColumn("sku", concat(lit("SKU-"), col("product_id")))

  private val longText =
    (1 to 8).map(i => s"Sentence number $i with some padding words here.").mkString(" ")

  test("sync: an edit pass commits its deletes and upserts as one store version; a kill before it reads as the whole old state") {
    val dir = Files.createTempDirectory("killfused")
    val storeRoot = dir.resolve("store").toString
    val store = new ParquetVectorStore(spark, storeRoot)
    val syncRoot = dir.resolve("sync").toString
    val engine = new SyncEngine(spark, new LocalHashEmbedder(), store, syncRoot,
      Selection(chunkSize = 25, chunkOverlap = 0))
    def vectors = store.read().select("id", "values").as[(String, Seq[Float])]
      .collect().sortBy(_._1).toSeq

    engine.sync(docs(Seq(1L -> longText, 2L -> longText, 3L -> "tiny doc.")))
      .collect()
    val (vStore, vSync) = (store.currentVersion, engine.syncVersion)
    val old = vectors
    // product 1 shrinks (its later chunks go stale), product 2 changes
    val b = docs(Seq(1L -> "tiny now.", 2L -> (longText + " More words."),
      3L -> "tiny doc."))
    val s = engine.sync(b).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s.getOrElse("delete", 0L) > 0L && s.getOrElse("upsert", 0L) > 0L, s)
    assert(store.currentVersion == vStore + 1)
    val fresh = vectors
    assert(fresh != old)

    // killed before either pointer swap: the store reads as the complete
    // old state, stale chunks and old vectors alike
    rollBack(storeRoot, vStore)
    rollBack(syncRoot, vSync)
    assert(vectors == old)
    assert(old.exists(_._1 == "site-1:product-1:chunk-1"))

    engine.sync(b).collect()
    assert(store.currentVersion == vStore + 1)
    assert(vectors == fresh)
    val state = engine.readSyncState()
    assert(state.where(col("status") =!= "synced").count() == 0)
    assert(state.select("vector_id").as[String].collect().sorted.toSeq ==
      fresh.map(_._1))
  }

  test("sync: a store commit without its sync_state commit heals on the re-run") {
    val dir = Files.createTempDirectory("killsync")
    val store = new ParquetVectorStore(spark, dir.resolve("store").toString)
    val syncRoot = dir.resolve("sync").toString
    val engine = new SyncEngine(spark, new LocalHashEmbedder(), store, syncRoot,
      Selection(chunkSize = 25, chunkOverlap = 0))
    def storeIds = store.read().select("id").as[String].collect().sorted.toSeq

    engine.sync(docs(Seq(1L -> longText, 2L -> longText, 3L -> "tiny doc.")))
      .collect()
    val vA = engine.syncVersion
    // B: product 1 shrinks to one chunk (its other chunks go stale) and
    // product 2 gains text
    val b = docs(Seq(1L -> "tiny now.", 2L -> (longText + " More words."),
      3L -> "tiny doc."))
    engine.sync(b).collect()
    val idsB = storeIds
    assert(!idsB.contains("site-1:product-1:chunk-1"))

    // the store holds B, sync_state still says A
    rollBack(syncRoot, vA)
    assert(engine.syncVersion == vA)
    val again = engine.sync(b).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // A's stale chunks route delete once more — a no-op on the store
    assert(again.getOrElse("delete", 0L) > 0L)
    assert(storeIds == idsB)
    val state = engine.readSyncState()
    assert(state.where(col("status") =!= "synced").count() == 0)
    assert(state.select("vector_id").as[String].collect().sorted.toSeq == storeIds)
  }
}
