package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Stage
import graft.streaming.StateCommit

/** Second adapter (K2) mirroring the reference's OpenAI-Vector-Store
  * semantics, which differ from the Pinecone-shaped [[ParquetVectorStore]]
  * in two observable ways (reference
  * `includes/adapters/class-openai-vectorstore-adapter.php`):
  *
  *   1. **Lazy ensure-store** (`:291-334`): the remote store is created on
  *      first use (GET-or-POST-create) and its id cached. Here: every write
  *      path calls [[ensureStore]], which mints a deterministic store id,
  *      persists it in `_STORE_ID` (atomic write), and memoizes it —
  *      creation happens once, reads of an un-ensured store see empty.
  *   2. **Paged purge fallback** (`:213-280`): no server-side metadata
  *      filter, so purge = paginated id-ordered LIST → CLIENT-side filter
  *      by `site_id` → delete-by-ids batched at `deleteBatch` (reference
  *      500). The pagination cursor is the last id seen, so deletes during
  *      the sweep can't skip rows.
  *
  * Storage delegates to a nested [[ParquetVectorStore]] — the adapter layer
  * is about SEMANTICS (creation laziness, purge protocol), not the
  * bytes-on-disk format, exactly as the reference's two adapters share the
  * payload contract. Decorate with [[RetryingStore]] for T6 retries.
  */
final class EnsureStoreVectorStore(spark: SparkSession, root: String,
    pageSize: Int = 500, deleteBatch: Int = 500)
    extends VectorStoreWriter with Serializable {

  private val inner = new ParquetVectorStore(spark, s"$root/data")
  @transient private var cachedStoreId: Option[String] = None
  // SparkSession's context is transient: a deserialized copy re-ensures
  // through this serializable handle on the session's Hadoop conf
  private val hadoopConf =
    new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)

  private def storeIdFile = s"$root/_STORE_ID"

  /** GET-or-create the store id, cached in memory and on disk.
    * `Option(...)` guard: after Java deserialization (the class is
    * Serializable and may ride a task closure) a @transient Option field
    * is null, not None — the guard re-ensures lazily instead of NPE-ing. */
  def ensureStore(): String = Option(cachedStoreId).flatten.getOrElse {
    val id = StateCommit.readSmallFile(hadoopConf.value, storeIdFile)
      .map(_.trim).getOrElse {
        // deterministic mint (sha of the root path) — idempotent re-create
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(root.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val minted = s"vs_${sha.take(16)}"
        StateCommit.writeSmallFile(hadoopConf.value, storeIdFile, minted)
        minted
      }
    cachedStoreId = Some(id)
    id
  }

  /** True iff ensure-store has run (for specs / status). */
  def storeExists: Boolean =
    StateCommit.readSmallFile(hadoopConf.value, storeIdFile).isDefined

  def upsert(payloads: DataFrame): Int = { ensureStore(); inner.upsert(payloads) }
  def deleteByIds(ids: DataFrame): Int = { ensureStore(); inner.deleteByIds(ids) }
  override def replace(ids: DataFrame, payloads: DataFrame): Int = {
    ensureStore(); inner.replace(ids, payloads)
  }
  def deleteByProduct(productId: Long, siteId: Int): Int = {
    ensureStore(); inner.deleteByProduct(productId, siteId)
  }

  /** K5 fallback protocol: list pages of `pageSize` ids (id-ascending),
    * filter client-side by site (the remote API has no server-side
    * metadata filter — that absence is WHY the fallback exists), flush
    * deletes in batches of `deleteBatch`.
    *
    * The listing is snapshotted ONCE but streamed — a sorted
    * `toLocalIterator` pulls one partition at a time, so driver memory is
    * O(partition + pending batch), never O(store) (at 100 TB the listing
    * is billions of ids; a `collect()` here was round 2's scale bug).
    * Deletes committed mid-sweep can't invalidate the walk: the listing
    * is pinned on the executors ([[Stage.snap]]) before the first flush,
    * because each flush is a store commit whose generation GC may delete
    * the files the sweep started from. Returns the version after the
    * final flush. */
  def purgeSite(siteId: Int): Int = {
    ensureStore()
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val listing = Stage.snap(inner.read().select(col("id"), col("site_id"))
      .orderBy("id"), materialize = true).toLocalIterator().asScala
    val pending = scala.collection.mutable.ArrayBuffer.empty[String]
    var batches = 0
    def flush(): Unit = {
      val batch = pending.take(deleteBatch)
      inner.deleteByIds(batch.toSeq.toDF("id"))
      pending.remove(0, batch.length)
      batches += 1
    }
    listing.grouped(pageSize).foreach { page =>
      pending ++= page.iterator
        .filter(_.getInt(1) == siteId).map(_.getString(0)) // client-side filter
      while (pending.length >= deleteBatch) flush()
    }
    if (pending.nonEmpty) flush()
    lastPurgeBatches = batches
    inner.currentVersion
  }

  /** Delete batches issued by the most recent purge (spec observability). */
  @transient var lastPurgeBatches: Int = 0

  def read(): DataFrame = inner.read()
  def count(): Long = inner.count()
  def currentVersion: Int = inner.currentVersion
}
