package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.embed.LocalHashEmbedder
import graft.model.Selection
import graft.store.ParquetVectorStore
import graft.streaming.StateCommit
import graft.sync.SyncEngine
import graft.validate.Validators

/** A commit pointer (`CURRENT`) that exists but cannot be read as a
  * version is not "never committed". Read that way, every writer would
  * restart at version 1: the store would publish a manifest holding only
  * the touched buckets, a sync pass would replace sync_state with its own
  * rows, and a stream would replay applied batches. Each reader throws
  * instead, naming the root, and commits nothing. The old cursor layouts
  * of the store root are refused the same way.
  */
class CommitPointerSpec extends SparkSpec {

  import spark.implicits._

  private val cols = Seq("id", "values", "site_id", "product_id", "sku",
    "url", "updated_at", "fingerprint", "fields")

  private def payloads(pid: Long): DataFrame =
    Seq((s"site-1:product-$pid:chunk-0", Seq(0.1f, 0.2f), 1, pid, "a",
      "https://x", "2024-01-01", "sha256:x", Seq("title"))).toDF(cols: _*)

  /** The two corruptions: a pointer holding no version, and a directory
    * (with a file in it, so the tree comparison sees it) in its place. */
  private val corruptions: Seq[(String, Path => Unit)] = Seq(
    "garbage" -> (p => Files.writeString(p.resolve("CURRENT"), "v7\u0000junk")),
    "directory" -> { p =>
      Files.delete(p.resolve("CURRENT"))
      Files.createDirectories(p.resolve("CURRENT"))
      Files.writeString(p.resolve("CURRENT/part"), "3")
    })

  for ((name, corrupt) <- corruptions)
    test(s"a $name CURRENT fails store, sync and validate and changes no file") {
      val dir = Files.createTempDirectory(s"graftPointer_$name")
      val storeRoot = dir.resolve("store")
      val store = new ParquetVectorStore(spark, storeRoot.toString, nBuckets = 4)
      val engine = new SyncEngine(spark, new LocalHashEmbedder(), store,
        dir.resolve("sync").toString, Selection(chunkSize = 25, chunkOverlap = 0))
      def docs(pids: Long*) = pids.map(p => (p, s"Product $p text here."))
        .toDF("product_id", "text").withColumn("site_id", lit(1))
        .withColumn("sku", concat(lit("SKU-"), col("product_id")))
      engine.sync(docs(1L, 2L)).collect()
      store.upsert(payloads(9L))

      corrupt(dir.resolve("sync"))
      assertRefused(dir.resolve("sync").toString, dir.toString) {
        engine.sync(docs(1L, 2L, 3L))
      }

      corrupt(storeRoot)
      assertRefused(storeRoot.toString)(store.upsert(payloads(10L)))
      assertRefused(storeRoot.toString)(StateCommit.applied(spark,
        storeRoot.toString, 1L))
      val r = Validators.validateStore(spark, storeRoot.toString, None)
      assert(!r.ok && r.code == "store_invalid", r.message)
    }

  test("a store root of either legacy cursor layout is refused, files untouched") {
    for (cursor <- Seq("_VERSION", "_MANIFEST")) {
      val dir = Files.createTempDirectory("graftCursor")
      Files.writeString(dir.resolve(cursor), "7")
      val store = new ParquetVectorStore(spark, dir.toString)
      val e = assertRefused(dir.toString)(store.upsert(payloads(1L)))
      assert(e.getMessage.contains(cursor), e.getMessage)
    }
  }
}
