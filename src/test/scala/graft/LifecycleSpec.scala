package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.embed.{GraftEmbedError, LocalHashEmbedder}
import graft.lifecycle.Uninstall
import graft.model.Selection
import graft.store.{EnsureStoreVectorStore, ParquetVectorStore}
import graft.sync.SyncEngine
import graft.validate.Validators

/** The last two reference surfaces: connection validation
  * (`includes/class-validators.php:20-139` — ping embed + dimension check,
  * store reachability + index dimension) and full uninstall teardown
  * (`uninstall.php:28-71` — table, options, schedules, logs).
  */
class LifecycleSpec extends SparkSpec {

  private val Dim = Selection.modelDims(Selection.DefaultModel)

  /** A work dir after one real sync: store + sync_state + events +
    * watermark all exist — the state `cli sync` + `cli scan` leave. */
  private def installedWorkDir(): Path = {
    val dir = Files.createTempDirectory("graftLifecycle")
    val store = new ParquetVectorStore(spark, dir.resolve("store").toString)
    val engine = new SyncEngine(spark, new LocalHashEmbedder(), store,
      dir.resolve("sync_state").toString,
      Selection(chunkSize = 100, chunkOverlap = 20).sanitized,
      events = Some(new graft.events.EventLog(spark, dir.resolve("events").toString)))
    import spark.implicits._
    val cand = Seq(
      (1L, "A document with enough words to produce at least one chunk."),
      (2L, "Another small document body."))
      .toDF("product_id", "text")
      .withColumn("site_id", lit(1))
      .withColumn("sku", concat(lit("SKU-"), col("product_id")))
    engine.sync(cand)
    new graft.scan.Watermark(dir.resolve("last_scan_gmt").toString,
      spark.sparkContext.hadoopConfiguration).set("2026-01-01 00:00:00")
    dir
  }

  // ---------------- validators ----------------

  test("validate: healthy embedder + synced store both pass") {
    val dir = installedWorkDir()
    val emb = Validators.validateEmbedder(new LocalHashEmbedder(), Dim)
    assert(emb.ok && emb.code == "ok", emb.message)
    val st = Validators.validateStore(spark, dir.resolve("store").toString, Some(Dim))
    assert(st.ok && st.code == "ok", st.message)
    Uninstall.uninstall(spark, dir.toString)
  }

  test("validate: configured dimension != model dimension → dim_mismatch") {
    // the reference's exact failure: "embedding length was X (expected Y)"
    val r = Validators.validateEmbedder(new LocalHashEmbedder(), 64)
    assert(!r.ok && r.code == "dim_mismatch")
    assert(r.message.contains(s"$Dim") && r.message.contains("64"))
  }

  test("validate: unknown model is the typed model_invalid error") {
    val e = intercept[GraftEmbedError](new LocalHashEmbedder("no-such-model"))
    assert(e.code == "model_invalid")
  }

  test("validate: store vectors vs configured dimension → store_dim_mismatch") {
    val dir = installedWorkDir()
    val r = Validators.validateStore(spark, dir.resolve("store").toString, Some(1536))
    assert(!r.ok && r.code == "store_dim_mismatch", r.message)
    // no configured dimension (invalid model, no override): reachability
    // still validates, but no spurious mismatch is manufactured
    val noDim = Validators.validateStore(spark, dir.resolve("store").toString, None)
    assert(noDim.ok && noDim.message.contains("no configured dimension"), noDim.message)
    Uninstall.uninstall(spark, dir.toString)
  }

  test("validate: missing store root → store_unreachable") {
    val r = Validators.validateStore(spark, "/tmp/graft-no-such-store", Some(Dim))
    assert(!r.ok && r.code == "store_unreachable")
  }

  test("validate: unreadable store layout → store_invalid") {
    // the two legacy cursor layouts (pre-bucketing `_VERSION`, bucketed
    // `_MANIFEST`) the store rejects loudly, naming the fix
    for (cursor <- Seq("_VERSION", "_MANIFEST")) {
      val dir = Files.createTempDirectory("graftCorrupt")
      Files.write(dir.resolve(cursor), "7".getBytes)
      val r = Validators.validateStore(spark, dir.toString, Some(Dim))
      assert(!r.ok && r.code == "store_invalid", r.message)
      assert(r.message.contains("fresh root"), r.message)
    }
  }

  test("validate: empty store is reachable-ok; un-ensured adapter is not") {
    val dir = Files.createTempDirectory("graftEmptyStore")
    val r = Validators.validateStore(spark, dir.toString, Some(Dim))
    assert(r.ok && r.message.contains("No vectors yet"))
    val vsDir = Files.createTempDirectory("graftVs")
    val un = Validators.validateEnsureStore(spark, vsDir.toString, Some(Dim))
    assert(!un.ok && un.code == "store_unreachable")
    val vs = new EnsureStoreVectorStore(spark, vsDir.toString)
    vs.ensureStore()
    val ok = Validators.validateEnsureStore(spark, vsDir.toString, Some(Dim))
    assert(ok.ok && ok.message.contains("vs_"), ok.message)
    // an unreadable _STORE_ID must surface as a typed FAIL, not a crash
    val badDir = Files.createTempDirectory("graftVsBad")
    Files.createDirectories(badDir.resolve("_STORE_ID")) // a DIR, unreadable as a file
    val bad = Validators.validateEnsureStore(spark, badDir.toString, Some(Dim))
    assert(!bad.ok && bad.code == "store_invalid", bad.message)
  }

  // ---------------- uninstall ----------------

  test("uninstall removes every surface and the work dir itself") {
    val dir = installedWorkDir()
    assert(Files.exists(dir.resolve("store")) && Files.exists(dir.resolve("events")))
    val removed = Uninstall.uninstall(spark, dir.toString)
    assert(removed.toSet == Set("watermark", "sync_state", "store", "events"))
    assert(!Files.exists(dir), "empty work dir should be rmdir'd")
  }

  test("uninstall is idempotent and a fresh sync bootstraps after it") {
    val dir = installedWorkDir()
    Uninstall.uninstall(spark, dir.toString)
    assert(Uninstall.uninstall(spark, dir.toString).isEmpty)
    // fresh install into the same path starts from scratch
    val dir2 = installedWorkDir_at(dir)
    val store = new ParquetVectorStore(spark, dir2.resolve("store").toString)
    assert(store.count() > 0 && store.currentVersion == 1,
      "post-uninstall sync must bootstrap a v1 store, not resume old state")
    Uninstall.uninstall(spark, dir2.toString)
  }

  /** Re-install into a specific (possibly deleted) path. */
  private def installedWorkDir_at(dir: Path): Path = {
    Files.createDirectories(dir)
    val store = new ParquetVectorStore(spark, dir.resolve("store").toString)
    val engine = new SyncEngine(spark, new LocalHashEmbedder(), store,
      dir.resolve("sync_state").toString,
      Selection(chunkSize = 100, chunkOverlap = 20).sanitized,
      events = Some(new graft.events.EventLog(spark, dir.resolve("events").toString)))
    import spark.implicits._
    val cand = Seq((3L, "A brand new post-uninstall document body."))
      .toDF("product_id", "text")
      .withColumn("site_id", lit(1))
      .withColumn("sku", concat(lit("SKU-"), col("product_id")))
    engine.sync(cand)
    dir
  }

  test("uninstall --purge-remote purges adapters before dropping them") {
    val dir = installedWorkDir()
    // second adapter present too: both must be swept without error
    val vs = new EnsureStoreVectorStore(spark, dir.resolve("store_vs").toString)
    vs.ensureStore()
    val removed = Uninstall.uninstall(spark, dir.toString, purgeRemote = true)
    assert(removed.contains("store") && removed.contains("store_vs"))
    assert(!Files.exists(dir))
  }
}
