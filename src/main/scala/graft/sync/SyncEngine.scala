package graft.sync

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.chunker.Chunker
import graft.embed.Embedder
import graft.fingerprint.Fingerprint
import graft.events.EventLog
import graft.model.Selection
import graft.store.VectorStoreWriter
import graft.streaming.StateCommit

/** The sync/delta engine — the reference's core "query"
  * (`includes/class-indexer.php:284-479`, SURVEY §2.10) re-expressed as one
  * dataflow over a SET of products, not a per-product loop:
  *
  *   candidates → normalize → product_sha
  *     → short-circuit: left-join sync_state's per-product (sha, rebuild,
  *       error) on product_id BEFORE chunk/embed — unchanged products
  *       never reach the embedder. (The reference embeds first and
  *       compares after, `class-indexer.php:229` vs `:329` — hoisting the
  *       sha comparison is the §4 improvement with identical semantics.)
  *     → split tally [one job]: unchanged and changed counts, the site
  *     → changed products only: chunk (UDF + explode) → chunk_sha
  *       → embed (mapPartitions, batched) → payloads
  *       → full-outer join with sync_state on (product_id, chunk_index) [J4]
  *       → route delete / upsert / skip → per-action counts [A4, one job]
  *       → vector-store merge
  *     → sync_state merge → event row
  *
  * The short-circuit split is planned and computed once (cached) and read
  * by every later stage. A pass plans only what its split says it
  * touches: when nothing changed it builds no payloads and no routing,
  * makes no store call, and its summary is the split's tally. Otherwise
  * the per-action counts are read before any write and pick the store
  * call: deletes and upserts go through [[VectorStoreWriter.replace]], so
  * a pass commits the store at most ONCE. The sync_state merge is one
  * scan of the committed table joined once to a broadcast of the split's
  * per-product flags, unioned with the changed products' fresh rows.
  *
  * Scale posture: the wide exchanges are the short-circuit's per-product
  * aggregate and, for changed products only, the J4 full-outer join,
  * both equi-joins on `product_id(,chunk_index)` — the natural
  * co-partition key; both sides are projected to narrow (key, sha)
  * columns before shuffling so chunk text and vectors never cross the
  * wire. Embedding runs map-side after the split, so cost is
  * proportional to CHANGED data only. The merge broadcasts one narrow
  * row per candidate, so the committed table is never shuffled.
  */
final class SyncEngine(
    spark: SparkSession,
    embedder: Embedder,
    store: VectorStoreWriter,
    syncStateRoot: String,
    sel: Selection = Selection.Default,
    clock: String = "2024-01-01T00:00:00+00:00",
    events: Option[EventLog] = None,
    target: String = "local",
    tuning: graft.model.Tuning = graft.model.Tuning.Default) extends Serializable {

  import spark.implicits._

  val syncSchema: StructType = StructType(Seq(
    StructField("site_id", IntegerType, nullable = false),
    StructField("product_id", LongType, nullable = false),
    StructField("target", StringType, nullable = false),
    StructField("chunk_index", IntegerType, nullable = false),
    StructField("vector_id", StringType),
    StructField("product_sha", StringType),
    StructField("chunk_sha", StringType),
    StructField("model", StringType),
    StructField("dimension", IntegerType),
    StructField("status", StringType),
    StructField("error_code", StringType),
    StructField("error_msg", StringType),
    StructField("last_synced_at", StringType)))

  /** The committed sync_state version (0 before the first commit). A
    * root of the old `_VERSION` cursor layout fails loudly. */
  def syncVersion: Int =
    StateCommit.currentVersionOrLegacy(spark, syncStateRoot, "_VERSION")
      .getOrElse(0L).toInt

  def readSyncState(): DataFrame =
    StateCommit.readTable(spark, syncStateRoot, "sync_state").getOrElse {
      syncVersion // no commit yet: a legacy root throws here
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], syncSchema)
    }

  /** Write `df` as snapshot v+1's `sync_state` table, then publish it
    * ([[StateCommit.commit]], which also reclaims snapshots older than
    * the one it replaces). The written schema seeds the reader's cache,
    * so the next pass's reads skip the schema-inference job. */
  private def commitSyncState(df: DataFrame): Unit = {
    val next = syncVersion + 1
    val dir = StateCommit.tableDir(syncStateRoot, next, "sync_state")
    df.write.mode(SaveMode.Overwrite).parquet(dir)
    StateCommit.noteWrittenSchema(spark, dir, df.schema)
    StateCommit.commit(spark, syncStateRoot, next)
  }

  /** Normalized text + product_sha per candidate. `products` needs columns
    * (product_id, site_id, sku, text). */
  def fingerprinted(normalized: DataFrame): DataFrame = {
    // hoist to locals: a UDF capturing `this` would drag the whole engine
    // into the task closure
    val (selL, dimL) = (sel, embedder.dimension)
    val shaUdf = udf((text: String) =>
      Fingerprint.shaProduct(Option(text).getOrElse(""), selL, dimL))
    normalized.withColumn("product_sha", shaUdf(col("text")))
  }

  /** Chunks + chunk shas + embeddings + payload columns for a set of
    * (product_id, site_id, sku, text, product_sha) rows. Embedding runs in
    * mapPartitions batched at `tuning.batchUpsertSize` — the reference's
    * payload batch knob (`get_batch_upsert_size`, default 100, clamp
    * 10–500, `class-options.php:453-460`; its embed batch is the same
    * 100, `class-embeddings.php:85`). */
  def buildPayloads(withSha: DataFrame): DataFrame = {
    // Generator path: chunks stream out of a Generate node (no
    // per-document array materialization — the 100 TB shape).
    val chunked = Chunker.explodeChunksGen(
      withSha, col("text"),
      Seq(col("product_id"), col("site_id"), col("sku"), col("product_sha")),
      sel.chunkSize, sel.chunkOverlap)
    val chunkShaUdf = udf((psha: String, idx: Int, t: String) =>
      Fingerprint.shaChunk(psha, idx, t))
    val emb = embedder
    val batchSize = tuning.sanitized.batchUpsertSize
    val withMeta = chunked
      .withColumn("chunk_sha", chunkShaUdf(col("product_sha"), col("chunk_index"), col("chunk_text")))
      .withColumn("id", format_string("site-%d:product-%d:chunk-%d",
        col("site_id"), col("product_id"), col("chunk_index")))
    // map-side batched embedding; only CHANGED products reach this stage
    val schema = StructType(withMeta.schema.fields :+
      StructField("values", ArrayType(FloatType), nullable = false))
    val out = withMeta.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val vecs = emb.embedTexts(batch.map(_.getAs[String]("chunk_text")))
        batch.zip(vecs).map { case (r, v) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v.toSeq)
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    out
      .withColumn("url", format_string("https://example.test/product/%d", col("product_id")))
      .withColumn("updated_at", lit(clock))
      .withColumn("fingerprint", concat(lit("sha256:"), col("product_sha")))
      // D4: dedup the fields metadata list (`class-indexer.php:92-98`)
      .withColumn("fields", lit(sel.core.distinct.sorted.toArray))
  }

  /** The DELETE job (reference lifecycle: trash/delete → delete job clears
    * the store's vectors AND this target's sync-state rows,
    * `includes/class-lifecycle.php:39-67` + the delete job's
    * `delete_by_product` + row purge). The sync pass can't do this — a
    * deleted product never appears as a candidate — so deletion is its own
    * entry point, idempotent like every other write (re-running converges
    * on the same empty state). Returns the number of sync-state rows
    * removed. */
  def deleteProduct(productId: Long, siteId: Int = 1): Long = {
    store.deleteByProduct(productId, siteId)
    val all = readSyncState()
    // Scoped by site_id too: the store delete above filters by
    // (product_id, site_id), so the bookkeeping purge must match — a
    // site-mismatched call would otherwise erase ALL the product's
    // sync_state rows while deleting none of its vectors, leaving them
    // orphaned and the product treated as brand-new (round-11 review).
    val mine = col("product_id") === productId &&
      col("site_id") === siteId && col("target") === target
    val removed = all.where(mine).count()
    commitSyncState(all.where(!mine))
    events.foreach { log =>
      import spark.implicits._
      log.append(Seq((clock, siteId, productId, target, "delete", "success", removed))
        .toDF("ts_s", "site_id", "product_id", "target", "action", "outcome", "deleted")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s"))
    }
    removed
  }

  /** One pass's plan over `normalized`, shared by [[sync]] (which
    * executes it) and [[sampleDryRun]] (which only reports it).
    *
    * `prior` is the committed sync_state the pass reads, `existing` its
    * rows for this target. `split` carries one row per candidate with
    * its short-circuit `unchanged` flag; it is planned and computed once
    * (cached) and read by every later stage. The payloads and per-chunk
    * [[Routing]] are planned only when [[routing]] is first asked for:
    * a pass whose split changed nothing never builds them. Call
    * [[unpersistAll]] when done. */
  private final class Pass(normalized: DataFrame, force: Boolean) {
    val prior: DataFrame = readSyncState()
    val existing: DataFrame = prior.where(col("target") === target)

    // Rebuild triggers: model/dimension mismatch → treat as changed
    // (`class-indexer.php:320-327`).
    private val existingByProduct = existing.groupBy("product_id").agg(
      first("product_sha").as("old_sha"),
      max(when(col("model") =!= embedder.model ||
        col("dimension") =!= embedder.dimension, 1).otherwise(0)).as("rebuild"),
      // T8: errored products never short-circuit — they self-heal on the
      // next pass (reference re-picks them at scan priority 1,
      // `class-scheduler.php:139`)
      max(when(col("status") === "error", 1).otherwise(0)).as("has_error"))

    // Short-circuit (`class-indexer.php:329-360`) hoisted BEFORE embedding:
    // unchanged = same product_sha and no rebuild trigger and not forced.
    val split: DataFrame = fingerprinted(normalized)
      .join(existingByProduct, Seq("product_id"), "left_outer")
      .withColumn("unchanged",
        if (force) lit(false)
        else coalesce(col("old_sha") === col("product_sha") &&
          col("rebuild") === 0 && col("has_error") === 0, lit(false)))
      .cache()

    private var built: Option[Routing] = None

    /** The changed products' payloads and per-chunk routing, planned and
      * cached on first use. */
    def routing: Routing = built.getOrElse {
      val changed = split.where(!col("unchanged"))
      val payloads = buildPayloads(
        changed.select("product_id", "site_id", "sku", "text", "product_sha")).cache()

      // J4: full-outer on (product_id, chunk_index), narrow projections
      // only. f_site rides along so the dry run can resolve ids for NEW
      // chunks from the candidate's OWN site (not a hardcoded default).
      val fresh = payloads.select(col("product_id"), col("chunk_index"),
        col("chunk_sha").as("f_sha"), col("site_id").as("f_site"))
      val exist = existing.select(col("product_id"), col("chunk_index"),
        col("chunk_sha").as("e_sha"), col("vector_id"),
        col("status").as("e_status"), col("site_id").as("e_site"))
        .join(changed.select("product_id"), Seq("product_id"), "left_semi")
      val routed = fresh.join(exist, Seq("product_id", "chunk_index"), "full_outer")
        .withColumn("action",
          when(col("f_sha").isNull, "delete")
            // error rows re-upsert even on sha match: the recorded sha
            // describes a write that never landed (`class-indexer.php:438-443`)
            .when(col("e_sha").isNull || col("e_sha") =!= col("f_sha") ||
              col("e_status") === "error" || lit(force), "upsert")
            .otherwise("skip"))
        .cache()
      built = Some(Routing(payloads, routed))
      built.get
    }

    def unpersistAll(): Unit = {
      split.unpersist()
      built.foreach { r => r.payloads.unpersist(); r.routed.unpersist() }
    }
  }

  /** The changed products' payloads and their per-chunk routing against
    * this target's rows (both cached), with the would-be delete ids and
    * upsert payloads derived from them. */
  private final case class Routing(payloads: DataFrame, routed: DataFrame) {
    // Deletes resolve by stored vector_id, fallback recomputed id —
    // `class-indexer.php:390-409`. The fallback id recomputes from the
    // row's OWN site_id (carried through `exist` as e_site) — a hardcoded
    // site-1 would silently delete a nonexistent id for any other site.
    def deleteIds: DataFrame = routed.where(col("action") === "delete")
      .select(coalesce(col("vector_id"),
        format_string("site-%d:product-%d:chunk-%d",
          col("e_site"), col("product_id"), col("chunk_index")))
        .as("id"))

    def upserts: DataFrame = payloads.join(
      routed.where(col("action") === "upsert")
        .select("product_id", "chunk_index"),
      Seq("product_id", "chunk_index"), "left_semi")
  }

  /** SAMPLE dry run — the reference's admin `sample_upsert`/`sample_delete`
    * one-product probes (`admin/pages/class-admin-page-connections.php:
    * 188-304`), generalized: run the FULL chunk→embed→payload→delta path
    * for the given candidates and return the would-be per-chunk action
    * set, with every write stubbed — no store mutation, no sync-state
    * commit, no event row. `force = true` mirrors the reference's sample
    * upsert exactly (it upserts unconditionally, skipping the
    * short-circuit). Returns (product_id, chunk_index, vector_id, action,
    * chunk_sha nullable for deletes). */
  def sampleDryRun(normalized: DataFrame, force: Boolean = false): DataFrame = {
    val pass = new Pass(normalized, force)
    try {
    // id resolution mirrors execution exactly: existing rows keep their
    // stored vector_id (deletes recompute from e_site, as sync does);
    // NEW chunks take the id buildPayloads would mint from the
    // candidate's own site_id — never a hardcoded default.
    val perChunk = pass.routing.routed
      .select(col("product_id"), col("chunk_index"),
        coalesce(col("vector_id"),
          format_string("site-%d:product-%d:chunk-%d",
            coalesce(col("e_site"), col("f_site")), col("product_id"), col("chunk_index")))
          .as("vector_id"),
        col("action"), col("f_sha").as("chunk_sha"))
    val skippedUnchanged = pass.split.where(col("unchanged"))
      .select(col("product_id"), lit(-1).as("chunk_index"),
        lit(null).cast("string").as("vector_id"),
        lit("skip_unchanged").as("action"),
        col("product_sha").as("chunk_sha"))
    // snapshot CLUSTER-side before unpersisting the lineage it depends on
    // — a driver collect() here would cap the API at driver memory, and
    // the candidate set can be a whole scan batch (reliable-storage
    // checkpoint under spark.graft.checkpoint=reliable; Stage.snap)
    graft.operators.Stage.snap(
      perChunk.unionByName(skippedUnchanged)
        .orderBy("product_id", "chunk_index"),
      materialize = true)
    // finally (not inline): a failure mid-plan must still unpin the
    // cached frames, or a scheduler loop that swallows per-tick errors
    // accumulates dead cached plans for the session's lifetime
    } finally pass.unpersistAll()
  }

  /** One full sync pass over `normalized` (product_id, site_id, sku, text),
    * one row per product. Returns the per-action summary (action, n):
    * chunk counts for `upsert`, `delete` and `skip`, and the product count
    * for `skip_unchanged`, sorted by action. */
  def sync(normalized: DataFrame, force: Boolean = false): DataFrame = {
    val pass = new Pass(normalized, force)
    try syncImpl(pass) finally pass.unpersistAll()
  }

  private def syncImpl(pass: Pass): DataFrame = {
    // The split's tally, read in ONE job before anything else: how many
    // candidates are unchanged and changed, and the event's site. Site
    // attribution from the batch itself (a hardcoded 1 mislabeled every
    // non-default-site pass): single-site batch → that site; multi-site
    // or empty batch → NULL (an equality filter on site_id then
    // correctly excludes the row rather than mis-attributing it).
    val t = pass.split.agg(
        coalesce(sum(when(col("unchanged"), 1L)), lit(0L)),
        coalesce(sum(when(!col("unchanged"), 1L)), lit(0L)),
        min("site_id"), max("site_id"), max(col("site_id").isNull))
      .head()
    val (nUnchanged, nChanged) = (t.getLong(0), t.getLong(1))
    val siteForEvent: Option[Int] =
      if (!t.isNullAt(2) && t.getInt(2) == t.getInt(3) && !t.getBoolean(4))
        Some(t.getInt(2))
      else None

    // A4 summary (`class-indexer.php:468-477`): the changed products'
    // per-action chunk counts, read in one more job before any write;
    // they route the store call. A pass whose split changed nothing
    // plans no payloads and no routing at all.
    val acted: Map[String, Long] =
      if (nChanged == 0) Map.empty
      else pass.routing.routed.groupBy("action").agg(count(lit(1)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = acted + ("skip_unchanged" -> nUnchanged)

    // Zero-remote-call short-circuit (golden case B): unchanged products
    // must produce NO store writes at all (`class-indexer.php:329-360`).
    // A pass with both deletes and upserts commits them as ONE store
    // version ([[VectorStoreWriter.replace]]).
    // Write failure poisons only this run's rows (marked status=error and
    // re-picked next pass), not the job (`class-indexer.php:438-443`).
    val (hasDeletes, hasUpserts) =
      (counts.getOrElse("delete", 0L) > 0, counts.getOrElse("upsert", 0L) > 0)
    val writeError: Option[Throwable] =
      try {
        if (hasDeletes || hasUpserts) {
          val r = pass.routing
          val upserts = r.upserts.select(
            col("id"), col("values"), col("site_id"), col("product_id"),
            col("sku"), col("url"), col("updated_at"), col("fingerprint"),
            col("fields"))
          if (hasDeletes && hasUpserts) store.replace(r.deleteIds, upserts)
          else if (hasDeletes) store.deleteByIds(r.deleteIds)
          else store.upsert(upserts)
        }
        None
      } catch { case e: Throwable => Some(e) }

    // Merge sync_state: drop rows for changed products, re-insert fresh
    // rows status='synced'; touch_all unchanged products (`:448-464, 350`).
    val statusCol = if (writeError.isEmpty) lit("synced") else lit("error")
    val errCode = if (writeError.isEmpty) lit(null).cast("string")
      else lit("graft_store_error")
    val errMsg = writeError.map(e =>
        lit(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
      .getOrElse(lit(null)).cast("string")
    val columns = syncSchema.fieldNames.toIndexedSeq.map(col)
    // ONE scan of the committed table, joined once to the split's flags.
    // The join is on (product_id, target), so only THIS target's rows of
    // a candidate find a flag: a second adapter's bookkeeping (other
    // `target` values, reference's per-target row model
    // `includes/class-plugin.php:126-127`) and non-candidates pass
    // through untouched, changed products' rows drop (their fresh rows
    // come back below), unchanged products' rows get the touch.
    val flags = broadcast(pass.split.select(col("product_id"),
      lit(target).as("target"), col("unchanged").as("touch")))
    val kept = pass.prior.join(flags, Seq("product_id", "target"), "left_outer")
      .where(col("touch").isNull || col("touch"))
      .withColumn("last_synced_at",
        when(col("touch"), lit(clock)).otherwise(col("last_synced_at")))
    val written =
      if (nChanged == 0) Seq.empty
      else {
        val r = pass.routing
        val freshRows = r.payloads.select(
          col("site_id"), col("product_id"), lit(target).as("target"),
          col("chunk_index"), col("id").as("vector_id"),
          col("product_sha"), col("chunk_sha"),
          lit(embedder.model).as("model"), lit(embedder.dimension).as("dimension"),
          statusCol.as("status"), errCode.as("error_code"), errMsg.as("error_msg"),
          lit(clock).as("last_synced_at"))
        // T8 delete-set preservation on write failure: rows routed
        // 'delete' belong to changed products, so the merge above drops
        // them — correct when the delete landed, but after a store
        // failure they are the ONLY record that those chunks' vectors
        // exist. Dropping them would leave the vectors orphaned forever
        // (the self-heal pass re-derives its delete set from sync_state).
        // Keep them as status='error' rows so the next healthy pass
        // routes them 'delete' again (idempotent even if the failed
        // pass's deleteByIds had already landed).
        val failedDeletes = writeError.map { _ =>
          pass.existing.join(
              r.routed.where(col("action") === "delete")
                .select("product_id", "chunk_index"),
              Seq("product_id", "chunk_index"), "left_semi")
            .withColumn("status", lit("error"))
            .withColumn("error_code", lit("graft_store_error"))
            .withColumn("error_msg", errMsg)
            .withColumn("last_synced_at", lit(clock))
        }
        freshRows +: failedDeletes.toSeq
      }
    commitSyncState((kept +: written).map(_.select(columns: _*))
      .reduce(_.unionByName(_)))

    // K8: append one event row per sync pass (reference logs per action,
    // `includes/class-events.php:18-47`; SURVEY §2.2 K8).
    events.foreach { log =>
      val outcome = if (writeError.isEmpty) "success" else "error"
      import spark.implicits._
      log.append(Seq((clock, siteForEvent, target, "sync", outcome,
          counts.getOrElse("upsert", 0L), counts.getOrElse("delete", 0L),
          counts.getOrElse("skip", 0L) + counts("skip_unchanged"),
          writeError.map(e => Option(e.getMessage).getOrElse("").take(200)).orNull))
        .toDF("ts_s", "site_id", "target", "action", "outcome",
          "upserted", "deleted", "skipped", "error_msg")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s"))
    }
    // a local relation: reading the summary back runs no Spark job
    spark.createDataFrame(
      counts.toSeq.sortBy(_._1).map { case (a, n) => Row(a, n) }.asJava,
      StructType(Seq(StructField("action", StringType, nullable = false),
        StructField("n", LongType, nullable = false))))
  }
}
