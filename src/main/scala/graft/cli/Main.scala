package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chunker.Chunker
import graft.embed.LocalHashEmbedder
import graft.fingerprint.Fingerprint
import graft.model.{Selection, Tuning}
import graft.store.ParquetVectorStore
import graft.streaming.StateCommit.exists
import graft.sync.SyncEngine

/** CLI surface mirroring the reference's `wp wcvec` commands + planned set
  * (reference `includes/cli/class-cli.php:43-166`, `README.md:160-175`,
  * SURVEY §2.13):
  *
  *   chunk  --doc <id> [--size N] [--overlap N] [--data DIR]
  *       normalize+chunk+fingerprint report for one document
  *   embed  --text <s>
  *       one-off embedding sanity (prints dim + first coords)
  *   sync   --data DIR --work DIR [--force] [--limit N]
  *       full pipeline over the documents table into the local store
  *   preview --product ID [--data DIR] [--fields title,sku,…]
  *       read-only dry-run: normalized text + meta line, no writes;
  *       --fields applies the P1 selection to the preview projection
  *   scan   --data DIR --work DIR [--limit N] [--quota N]
  *       one scheduler tick: plan candidates, advance the watermark
  *   loop   --data DIR --work DIR [--ticks N] [--limit N] [--quota N]
  *       scheduler + delta engine composed: plan from the engine's own
  *       sync-state, sync exactly the planned candidates, repeat.
  *       NOTE --quota is the reference's max-concurrent-jobs admission
  *       knob and clamps to 1–10 (class-options.php:477-484): a tick
  *       admits at most 10 products — raise --ticks, not --quota, to
  *       drain a large backlog (the pre-clamp default admitted 100/tick)
  *   sample --work DIR [--product N] [--data DIR] [--force]
  *       one-product END-TO-END dry run: chunk→embed→payload→delta with
  *       writes stubbed; prints the would-be upsert/delete sets
  *   status --work DIR
  *       store/sync-state versions + row counts
  *   purge  --work DIR --site N
  *       delete a site's vectors
  *   validate --work DIR [--model M] [--dimension N]
  *       connection validators (reference class-validators.php:20-139):
  *       embed a "ping" and check its length against the configured
  *       dimension; check each store is reachable/well-formed and its
  *       vectors match that dimension
  *   uninstall --work DIR [--purge-remote] [--site N]
  *       full teardown (reference uninstall.php:28-71): watermark +
  *       sync_state + stores + events removed; --purge-remote first
  *       purges the site through every enabled adapter
  *   analyze --data DIR [--release] [--spans] [--embeddings] [--shards]
  *           [--diversity] [--leakage]
  *       corpus data-card: per-language stats, token-length quantiles,
  *       frequent tokens, (with --spans) exact duplicated-span extents
  *       on the worst offenders (suffix-array pass), (with --release)
  *       the release-pipeline survivor counts, (with --embeddings)
  *       embedding-space curation: centroid-outlier and semantic-dedup
  *       survivor counts, and (with --leakage) the cross-split near-dup
  *       leak list + per-language tokenizer fertility
  *   export --data DIR --out PATH [--n-shards N] [--seed S] [--features]
  *          [--format parquet|jsonl]
  *       write the corpus as a sha-sharded partitioned parquet dataset
  *       (partitionBy(shard)): the "ship the training corpus as N
  *       reproducible shards" sink — a re-run writes the identical
  *       layout, and a failed shard can be rewritten alone; with
  *       --features, write the per-doc quality feature matrix instead
  *       (the classifier-training table)
  */
object Main {

  /** The embedding near-dup threshold the GATED catalog ships (retuned
    * in round 11); every CLI report quotes the same posture so the data
    * card can't disagree with the pipeline (round-12 review). */
  private val GatedCosThreshold = 0.35

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }
  private def flag(args: Array[String], name: String): Boolean =
    args.contains(s"--$name")

  private def session(): SparkSession = graft.LocalSession("graft-cli")

  /** The second-adapter wiring shared by sync/delete/purge: the vs store
    * under `$work/store_vs` plus a target="vs" engine logging to the
    * shared event log (every adapter logs its actions, as the reference's
    * jobs do). One definition so the three call sites can't drift. */
  private def vsAdapter(spark: SparkSession, work: String)
      : (graft.store.EnsureStoreVectorStore, SyncEngine) = {
    val vs = new graft.store.EnsureStoreVectorStore(spark, s"$work/store_vs")
    (vs, new SyncEngine(spark, new LocalHashEmbedder(), vs,
      s"$work/sync_state", Selection(chunkSize = 100, chunkOverlap = 20).sanitized,
      target = "vs",
      events = Some(new graft.events.EventLog(spark, s"$work/events"))))
  }

  private def docsAsProducts(spark: SparkSession, dir: String, limit: Int): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .limit(limit)
      .select(
        col("doc_id").as("product_id"),
        lit(1).as("site_id"),
        concat(lit("DOC-"), col("doc_id")).as("sku"),
        col("text"))

  /** The `index-status` card of the persisted-index root `root`; throws
    * `IllegalStateException` for a root with no commit or one the
    * readers refuse. */
  private def indexStatus(spark: SparkSession, root: String,
      args: Array[String]): Unit = {
    import graft.streaming.StateCommit
    val cur = StateCommit.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed index at $root"))
    val retained = StateCommit.versions(spark, root)
    val ts = StateCommit.metaTableNames(spark, root, cur)
    val family =
      if (ts.contains("dfs")) "lexical"
      else if (ts.contains("coarse")) "ivf-pq"
      else if (ts.contains("centroids")) "ann"
      else if (ts.contains("model")) "dsir"
      // SemDedupIndex's folded meta: scheme + manifest (+ tombstones
      // when churned) — `scheme` is its distinguishing table
      else if (ts.contains("scheme") && ts.contains("manifest")) "semdedup"
      // dedup's distinguishing tables: an EMPTY tombstone table emits
      // zero meta rows, so membership tests on `tombstones` alone
      // would miss a churn-free index — its (meta + manifest) pair is
      // the stable signature once the richer families are ruled out
      else if (ts.contains("meta") && ts.contains("manifest")) "dedup"
      else "unknown"
    val gensOnDisk = StateCommit.generationsOnDisk(spark, root)
    println(s"family: $family")
    println(s"committed version: $cur")
    println(s"retained versions (time-travel horizon): ${retained.mkString(", ")}")
    // per-family reads go through StateCommit.metaTable with the
    // family's MetaSchema
    import graft.operators.{AnnIndex, AnnIndexPq, DedupIndex, DsirModel,
      LexIndex, SemDedupIndex}
    val schema = family match {
      case "lexical" => LexIndex.metaSchema
      case "ivf-pq" => AnnIndexPq.metaSchema
      case "ann" => AnnIndex.metaSchema
      case "dsir" => DsirModel.metaSchema
      case "semdedup" => SemDedupIndex.metaSchema
      case _ => DedupIndex.metaSchema // an unknown root reads no table
    }
    def meta(table: String) =
      StateCommit.metaTable(spark, root, cur, schema, table)
    def gensCard(referenced: Seq[Long]): Unit =
      println(s"generations: ${gensOnDisk.size} on disk " +
        s"(${gensOnDisk.mkString(", ")}), ${referenced.length} referenced " +
        s"by v$cur (${referenced.mkString(", ")})")
    family match {
      case "lexical" =>
        gensCard(meta("manifest").collect().map(_.getLong(0))
          .distinct.sorted.toSeq)
        // headOption, not head(): a snapshot whose folded meta carries
        // zero rows for a family stats table (pre-monitor carry) must
        // print an 'unavailable' placeholder, not escape a raw
        // NoSuchElementException (round-13 advice)
        val stOpt = meta("stats").collect().headOption
        val tombs = meta("tombstones").count()
        val corpus = stOpt.map(st => s"${st.getLong(0)} docs, " +
          s"${st.getLong(1)} tokens").getOrElse("stats unavailable")
        println(s"corpus: $corpus; tombstoned ids: $tombs")
      case "ann" | "ivf-pq" =>
        val cells = graft.streaming.CellTable.entries(
          meta("manifest").collect().toSeq)
        gensCard(cells.values.toSeq.distinct.sorted)
        println(s"live cells: ${cells.size}")
      case "semdedup" =>
        val entries = meta("manifest").collect()
        gensCard(entries.map(_.getLong(0)).distinct.sorted.toSeq)
        val sch = meta("scheme").head()
        println(s"scheme: cellTarget=${sch.getInt(0)} probes=${sch.getInt(1)} " +
          s"cells=${sch.getInt(2)} buckets=${sch.getInt(3)} " +
          s"quantizer gen=${sch.getLong(4)}; " +
          s"posted vectors across generations (pre-tombstone): " +
          s"${entries.map(_.getLong(1)).sum}; tombstoned ids: " +
          s"${meta("tombstones").count()}")
        // the drift card (round-16): the frozen quantizer's one open
        // operational question is WHEN to rebuild — answered by the
        // live cell-occupancy distribution vs the build-time target.
        // OPT-IN (--drift): unlike every other status line this reads
        // the full live member table (a corpus-sized scan at the
        // design scale), so a quick "what version is committed?"
        // check must not pay it
        if (args.contains("--drift")) {
          val d = SemDedupIndex.driftCard(spark, root)
          val advisory = graft.GraftConf.long(spark,
            graft.GraftConf.SemDedupRebuildAt)
          println(f"drift: ${d.memberRows} member rows in ${d.liveCells} " +
            f"live cells (built for ${d.nCells}); cell size " +
            f"p50=${d.p50}%.0f p95=${d.p95}%.0f max=${d.maxCell} vs " +
            f"target ${d.cellTarget}; ${d.oversizedPct}%.1f%% of rows in " +
            f"cells >4x target (advisory ${advisory}%%)" +
            (if (d.rebuildAdvised) " -> REBUILD ADVISED" else ""))
        } else
          println("drift: pass --drift for the cell-occupancy card " +
            "(scans the live member table)")
      case "dedup" =>
        val entries = meta("manifest").collect()
        gensCard(entries.map(_.getLong(0)).distinct.sorted.toSeq)
        val schOpt = meta("meta").collect().headOption
        val scheme = schOpt.map(sch => s"k=${sch.getInt(0)} r=${sch.getInt(1)}")
          .getOrElse("unavailable")
        // per-generation doc counts are PRE-tombstone (a replaced
        // doc's superseded copies still count until a compact) —
        // label accordingly instead of implying live-corpus size
        println(s"scheme: $scheme; " +
          s"posted docs across generations (pre-tombstone): " +
          s"${entries.map(_.getLong(1)).sum}; tombstoned ids: " +
          s"${meta("tombstones").count()}")
      case "dsir" =>
        val scheme = meta("meta").collect().headOption.map(m =>
          s"${m.getInt(0)} buckets; frozen totals nt=${m.getLong(1)} " +
            s"nr=${m.getLong(2)}").getOrElse("unavailable")
        println(s"scheme: $scheme; populated buckets: " +
          s"${meta("model").count()}")
      case _ =>
        println(s"snapshot tables: ${ts.toSeq.sorted.mkString(", ")}")
    }
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("chunk") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val id = opt(args, "doc").getOrElse("0").toLong
      val rawSize = opt(args, "size").getOrElse("800").toInt
      val rawOverlap = opt(args, "overlap").getOrElse("100").toInt
      // the reference's input contract CORRECTS out-of-range config
      // rather than rejecting it (class-options.php:414-417)
      val clamped = Selection(chunkSize = rawSize, chunkOverlap = rawOverlap).sanitized
      val (size, overlap) = (clamped.chunkSize, clamped.chunkOverlap)
      if (size != rawSize || overlap != rawOverlap)
        System.err.println(
          s"note: clamped size=$rawSize overlap=$rawOverlap -> size=$size overlap=$overlap")
      val spark = session()
      val row = spark.read.parquet(s"$data/documents.parquet")
        .where(col("doc_id") === id).select("text").collect()
      if (row.isEmpty) { System.err.println(s"error: doc $id not found in $data"); sys.exit(1) }
      val text = row.head.getString(0)
      val sel = Selection(chunkSize = size, chunkOverlap = overlap)
      val psha = Fingerprint.shaProduct(text, sel, 3072)
      val chunks = Chunker.chunkText(text, size, overlap)
      println(s"doc=$id bytes=${text.getBytes("UTF-8").length} product_sha=$psha chunks=${chunks.size}")
      chunks.foreach { c =>
        val csha = Fingerprint.shaChunk(psha, c.index, c.text)
        println(f"  [${c.index}%3d] chars=${c.chars}%5d tokens~${c.approxTokens}%4d sha=${csha.take(12)} | ${c.text.take(60).replace("\n", "\\n")}...")
      }
      spark.stop()

    case Some("embed") =>
      val text = opt(args, "text").getOrElse { System.err.println("error: --text required"); sys.exit(2); "" }
      val model = opt(args, "model").getOrElse("text-embedding-3-small")
      val e = new LocalHashEmbedder(model)
      val v = e.embedOne(text)
      println(s"model=$model dim=${v.length} first8=${v.take(8).map(x => f"$x%.5f").mkString(",")}")

    case Some("sync") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val work = opt(args, "work").getOrElse { System.err.println("error: --work required"); sys.exit(2); "" }
      val limit = opt(args, "limit").getOrElse("50").toInt
      // --target local (default) | both: `both` also syncs into the
      // ensure-store adapter under its own `target` rows (reference: one
      // sync_state table, one row-set per enabled adapter).
      val targetSel = opt(args, "target").getOrElse("local")
      val spark = session()
      val store = new ParquetVectorStore(spark, s"$work/store")
      val engine = new SyncEngine(spark, new LocalHashEmbedder(), store,
        s"$work/sync_state", Selection(chunkSize = 100, chunkOverlap = 20).sanitized,
        events = Some(new graft.events.EventLog(spark, s"$work/events")))
      val t0 = System.nanoTime()
      val candidates = docsAsProducts(spark, data, limit)
      val summary = engine.sync(candidates, force = flag(args, "force"))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"sync completed in $dt%.1fs:")
      summary.collect().foreach(r => println(s"  ${r.getString(0)}: ${r.getLong(1)}"))
      println(s"  store rows: ${store.count()} (v${store.currentVersion})")
      if (targetSel == "both") {
        val (store2, engine2) = vsAdapter(spark, work)
        val summary2 = engine2.sync(candidates, force = flag(args, "force"))
        println(s"target vs (store ${store2.ensureStore()}):")
        summary2.collect().foreach(r => println(s"  ${r.getString(0)}: ${r.getLong(1)}"))
        println(s"  vs store rows: ${store2.count()} (v${store2.currentVersion})")
      }
      println(s"  sync_state rows: ${engine.readSyncState().count()} (v${engine.syncVersion})")
      spark.stop()

    case Some("preview") =>
      // The read-only preview sub-pipeline (SURVEY §3.3; reference AJAX
      // fields_preview `admin/pages/class-admin-page-fields.php:227-258`):
      // same normalizer IR as sync but stops before fingerprint/chunk/embed.
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val id = opt(args, "product").getOrElse("2").toLong
      // --fields title,sku,… : the P1 selection drives the preview text
      // exactly as it drives sync (same normalizer projection)
      val fields = opt(args, "fields")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(graft.normalize.Normalizer.DefaultCore)
      if (!fields.exists(graft.normalize.Normalizer.DefaultCore.contains)) {
        System.err.println(s"error: --fields has no known core fields " +
          s"(got ${fields.mkString(",")}; known ${graft.normalize.Normalizer.DefaultCore.mkString(",")})")
        sys.exit(2)
      }
      val spark = session()
      val products = graft.catalog.Catalog.products(spark, data)
      val row = graft.normalize.Normalizer.normalize(products, fields)
        .where(col("product_id") === id).collect()
      if (row.isEmpty) { System.err.println(s"error: product $id not found"); sys.exit(1) }
      println(s"product $id normalized text:")
      row.head.getString(1).split("\n").foreach(l => println(s"  $l"))
      val meta = graft.normalize.Normalizer
        .metaSections(graft.catalog.Catalog.productMeta(spark, data))
        .where(col("product_id") === id).collect()
      meta.headOption.foreach(m => println(s"  Meta: ${m.getString(1)}"))
      spark.stop()

    case Some("scan") =>
      // T3/T4: one scheduler tick — plan candidates via the priority union
      // against the persisted watermark, then advance the watermark.
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val work = opt(args, "work").getOrElse { System.err.println("error: --work required"); sys.exit(2); "" }
      // reference clamps: scan batch 20–2000, concurrent jobs 1–10
      // (class-options.php:486-493,477-484) — correct, don't reject
      val rawScanLimit = opt(args, "limit").getOrElse("200").toInt
      val rawScanQuota = opt(args, "quota").getOrElse("3").toInt
      val tun = Tuning(
        scanBatchLimit = rawScanLimit, maxConcurrentJobs = rawScanQuota).sanitized
      val (limit, quota) = (tun.scanBatchLimit, tun.maxConcurrentJobs)
      if (limit != rawScanLimit || quota != rawScanQuota)
        System.err.println(
          s"note: clamped limit=$rawScanLimit quota=$rawScanQuota -> limit=$limit quota=$quota")
      val spark = session()
      val wm = new graft.scan.Watermark(s"$work/last_scan_gmt",
        spark.sparkContext.hadoopConfiguration)
      val now = java.time.Instant.now()
      val planned = graft.scan.Scheduler.planScan(
        graft.catalog.Catalog.products(spark, data),
        graft.catalog.Catalog.syncState(spark, data),
        wm.get, now, limit, quota).collect()
      println(s"scan planned ${planned.length} candidates (watermark=${wm.get.getOrElse("<none>")})")
      planned.take(10).foreach(r => println(s"  product ${r.getLong(0)} prio ${r.getInt(1)}"))
      wm.set(graft.scan.Scheduler.Fmt.format(now))
      spark.stop()

    case Some("loop") =>
      // The full reference architecture composed (SURVEY §3.1 + §3.2):
      // each tick plans candidates from the engine's OWN sync-state
      // (errors ∪ modified ∪ initial, quota-capped), syncs exactly those
      // through the delta engine, and advances the watermark.
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val work = opt(args, "work").getOrElse { System.err.println("error: --work required"); sys.exit(2); "" }
      val ticks = opt(args, "ticks").getOrElse("3").toInt
      // same clamp contract as `scan` (class-options.php:486-493,477-484);
      // the per-tick admission quota is the reference's max-concurrent-jobs
      val rawLimit = opt(args, "limit").getOrElse("100").toInt
      val rawQuota = opt(args, "quota").getOrElse("10").toInt
      val tun = Tuning(scanBatchLimit = rawLimit, maxConcurrentJobs = rawQuota).sanitized
      val (limit, quota) = (tun.scanBatchLimit, tun.maxConcurrentJobs)
      if (limit != rawLimit || quota != rawQuota)
        System.err.println(s"note: clamped limit=$rawLimit quota=$rawQuota -> limit=$limit quota=$quota")
      val spark = session()
      val products = graft.catalog.Catalog.products(spark, data)
      val store = new ParquetVectorStore(spark, s"$work/store")
      val engine = new SyncEngine(spark, new LocalHashEmbedder(), store,
        s"$work/sync_state", Selection(chunkSize = 100, chunkOverlap = 20).sanitized,
        events = Some(new graft.events.EventLog(spark, s"$work/events")))
      val wm = new graft.scan.Watermark(s"$work/last_scan_gmt",
        spark.sparkContext.hadoopConfiguration)
      for (t <- 1 to ticks) {
        val now = java.time.Instant.now()
        val state = engine.readSyncState()
          .select(col("product_id"), col("status"),
            col("last_synced_at").cast("timestamp").as("last_synced_at"))
          .withColumn("updated_at", col("last_synced_at"))
        val planned = graft.scan.Scheduler
          .planScan(products, state, wm.get, now, limit, quota)
          .select("product_id")
        val n = planned.count()
        println(s"tick $t: planned $n candidates (watermark=${wm.get.getOrElse("<none>")})")
        if (n > 0) {
          // full reference document: core + meta + terms + all ACF types
          val acfAll = graft.normalize.Normalizer
            .acfRender(graft.catalog.Catalog.acfValues(spark, data))
            .unionByName(graft.normalize.Normalizer.acfRenderLookup(
              graft.catalog.Catalog.acfLookupValues(spark, data),
              graft.catalog.Catalog.postTitles(spark, data),
              graft.catalog.Catalog.termDim(spark, data),
              graft.catalog.Catalog.attachments(spark, data)))
          val cand = graft.normalize.Normalizer.composeFull(products,
              graft.catalog.Catalog.productMeta(spark, data),
              graft.catalog.Catalog.productTerms(spark, data), acfAll)
            .join(planned, Seq("product_id"), "left_semi")
            .join(products.select("product_id", "site_id", "sku"), Seq("product_id"))
            .select("product_id", "site_id", "sku", "text")
          engine.sync(cand).collect()
            .foreach(r => println(s"  ${r.getString(0)}: ${r.getLong(1)}"))
        }
        wm.set(graft.scan.Scheduler.Fmt.format(now))
      }
      println(s"loop done: store ${store.count()} vectors (v${store.currentVersion}), " +
        s"sync_state ${engine.readSyncState().count()} rows")
      spark.stop()

    case Some("status") =>
      val work = opt(args, "work").getOrElse { System.err.println("error: --work required"); sys.exit(2); "" }
      val spark = session()
      val store = new ParquetVectorStore(spark, s"$work/store")
      val engine = new SyncEngine(spark, new LocalHashEmbedder(), store, s"$work/sync_state")
      println(s"store: v${store.currentVersion}, ${store.count()} vectors")
      if (exists(spark, s"$work/store_vs")) {
        val vs = new graft.store.EnsureStoreVectorStore(spark, s"$work/store_vs")
        println(s"vs store ${vs.ensureStore()}: v${vs.currentVersion}, ${vs.count()} vectors")
      }
      val st = engine.readSyncState()
      println(s"sync_state: v${engine.syncVersion}, ${st.count()} rows")
      st.groupBy("status").count().collect()
        .foreach(r => println(s"  ${r.getString(0)}: ${r.getLong(1)}"))
      if (exists(spark, s"$work/events")) {
        val ev = new graft.events.EventLog(spark, s"$work/events").read()
        println(s"events: ${ev.count()} rows")
        ev.orderBy(col("ts").desc).limit(3).collect().foreach(r =>
          println(s"  ${r.getAs[Any]("action")} ${r.getAs[Any]("outcome")} " +
            s"upserted=${r.getAs[Any]("upserted")} deleted=${r.getAs[Any]("deleted")} skipped=${r.getAs[Any]("skipped")}"))
      }
      spark.stop()

    case Some("delete") =>
      // the lifecycle delete path (reference trash/delete hook -> delete
      // job): clear one product's vectors + bookkeeping rows
      val work = opt(args, "work").getOrElse { System.err.println("error: --work required"); sys.exit(2); "" }
      val pid = opt(args, "product").getOrElse { System.err.println("error: --product required"); sys.exit(2); "0" }.toLong
      val site = opt(args, "site").getOrElse("1").toInt
      val spark = session()
      val store = new ParquetVectorStore(spark, s"$work/store")
      val engine = new SyncEngine(spark, new LocalHashEmbedder(), store,
        s"$work/sync_state", Selection(chunkSize = 100, chunkOverlap = 20).sanitized,
        events = Some(new graft.events.EventLog(spark, s"$work/events")))
      val removed = engine.deleteProduct(pid, site)
      println(s"deleted product $pid (site $site): $removed sync-state rows removed; " +
        s"store ${store.count()} vectors (v${store.currentVersion})")
      // a work dir synced with --target both has a second adapter: the
      // delete job must clear EVERY enabled adapter (same rule as purge)
      if (exists(spark, s"$work/store_vs")) {
        val (vs, engine2) = vsAdapter(spark, work)
        val removed2 = engine2.deleteProduct(pid, site)
        println(s"deleted product $pid from vs store: $removed2 sync-state rows; " +
          s"now ${vs.count()} vectors (v${vs.currentVersion})")
      }
      spark.stop()

    case Some("sample") =>
      // End-to-end ONE-product dry run (reference admin sample_upsert/
      // sample_delete, `admin/pages/class-admin-page-connections.php:
      // 188-304`): the full chunk→embed→payload→delta path with every
      // write stubbed — prints the would-be upsert/delete sets and proves
      // the store and sync-state versions did not move.
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val work = opt(args, "work").getOrElse { System.err.println("error: --work required"); sys.exit(2); "" }
      val spark = session()
      val docs = spark.read.parquet(s"$data/documents.parquet")
      // reference fallback: no/INVALID product id → first published product
      // (sample_upsert coerces with (int) and falls back on <= 0)
      val pid = opt(args, "product")
        .flatMap(s => scala.util.Try(s.toLong).toOption).filter(_ > 0)
        .getOrElse {
          val row = docs.agg(min(col("doc_id"))).head
          if (row.isNullAt(0)) { System.err.println(s"error: no documents in $data"); sys.exit(1) }
          row.getLong(0)
        }
      val candidate = docs.where(col("doc_id") === pid)
        .select(col("doc_id").as("product_id"), lit(1).as("site_id"),
          concat(lit("DOC-"), col("doc_id")).as("sku"), col("text"))
      if (candidate.isEmpty) { System.err.println(s"error: doc $pid not found in $data"); sys.exit(1) }
      val store = new ParquetVectorStore(spark, s"$work/store")
      val engine = new SyncEngine(spark, new LocalHashEmbedder(), store,
        s"$work/sync_state", Selection(chunkSize = 100, chunkOverlap = 20).sanitized,
        events = Some(new graft.events.EventLog(spark, s"$work/events")))
      val (storeV0, syncV0) = (store.currentVersion, engine.syncVersion)
      val plan = engine.sampleDryRun(candidate, force = flag(args, "force")).collect()
      val byAction = plan.groupBy(_.getString(3)).view.mapValues(_.length).toMap
      println(s"sample dry run: product $pid (target local, force=${flag(args, "force")})")
      byAction.toSeq.sortBy(_._1).foreach { case (a, n) => println(s"  $a: $n") }
      val upsertIds = plan.filter(_.getString(3) == "upsert").map(_.getString(2))
      if (upsertIds.nonEmpty) // the reference's details preview: first & last ids
        println(s"  first_id=${upsertIds.head} last_id=${upsertIds.last}")
      plan.filter(_.getString(3) == "delete")
        .foreach(r => println(s"  would delete ${r.getString(2)}"))
      println(s"  store untouched: v${store.currentVersion} (was v$storeV0); " +
        s"sync_state untouched: v${engine.syncVersion} (was v$syncV0)")
      assert(store.currentVersion == storeV0 && engine.syncVersion == syncV0)
      spark.stop()

    case Some("pipeline") =>
      // Training-data pipeline report over the documents table: corpus
      // stats, dedup posture, eval contamination, split sizes — the
      // dataset-card numbers a corpus release pipeline produces.
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val spark = session()
      val docs = spark.read.parquet(s"$data/documents.parquet")
      val total = docs.count()
      println(s"documents: $total")
      graft.operators.TextAnalysis.corpusStats(docs).collect().foreach { r =>
        println(f"  lang ${r.getString(0)}%-3s docs=${r.getLong(1)}%5d " +
          f"tokens=${r.getLong(2)}%8d meanTok=${r.getDouble(3)}%8.1f " +
          f"quality=${r.getDouble(4)}%6.3f")
      }
      val exactKeep = graft.operators.Dedup.dropExactDuplicates(docs).count()
      val clusters = graft.operators.Dedup.lshComponents(docs)
        .select("cluster").distinct().count()
      println(s"dedup: exact keep $exactKeep/$total; near-dup clusters $clusters")
      val contaminated = graft.operators.Dedup
        .decontaminate(docs, docs.where(col("doc_id") < 5))
        .where(col("contaminated") === 1).count()
      println(s"decontamination vs docs 0-4: $contaminated flagged")
      val splits = graft.operators.TextAnalysis.split(docs)
        .groupBy("split").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"split: $splits")
      // semantic posture (embeddings table): cluster survivors, semantic
      // eval-leakage (banded), and DSIR target-likeness vs src1
      val embPath = s"$data/embeddings.parquet"
      if (exists(spark, embPath)) {
        val emb = spark.read.parquet(embPath)
        // threshold 0.35 = the gated catalog's retuned dedup posture
        // (round-12 review: the report previously ran the library default
        // 0.25 and disagreed with what the pipeline ships)
        val semSurv = graft.operators.Similarity.semanticDedupCells(
            emb, threshold = GatedCosThreshold)
          .where(col("survivor") === 1).count()
        val semFlag = graft.operators.Similarity.semanticDecontaminateBanded(
          emb.where(col("vec_id") % 20 =!= 0),
          emb.where(col("vec_id") % 20 === 0),
          threshold = GatedCosThreshold).count()
        println(s"semantic: semdedup survivors $semSurv/${emb.count()}; " +
          s"banded eval-leakage flags $semFlag")
      }
      val dsirTop = graft.operators.TextAnalysis.dsirSelect(
        docs.where(col("source") =!= "src1"),
        docs.where(col("source") === "src1"), k = 5)
        .collect().map(_.getLong(1)).mkString(",")
      println(s"dsir top-5 vs src1 target: docs $dsirTop")
      spark.stop()

    case Some("purge") =>
      val work = opt(args, "work").getOrElse { System.err.println("error: --work required"); sys.exit(2); "" }
      val site = opt(args, "site").getOrElse("1").toInt
      val spark = session()
      val store = new ParquetVectorStore(spark, s"$work/store")
      store.purgeSite(site)
      println(s"purged site $site; store now ${store.count()} vectors (v${store.currentVersion})")
      // a work dir synced with --target both has a second store: K5 must
      // clear EVERY enabled adapter, as the reference's purge job does
      if (exists(spark, s"$work/store_vs")) {
        val (vs, _) = vsAdapter(spark, work)
        vs.purgeSite(site)
        println(s"purged site $site from vs store; now ${vs.count()} vectors " +
          s"(v${vs.currentVersion}, ${vs.lastPurgeBatches} delete batches)")
      }
      spark.stop()

    case Some("validate") =>
      // The reference's "Validate connection" buttons (SURVEY §2.13;
      // class-validators.php:20-139): one ping embed + a dimension check,
      // then store reachability + stored-vector dimension per adapter.
      val work = opt(args, "work").getOrElse { System.err.println("error: --work required"); sys.exit(2); "" }
      val model = opt(args, "model").getOrElse(graft.model.Selection.DefaultModel)
      val results = scala.collection.mutable.ListBuffer[(String, graft.validate.ValidationResult)]()
      val embedder =
        try Some(new LocalHashEmbedder(model))
        catch {
          case e: graft.embed.GraftEmbedError =>
            results += ("embedder" -> graft.validate.ValidationResult(ok = false, e.code, e.msg))
            None
        }
      // --dimension is the CONFIGURED dimension (Options::get_dimension()):
      // it may disagree with the model's locked dimension — surfacing that
      // is the validator's job, so it is NOT clamped to match. An invalid
      // model with no explicit --dimension leaves NO configured dimension:
      // the store checks then validate reachability only, instead of
      // manufacturing a spurious store_dim_mismatch against a default.
      val expectedDim: Option[Int] = opt(args, "dimension")
        .map(d => d.toIntOption.getOrElse {
          System.err.println(s"error: --dimension must be an integer, got '$d'")
          sys.exit(2)
        })
        .orElse(embedder.map(_.dimension))
      embedder.foreach { e =>
        results += ("embedder" ->
          graft.validate.Validators.validateEmbedder(e, expectedDim.getOrElse(e.dimension)))
      }
      val spark = session()
      results += ("store" ->
        graft.validate.Validators.validateStore(spark, s"$work/store", expectedDim))
      if (exists(spark, s"$work/store_vs"))
        results += ("store_vs" ->
          graft.validate.Validators.validateEnsureStore(spark, s"$work/store_vs", expectedDim))
      results.foreach { case (name, r) =>
        val mark = if (r.ok) "ok" else s"FAIL [${r.code}]"
        println(s"  $name: $mark ${r.message}")
      }
      spark.stop()
      if (results.exists(!_._2.ok)) sys.exit(1)

    case Some("analyze") =>
      // Corpus data-card over the documents table: per-language counts /
      // token totals / quality, token-length quantiles, and the
      // release-pipeline survivor counts — the curation surface driven
      // from the CLI (library ops: TextAnalysis.corpusStats /
      // tokenQuantiles / releasePipeline).
      val dir = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val spark = session()
      val docs = graft.catalog.Catalog.documents(spark, dir)
      println(s"corpus: ${docs.count()} documents")
      println("per-language stats (docs, tokens, mean tokens, mean quality):")
      graft.operators.TextAnalysis.corpusStats(docs).collect().foreach { r =>
        println(f"  ${r.getString(0)}%-4s ${r.getLong(1)}%6d ${r.getLong(2)}%9d " +
          f"${r.getDouble(3)}%10.2f ${r.getDouble(4)}%8.4f")
      }
      println("token-count quantiles (p50 / p90 / p99 / max):")
      graft.operators.TextAnalysis.tokenQuantiles(docs).collect().foreach { r =>
        println(f"  ${r.getString(0)}%-4s ${r.getDouble(2)}%8.1f ${r.getDouble(3)}%8.1f " +
          f"${r.getDouble(4)}%8.1f ${r.getLong(5)}%6d")
      }
      println("frequent tokens (count >= 1% of stream):")
      val total = graft.operators.TextAnalysis
        .heavyHitters(docs, minCount = 1).agg(
          org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0)
      graft.operators.TextAnalysis.heavyHitters(docs, math.max(1L, total / 100))
        .limit(10).collect().foreach { r =>
          println(f"  ${r.getString(0)}%-12s ${r.getLong(1)}%6d")
        }
      if (flag(args, "spans")) {
        println("exact duplicated spans on the worst offenders (suffix-array pass):")
        graft.operators.Dedup.suffixArraySpans(docs, topK = 5)
          .limit(10).collect().foreach { r =>
            println(s"  doc ${r.getLong(0)}: tokens ${r.getInt(1)}-${r.getInt(2)} " +
              s"(${r.getInt(3)} duplicated)")
          }
      }
      if (flag(args, "release")) {
        println("release pipeline (quality filter -> exact dedup -> near dedup -> split):")
        graft.operators.TextAnalysis.releasePipeline(docs).collect().foreach { r =>
          println(s"  ${r.getString(0)}/${r.getString(1)}: ${r.getLong(2)}")
        }
      }
      if (flag(args, "embeddings")) {
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        val emb = graft.catalog.Catalog.embeddings(spark, dir)
        println("embedding-space curation:")
        val o = graft.operators.Similarity.centroidOutliers(emb)
          .agg(sum("is_outlier").cast("long"), count(lit(1))).collect().head
        println(s"  label outliers (anti-correlated with class centroid): " +
          s"${o.getLong(0)} / ${o.getLong(1)} vectors")
        val sdd = graft.operators.Similarity.semanticDedupCells(
            emb, threshold = GatedCosThreshold)
          .agg(sum("survivor").cast("long"), count(lit(1))).collect().head
        println(s"  semantic dedup: ${sdd.getLong(0)} survivors / " +
          s"${sdd.getLong(1)} vectors (cos >= $GatedCosThreshold near-dup graph)")
      }
      if (flag(args, "shards")) {
        println("shard balance (8 sha-keyed shards: docs, chars, langs):")
        graft.operators.TextAnalysis.shardBalance(docs).collect().foreach { r =>
          println(f"  shard ${r.getInt(0)}: ${r.getLong(1)}%5d docs " +
            f"${r.getLong(2)}%9d chars ${r.getLong(3)}%2d langs")
        }
        println("per-source caps (quota 20, hash lottery): kept docs per source:")
        graft.operators.Dedup.capPerSource(docs)
          .groupBy("source").count().orderBy("source")
          .collect().foreach { r =>
            println(f"  ${r.getString(0)}%-8s ${r.getLong(1)}%4d kept")
          }
      }
      if (flag(args, "leakage")) {
        println("cross-split near-dup leakage (val/test docs with a train near-dup):")
        val leaks = graft.operators.Dedup
          .splitLeakage(docs, graft.operators.TextAnalysis.split(docs)).collect()
        if (leaks.isEmpty) println("  none — splits are leak-free")
        else leaks.take(10).foreach { r =>
          println(s"  doc ${r.getLong(0)} (${r.getString(1)}): " +
            s"${r.getLong(2)} train near-dup(s)")
        }
        println("tokenizer fertility per language (subwords/word, bps):")
        graft.operators.Bpe.tokenizerFertility(docs).collect().foreach { r =>
          println(f"  ${r.getString(0)}%-4s ${r.getLong(3)}%6d bps " +
            f"(${r.getLong(2)}%8d subwords / ${r.getLong(1)}%8d words)")
        }
      }
      if (flag(args, "diversity")) {
        import org.apache.spark.sql.functions.{avg, col, min, max}
        println("vocabulary diversity (token entropy, micro-nats):")
        val e = graft.operators.TextAnalysis.tokenEntropy(docs)
          .agg(avg(col("entropy_micro")).cast("long"),
            min("entropy_micro"), max("entropy_micro"),
            avg(col("ttr_bps")).cast("long")).collect().head
        println(s"  entropy mean ${e.getLong(0)} min ${e.getLong(1)} " +
          s"max ${e.getLong(2)}; mean TTR ${e.getLong(3)} bps")
        println("near-dup cluster-size histogram (size: clusters / docs):")
        graft.operators.Dedup.clusterSizeHistogram(docs).collect().foreach { r =>
          println(f"  ${r.getLong(0)}%3d: ${r.getLong(1)}%5d clusters " +
            f"${r.getLong(2)}%6d docs")
        }
        println("compression ratio (Deflate bps; low = repetitive):")
        val cr = graft.operators.TextAnalysis.compressionRatio(docs)
          .where(col("n_bytes") > 0)
          .agg(avg(col("ratio_bps")).cast("long"),
            min("ratio_bps"), max("ratio_bps")).collect().head
        println(s"  mean ${cr.getLong(0)} min ${cr.getLong(1)} max ${cr.getLong(2)} bps")
      }
      spark.stop()

    case Some("export") =>
      val dir = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val out = opt(args, "out").getOrElse {
        System.err.println("error: --out required"); sys.exit(2); ""
      }
      val nShards = opt(args, "n-shards").getOrElse("8").toInt
      val seed = opt(args, "seed").getOrElse("v1")
      if (nShards <= 0) {
        System.err.println("error: --n-shards must be positive"); sys.exit(2)
      }
      val spark = session()
      val docs = graft.catalog.Catalog.documents(spark, dir)
      if (flag(args, "features")) {
        // the classifier-training table instead of the raw corpus
        graft.operators.TextAnalysis.featureMatrix(docs)
          .write.mode("overwrite").parquet(out)
        val back = spark.read.parquet(out)
        println(s"exported feature matrix: ${back.count()} rows x " +
          s"${back.columns.length} columns to $out")
      } else {
        // deterministic layout: the shard key is content-independent sha
        // math over doc_id, so a re-export writes the identical assignment
        val sharded = docs.join(
          graft.operators.TextAnalysis.shardAssign(docs, nShards, seed)
            .select("doc_id", "shard"), Seq("doc_id"))
        val fmt = opt(args, "format").getOrElse("parquet")
        val back = fmt match {
          case "parquet" =>
            sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
            spark.read.parquet(out)
          case "jsonl" =>
            // the common corpus interchange format: gzipped JSON lines,
            // one doc per line, still partitioned by shard
            sharded.write.mode("overwrite").partitionBy("shard")
              .option("compression", "gzip").json(out)
            spark.read.json(out)
          case other =>
            System.err.println(s"error: unknown --format $other (parquet|jsonl)")
            sys.exit(2); null
        }
        println(s"exported ${back.count()} docs to $out in $nShards shards " +
          s"(seed $seed, format $fmt):")
        back.groupBy("shard").count().orderBy("shard").collect().foreach { r =>
          println(f"  shard ${r.get(0)}: ${r.getLong(1)}%6d docs")
        }
      }
      spark.stop()

    case Some("uninstall") =>
      val work = opt(args, "work").getOrElse { System.err.println("error: --work required"); sys.exit(2); "" }
      val site = opt(args, "site").getOrElse("1").toInt
      val spark = session()
      val removed = graft.lifecycle.Uninstall.uninstall(
        spark, work, purgeRemote = flag(args, "purge-remote"), siteId = site)
      if (removed.isEmpty) println(s"nothing to uninstall at $work")
      else println(s"uninstalled $work: removed ${removed.mkString(", ")}")
      spark.stop()

    // index-build --data <sfdir> --root <dir> [--cells N]: train the
    // coarse quantizer over the embeddings table and persist the
    // cell-partitioned vector index (AnnIndex.build).
    case Some("index-build") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val cells = opt(args, "cells").getOrElse("8").toInt
      val spark = session()
      val emb = graft.catalog.Catalog.embeddings(spark, data)
      val t0 = System.nanoTime()
      graft.operators.AnnIndex.build(emb, root, cells)
      val dt = (System.nanoTime() - t0) / 1e9
      val live = graft.operators.AnnIndex.vectors(spark, root)
      val n = live.count()
      val nc = live.select("cell").distinct().count()
      val v = graft.operators.AnnIndex.version(spark, root)
      println(f"index built in $dt%.1fs: $n vectors across $nc cells at $root (snapshot $v)")
      spark.stop()

    // index-search --root <dir> --query <vec_id> [--data <sfdir>]
    // [--probes N] [--k N]: probe the persisted index with one corpus
    // vector and print its neighbors.
    case Some("index-search") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val qid = opt(args, "query").getOrElse("0").toLong
      val probes = opt(args, "probes").getOrElse("1").toInt
      val k = opt(args, "k").getOrElse("5").toInt
      val spark = session()
      val q = graft.catalog.Catalog.embeddings(spark, data)
        .where(col("vec_id") === qid)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      if (q.isEmpty) { System.err.println(s"error: vec_id $qid not found in $data"); sys.exit(1) }
      // --at <version>: time-travel the probe to a retained snapshot
      val hits = (opt(args, "at") match {
        case Some(v) =>
          graft.operators.AnnIndex.searchAt(spark, root, q, v.toLong, probes, k)
        case None => graft.operators.AnnIndex.search(spark, root, q, probes, k)
      }).collect()
      println(s"query=$qid probes=$probes k=$k -> ${hits.length} neighbors:")
      hits.foreach(r => println(f"  rank ${r.getInt(3)}%2d  vec ${r.getLong(1)}%6d  cos ${r.getDouble(2)}%.6f"))
      spark.stop()

    // pq-build --data <sfdir> --root <dir> [--coarse N] [--m N]: train
    // and persist the IVF-PQ index (codes-not-vectors cells).
    case Some("pq-build") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val nCoarse = opt(args, "coarse").getOrElse("8").toInt
      val m = opt(args, "m").getOrElse("8").toInt
      val spark = session()
      val emb = graft.catalog.Catalog.embeddings(spark, data)
      val t0 = System.nanoTime()
      graft.operators.AnnIndexPq.build(emb, root, nCoarse, m)
      val dt = (System.nanoTime() - t0) / 1e9
      val v = graft.operators.AnnIndexPq.version(spark, root)
      println(f"IVF-PQ index built in $dt%.1fs: $nCoarse cells x m=$m codes at $root (snapshot $v)")
      spark.stop()

    // pq-search --root <dir> --query <vec_id> [--data <sfdir>]
    // [--probes N] [--k N]: ADC search over the persisted codes.
    case Some("pq-search") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val qid = opt(args, "query").getOrElse("0").toLong
      val probes = opt(args, "probes").getOrElse("2").toInt
      val k = opt(args, "k").getOrElse("5").toInt
      val spark = session()
      val q = graft.catalog.Catalog.embeddings(spark, data)
        .where(col("vec_id") === qid)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      if (q.isEmpty) { System.err.println(s"error: vec_id $qid not found in $data"); sys.exit(1) }
      val hits = graft.operators.AnnIndexPq.search(spark, root, q, probes, k).collect()
      println(s"query=$qid probes=$probes k=$k -> ${hits.length} ADC neighbors:")
      hits.foreach(r => println(f"  rank ${r.getInt(3)}%2d  vec ${r.getLong(1)}%6d  adist ${r.getLong(2)}%12d"))
      spark.stop()

    // dedup-build --data <sfdir> --root <dir> [--split N] [--k N] [--r N]:
    // persist the LSH band-signature index over the documents table
    // (doc_id % 10 < split; split=10 indexes everything).
    case Some("dedup-build") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val split = opt(args, "split").getOrElse("8").toInt
      val k = opt(args, "k").getOrElse("16").toInt
      val r = opt(args, "r").getOrElse("4").toInt
      val spark = session()
      val docs = graft.catalog.Catalog.documents(spark, data)
        .where(col("doc_id") % 10 < split)
      val t0 = System.nanoTime()
      graft.operators.DedupIndex.build(docs, root, k, r)
      val dt = (System.nanoTime() - t0) / 1e9
      val n = graft.operators.DedupIndex.sigs(spark, root).count()
      val v = graft.operators.DedupIndex.version(spark, root)
      println(f"dedup index built in $dt%.1fs: $n docs, scheme k=$k r=$r at $root (snapshot $v)")
      spark.stop()

    // dedup-classify --data <sfdir> --root <dir> [--split N]: classify
    // the held-out tail (doc_id % 10 >= split) against the index and
    // print the verdict histogram + the flagged docs.
    case Some("dedup-classify") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val split = opt(args, "split").getOrElse("8").toInt
      val spark = session()
      val batch = graft.catalog.Catalog.documents(spark, data)
        .where(col("doc_id") % 10 >= split)
      val (schemeK, _) = graft.operators.DedupIndex.scheme(spark, root)
      val verdicts = graft.operators.DedupIndex.classifyBatch(spark, root, batch)
        .localCheckpoint() // histogram + detail rows: one probe, two reads
      verdicts.groupBy("verdict").count().orderBy("verdict").collect()
        .foreach(row => println(f"  ${row.getString(0)}%-14s ${row.getLong(1)}%6d"))
      val flagged = verdicts.where(col("verdict") =!= "new")
        .orderBy(col("best_sig_match").desc, col("doc_id")).limit(10).collect()
      if (flagged.nonEmpty) {
        println("top duplicate candidates:")
        flagged.foreach(r => println(
          f"  doc ${r.getLong(0)}%6d -> ${r.getLong(2)}%6d  " +
            f"sig ${r.getLong(3)}%2d/$schemeK%d  ${r.getString(4)}"))
      }
      spark.stop()

    // semdedup-build --data <sfdir> --root <dir> [--split N]: build the
    // persisted SEMANTIC dedup index over the head split of embeddings
    // (train-once quantizer + corpus cell assignments, round 15).
    case Some("semdedup-build") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val split = opt(args, "split").getOrElse("8").toInt
      val spark = session()
      val emb = graft.catalog.Catalog.embeddings(spark, data)
        .where(col("vec_id") % 10 < split)
      val t0 = System.nanoTime()
      graft.operators.SemDedupIndex.build(emb, root)
      val dt = (System.nanoTime() - t0) / 1e9
      val n = graft.operators.SemDedupIndex.vectors(spark, root).count()
      val v = graft.operators.SemDedupIndex.version(spark, root)
      println(f"semantic dedup index built in $dt%.1fs: $n vectors at $root (snapshot $v)")
      spark.stop()

    // semdedup-probe --data <sfdir> --root <dir> [--split N]
    // [--threshold X]: near-dup verdicts for the held-out tail against
    // the index — assign-incoming + probe stored cell-mates, NO
    // quantizer retraining (the amortized ingest path).
    case Some("semdedup-probe") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val split = opt(args, "split").getOrElse("8").toInt
      val threshold = opt(args, "threshold").getOrElse("0.35").toDouble
      val spark = session()
      val batch = graft.catalog.Catalog.embeddings(spark, data)
        .where(col("vec_id") % 10 >= split)
      val t0 = System.nanoTime()
      val verdicts = graft.operators.SemDedupIndex
        .probe(spark, root, batch, threshold)
        .localCheckpoint() // histogram + detail rows: one probe, two reads
      val nDup = verdicts.where(col("is_dup") === 1).count()
      val n = verdicts.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"semdedup probe in $dt%.1fs: $n vectors, $nDup near-dups at threshold $threshold%.2f")
      verdicts.where(col("is_dup") === 1)
        .orderBy(col("max_cos").desc, col("vec_id")).limit(10).collect()
        .foreach(r => println(
          f"  vec ${r.getLong(0)}%6d  max_cos=${r.getDouble(2)}%.6f  " +
            f"candidates=${r.getLong(1)}%3d"))
      spark.stop()

    // semdedup-search --root <dir> --query <vec_id> [--data <sfdir>]
    // [--k N] [--at V]: cosine top-k retrieval off the SAME stored
    // training artifact the dedup probe uses (SemDedupIndex.searchTopK
    // — one quantizer, two families; round-16 ask #5 closes the CLI
    // gap for the one gated family that wasn't drivable end-to-end).
    case Some("semdedup-search") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val qid = opt(args, "query").getOrElse("0").toLong
      val k = opt(args, "k").getOrElse("5").toInt
      val spark = session()
      val q = graft.catalog.Catalog.embeddings(spark, data)
        .where(col("vec_id") === qid)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      if (q.isEmpty) { System.err.println(s"error: vec_id $qid not found in $data"); sys.exit(1) }
      val hits = (opt(args, "at") match {
        case Some(v) => graft.operators.SemDedupIndex
          .searchTopKAt(spark, root, q, v.toLong, k)
        case None => graft.operators.SemDedupIndex.searchTopK(spark, root, q, k)
      }).collect()
      println(s"query=$qid k=$k -> ${hits.length} neighbors (stored semdedup quantizer):")
      hits.foreach(r => println(f"  rank ${r.getInt(3)}%2d  vec ${r.getLong(1)}%6d  cos ${r.getDouble(2)}%.6f"))
      spark.stop()

    case Some("lex-build") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val spark = session()
      val v = graft.operators.LexIndex.build(spark,
        graft.catalog.Catalog.documents(spark, data), root)
      println(s"lexical index built at $root (snapshot $v)")
      spark.stop()

    case Some("lex-search") =>
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val terms = opt(args, "terms").getOrElse { System.err.println("error: --terms required (comma-separated)"); sys.exit(2); "" }
        .split(",").toSeq
      val k = opt(args, "k").getOrElse("10").toInt
      val spark = session()
      (opt(args, "data"), opt(args, "ann-root")) match {
        case (Some(data), annRootOpt) if !flag(args, "brute") =>
          // DEFAULT hybrid drive = the production dual-persisted-index
          // stack (round-13 ask #8): the vector pool from the persisted
          // ANN index (cell-pruned), never a brute-force corpus scan.
          // Without --ann-root the index lives beside the lexical root
          // (<root>-ann) and is built on first use, announced. The
          // brute-force leg stays available under --brute as the
          // documented baseline (and remains the lx_hybrid gate).
          val vecId = opt(args, "vec").getOrElse("0").toLong
          val emb = graft.catalog.Catalog.embeddings(spark, data)
          val annRoot = annRootOpt.getOrElse {
            val default = s"$root-ann"
            if (graft.streaming.StateCommit
                .currentVersion(spark, default).isEmpty) {
              println(s"no ANN index at $default — building one " +
                "(pass --ann-root to reuse an existing index, " +
                "--brute for the baseline corpus scan)")
              graft.operators.AnnIndex.build(emb, default)
            }
            default
          }
          println(s"hybrid(ann) top-$k for terms=${terms.mkString(",")} vec=$vecId:")
          graft.operators.LexIndex.hybridAnn(spark, root, terms, annRoot,
            emb.where(col("vec_id") === vecId)
              .select(col("vec_id").as("qid"), col("embedding").as("qe")), k)
            // per-qid output since round 15: (qid, doc_id, rank_lex,
            // rank_vec, rrf_micro) — one qid here, so qid prints once
            .collect().foreach(r => println(
              s"  doc ${r.getLong(1)}  rrf=${r.getLong(4)} " +
                s"(lex=${Option(r.get(2)).getOrElse("-")}, vec=${Option(r.get(3)).getOrElse("-")})"))
        case (Some(data), None) => // --brute: baseline brute-force vector leg
          val vecId = opt(args, "vec").getOrElse("0").toLong
          println(s"hybrid top-$k for terms=${terms.mkString(",")} vec=$vecId (brute baseline):")
          graft.operators.LexIndex.hybrid(spark, root, terms,
            graft.catalog.Catalog.embeddings(spark, data), vecId, k)
            .collect().foreach(r => println(
              s"  doc ${r.getLong(0)}  rrf=${r.getLong(3)} " +
                s"(lex=${Option(r.get(1)).getOrElse("-")}, vec=${Option(r.get(2)).getOrElse("-")})"))
        case (Some(_), Some(_)) => // --brute with --ann-root is contradictory
          System.err.println("error: --brute and --ann-root are mutually exclusive")
          sys.exit(2)
        case (None, Some(_)) =>
          System.err.println("error: --ann-root requires --data (for the query embedding)")
          sys.exit(2)
        case (None, None) =>
          // --at <version>: time-travel the query to a retained snapshot
          val res = opt(args, "at") match {
            case Some(v) =>
              println(s"bm25 top-$k for terms=${terms.mkString(",")} AS OF snapshot $v:")
              graft.operators.LexIndex.searchAt(spark, root, terms, v.toLong, k)
            case None =>
              println(s"bm25 top-$k for terms=${terms.mkString(",")}:")
              graft.operators.LexIndex.search(spark, root, terms, k)
          }
          res.collect().foreach(r => println(
            f"  ${r.getInt(2)}%2d. doc ${r.getLong(0)}%6d  score_micro=${r.getLong(1)}"))
      }
      spark.stop()

    case Some("lex-delete") =>
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val ids = opt(args, "ids").getOrElse { System.err.println("error: --ids required (comma-separated doc ids)"); sys.exit(2); "" }
        .split(",").map(_.trim.toLong).toSeq
      val spark = session()
      val s = spark; import s.implicits._
      val v = graft.operators.LexIndex.delete(spark, root, ids.toDF("doc_id"))
      println(s"deleted ${ids.size} doc id(s) from $root (snapshot $v; " +
        "tombstoned — run lex-compact to fold dead rows away)")
      spark.stop()

    // atomic live-document update: --data supplies the corpus, --ids
    // picks which docs re-index with their current text (the curation
    // "content changed, refresh the index" event — one snapshot, exact
    // delete+ingest algebra, no double-count)
    case Some("lex-upsert") =>
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val data = opt(args, "data").getOrElse { System.err.println("error: --data required"); sys.exit(2); "" }
      val ids = opt(args, "ids").getOrElse { System.err.println("error: --ids required (comma-separated doc ids)"); sys.exit(2); "" }
        .split(",").map(_.trim.toLong).toSeq
      val spark = session()
      val batch = graft.catalog.Catalog.documents(spark, data)
        .where(org.apache.spark.sql.functions.col("doc_id").isin(ids: _*))
        .select("doc_id", "text")
      val v = graft.operators.LexIndex.upsert(spark, batch, root)
      println(s"upserted ${ids.size} doc id(s) into $root (snapshot $v)")
      spark.stop()

    case Some("lex-compact") =>
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val spark = session()
      val v = graft.operators.LexIndex.compactGenerations(spark, root)
      println(s"lexical index compacted to one generation at $root (snapshot $v)")
      spark.stop()

    // table-maintenance drive: recover any crash-stranded partitions,
    // then bin-pack the offenders; prints the per-partition report
    case Some("compact") =>
      val path = opt(args, "path").getOrElse { System.err.println("error: --path required"); sys.exit(2); "" }
      val pcol = opt(args, "pcol").getOrElse { System.err.println("error: --pcol required"); sys.exit(2); "" }
      val maxFiles = opt(args, "max-files").getOrElse("8").toInt
      val target = opt(args, "target-files").getOrElse("1").toInt
      val spark = session()
      val recovered = graft.operators.Compact.recover(spark, path, pcol)
      if (recovered.nonEmpty)
        println(s"recovered ${recovered.size} held partition(s): ${recovered.mkString(", ")}")
      val report = graft.operators.Compact
        .compact(spark, path, pcol, maxFiles, target).collect()
      if (report.isEmpty) println(s"nothing over $maxFiles files — layout already compact")
      else report.foreach(r => println(
        f"  $pcol=${r.getString(0)}%-12s ${r.getInt(1)}%3d -> ${r.getInt(2)}%2d files"))
      spark.stop()

    case Some("diff") =>
      val before = opt(args, "before").getOrElse { System.err.println("error: --before required"); sys.exit(2); "" }
      val after = opt(args, "after").getOrElse { System.err.println("error: --after required"); sys.exit(2); "" }
      val key = opt(args, "key").getOrElse { System.err.println("error: --key required"); sys.exit(2); "" }
      val spark = session()
      val b = spark.read.parquet(before)
      val a = spark.read.parquet(after)
      val cols = opt(args, "cols").map(_.split(",").toSeq)
        .getOrElse(b.columns.toSeq.filterNot(_ == key))
      graft.operators.TableDiff.diffSummary(b, a, key, cols).collect()
        .foreach(r => println(f"  ${r.getString(0)}%-10s ${r.getLong(1)}%8d"))
      val delta = graft.operators.TableDiff.diff(b, a, key, cols)
        .orderBy("status", key).limit(opt(args, "limit").getOrElse("10").toInt)
      delta.collect().foreach(r =>
        println(s"  ${r.get(0)}  ${r.getString(1)}"))
      spark.stop()

    case Some("fuzzy") =>
      val master = opt(args, "master").getOrElse { System.err.println("error: --master required"); sys.exit(2); "" }
      val probe = opt(args, "probe").getOrElse { System.err.println("error: --probe required"); sys.exit(2); "" }
      val key = opt(args, "key").getOrElse { System.err.println("error: --key required"); sys.exit(2); "" }
      val text = opt(args, "text").getOrElse { System.err.println("error: --text required"); sys.exit(2); "" }
      val prefix = opt(args, "prefix").getOrElse("4").toInt
      val maxDist = opt(args, "max-dist").getOrElse("2").toInt
      val spark = session()
      val best = graft.operators.FuzzyJoin.resolveBest(
        spark.read.parquet(master), spark.read.parquet(probe),
        key, text, prefix, maxDist).localCheckpoint()
      println(s"resolved ${best.count()} probe row(s):")
      best.orderBy("probe_key").limit(opt(args, "limit").getOrElse("10").toInt)
        .collect().foreach(r =>
          println(s"  ${r.get(0)} -> ${r.get(1)} (dist ${r.getInt(2)})"))
      spark.stop()

    // dsir-fit --data <sfdir> --root <dir> [--target-source src1]
    // [--buckets N]: fit and commit a DSIR importance model (target =
    // the named source's docs, raw = the rest).
    case Some("dsir-fit") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val tgtSrc = opt(args, "target-source").getOrElse("src1")
      val buckets = opt(args, "buckets").getOrElse("4096").toInt
      val spark = session()
      val docs = spark.read.parquet(s"$data/documents.parquet")
      val t0 = System.nanoTime()
      val v = graft.operators.DsirModel.fit(
        docs.where(col("source") =!= tgtSrc),
        docs.where(col("source") === tgtSrc), root, buckets)
      val dt = (System.nanoTime() - t0) / 1e9
      val nBuckets = graft.operators.DsirModel.model(spark, root).count()
      println(f"DSIR model fit in $dt%.1fs: target-source=$tgtSrc $nBuckets populated buckets of $buckets at $root (version $v)")
      spark.stop()

    // dsir-score --root <dir> --data <sfdir> [--at V] [--k N]: score
    // documents against the committed (or pinned) model; prints the
    // top-k by importance weight.
    case Some("dsir-score") =>
      val data = opt(args, "data").getOrElse("/root/testdata/sf0.001")
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val k = opt(args, "k").getOrElse("10").toInt
      val spark = session()
      val docs = spark.read.parquet(s"$data/documents.parquet")
      val scored = opt(args, "at") match {
        case Some(v) => graft.operators.DsirModel.scoreAt(spark, root, docs, v.toLong)
        case None => graft.operators.DsirModel.score(spark, root, docs)
      }
      val vUsed = opt(args, "at").map(_.toLong)
        .getOrElse(graft.operators.DsirModel.version(spark, root))
      println(s"model version $vUsed, top $k by importance weight (micro-nats):")
      scored.orderBy(col("micro_logw").desc, col("doc_id")).limit(k)
        .collect().foreach(r => println(
          f"  doc ${r.getLong(0)}%6d  grams ${r.getLong(1)}%6d  logw ${r.getLong(2)}%12d"))
      spark.stop()

    // index-status --root <dir>: the operational metadata card for ANY
    // persisted-index root (ANN / IVF-PQ / lexical / dedup / DSIR) —
    // the Iceberg-snapshots-table idiom: committed version, time-travel
    // horizon, generation accounting (on disk vs referenced — the gap
    // is the GC-deferral transient), and a family-specific summary.
    // Family detection reads the folded meta's `t` values, the one
    // layout every family shares. A root the readers refuse (an old
    // layout, an unreadable commit pointer) prints its error and exits 2.
    case Some("index-status") =>
      val root = opt(args, "root").getOrElse { System.err.println("error: --root required"); sys.exit(2); "" }
      val spark = session()
      try indexStatus(spark, root, args)
      catch { case e: IllegalStateException =>
        System.err.println(s"error: ${e.getMessage}"); sys.exit(2)
      }
      spark.stop()

    case other =>
      System.err.println(s"error: unknown command ${other.getOrElse("<none>")}; expected chunk|embed|preview|sync|sample|scan|loop|status|purge|pipeline|delete|validate|uninstall|analyze|export|index-build|index-search|index-status|pq-build|pq-search|dedup-build|dedup-classify|semdedup-build|semdedup-probe|semdedup-search|compact|diff|fuzzy|lex-build|lex-search|lex-delete|lex-upsert|lex-compact|dsir-fit|dsir-score")
      sys.exit(2)
  }
}
