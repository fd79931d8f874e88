package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.chunker.Chunker
import graft.embed.LocalHashEmbedder
import graft.events.EventLog
import graft.fingerprint.Fingerprint
import graft.model.{Selection, Tuning}
import graft.normalize.Normalizer
import graft.scan.{Scheduler, Watermark}
import graft.operators.{AnnIndex, AnnIndexPq, Bpe, Compact, Dedup, DedupIndex,
  DsirModel, FuzzyJoin, LexIndex, SemDedupIndex, Similarity, TableDiff, TextAnalysis}
import graft.store.{EnsureStoreVectorStore, ParquetVectorStore, VectorStoreWriter}
import graft.streaming.{CellTable, MetaSchema, StateCommit}
import graft.streaming.StateCommit.exists
import graft.sync.SyncEngine

/** CLI surface mirroring the reference's `wp wcvec` commands + planned set
  * (reference `includes/cli/class-cli.php:43-166`, `README.md:160-175`,
  * SURVEY §2.13). [[verbs]] is the command list: each verb's flags and
  * body, declared once; [[Cli.parse]] reads argv against it. */
object Main {

  /** The embedding near-dup threshold the GATED catalog ships (retuned
    * in round 11); every CLI report quotes the same posture so the data
    * card can't disagree with the pipeline (round-12 review). */
  private val GatedCosThreshold = 0.35

  // the flags several verbs share
  private val dataDir = Flag.str("data", "/root/testdata/sf0.001")
  private val rootDir = Flag.required("root")
  private val workDir = Flag.required("work")

  private def notFound(message: String): Nothing = throw new Refusal(message, 1)
  private def badInput(message: String): Nothing = throw new Refusal(message, 2)

  /** The `clock` of a CLI-built engine: the UTC time it is built at, to
    * the millisecond (`2026-01-31T12:00:00.123+00:00`). Its events and
    * sync_state rows carry it, so `status` orders real passes and each
    * event lands in its real day partition. */
  private val ClockFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxxx").withZone(java.time.ZoneOffset.UTC)

  /** A sync engine over `store` for the work dir `work`: its sync_state
    * rows under `target`, logging to the shared event log (every adapter
    * logs its actions, as the reference's jobs do). */
  private def engineOver(spark: SparkSession, work: String,
      store: VectorStoreWriter, target: String): SyncEngine =
    new SyncEngine(spark, new LocalHashEmbedder(), store, s"$work/sync_state",
      Selection(chunkSize = 100, chunkOverlap = 20).sanitized,
      clock = ClockFmt.format(java.time.Instant.now()),
      events = Some(new EventLog(spark, s"$work/events")), target = target)

  /** The local store under `$work/store` and its target="local" engine. */
  private def localEngine(spark: SparkSession, work: String)
      : (ParquetVectorStore, SyncEngine) = {
    val store = new ParquetVectorStore(spark, s"$work/store")
    (store, engineOver(spark, work, store, "local"))
  }

  /** The second adapter, shared by sync/delete/purge: the vs store under
    * `$work/store_vs` and its target="vs" engine. */
  private def vsAdapter(spark: SparkSession, work: String)
      : (EnsureStoreVectorStore, SyncEngine) = {
    val vs = new EnsureStoreVectorStore(spark, s"$work/store_vs")
    (vs, engineOver(spark, work, vs, "vs"))
  }

  /** Documents as sync candidates: (product_id, site_id, sku, text). */
  private def asProducts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("product_id"),
      lit(1).as("site_id"),
      concat(lit("DOC-"), col("doc_id")).as("sku"),
      col("text"))

  /** `f`'s result and its wall time in seconds. */
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val result = f
    (result, (System.nanoTime() - t0) / 1e9)
  }

  /** Print each (name, count) row of `counts` as `  name: count`. */
  private def printCounts(counts: DataFrame): Unit =
    counts.collect().foreach(r => println(s"  ${r.getString(0)}: ${r.getLong(1)}"))

  /** `--limit` and `--quota` under the reference's scan clamps, batch
    * 20–2000 and concurrent jobs 1–10 (class-options.php:486-493,
    * 477-484): out-of-range values are corrected with a `note:`, not
    * rejected. */
  private def scanClamps(a: Args): (Int, Int) = {
    val (rawLimit, rawQuota) = (a[Int]("limit"), a[Int]("quota"))
    val tun = Tuning(scanBatchLimit = rawLimit, maxConcurrentJobs = rawQuota).sanitized
    val (limit, quota) = (tun.scanBatchLimit, tun.maxConcurrentJobs)
    if (limit != rawLimit || quota != rawQuota)
      System.err.println(
        s"note: clamped limit=$rawLimit quota=$rawQuota -> limit=$limit quota=$quota")
    (limit, quota)
  }

  /** The scan watermark of the work dir `work`. */
  private def watermark(spark: SparkSession, work: String): Watermark =
    new Watermark(s"$work/last_scan_gmt", spark.sparkContext.hadoopConfiguration)

  /** Corpus vector `qid` of `data`'s embeddings as a one-row (qid, qe)
    * query; refuses an id that is not there. */
  private def queryVector(spark: SparkSession, data: String, qid: Long): DataFrame = {
    val q = Catalog.embeddings(spark, data)
      .where(col("vec_id") === qid)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    if (q.isEmpty) notFound(s"vec_id $qid not found in $data")
    q
  }

  /** The persisted-index families `index-status` recognises, each by its
    * declared folded meta. `fold` writes every declared column even for
    * an empty table, and the six column sets are pairwise distinct, so a
    * snapshot's meta columns name its family. */
  private[graft] val families: Seq[(String, MetaSchema)] = Seq(
    "lexical" -> LexIndex.metaSchema,
    "ann" -> AnnIndex.metaSchema,
    "ivf-pq" -> AnnIndexPq.metaSchema,
    "semdedup" -> SemDedupIndex.metaSchema,
    "dedup" -> DedupIndex.metaSchema,
    "dsir" -> DsirModel.metaSchema)

  /** The family of snapshot `v` of `root`: the one whose declared
    * columns are exactly its folded meta's. */
  private[graft] def familyOf(spark: SparkSession, root: String,
      v: Long): Option[(String, MetaSchema)] = {
    val cols = StateCommit.metaColumns(spark, root, v)
    families.find(_._2.columns.map(_._1).toSet == cols)
  }

  /** The `index-status` card of the persisted-index root `root`; throws
    * `IllegalStateException` for a root with no commit or one the
    * readers refuse. */
  private[graft] def indexStatus(spark: SparkSession, root: String,
      drift: Boolean): Unit = {
    val cur = StateCommit.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed index at $root"))
    val retained = StateCommit.versions(spark, root)
    val family = familyOf(spark, root, cur)
    val gensOnDisk = StateCommit.generationsOnDisk(spark, root)
    println(s"family: ${family.fold("unknown")(_._1)}")
    println(s"committed version: $cur")
    println(s"retained versions (time-travel horizon): ${retained.mkString(", ")}")
    def gensCard(referenced: Seq[Long]): Unit =
      println(s"generations: ${gensOnDisk.size} on disk " +
        s"(${gensOnDisk.mkString(", ")}), ${referenced.length} referenced " +
        s"by v$cur (${referenced.mkString(", ")})")
    family match {
      case None =>
        println(s"snapshot tables: " +
          StateCommit.metaTableNames(spark, root, cur).toSeq.sorted.mkString(", "))
      case Some((name, schema)) =>
        def meta(table: String) =
          StateCommit.metaTable(spark, root, cur, schema, table)
        name match {
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
            val cells = CellTable.entries(meta("manifest").collect().toSeq)
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
            if (drift) {
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
        }
    }
  }

  /** Every verb, in the order the unknown-command line lists them. */
  val verbs: Seq[Verb] = Seq(

    // normalize+chunk+fingerprint report for one document
    Verb("chunk", dataDir, Flag.long("doc", 0), Flag.int("size", 800),
        Flag.int("overlap", 100)) { (a, session) =>
      val (data, id) = (a[String]("data"), a[Long]("doc"))
      val (rawSize, rawOverlap) = (a[Int]("size"), a[Int]("overlap"))
      // the reference's input contract CORRECTS out-of-range config
      // rather than rejecting it (class-options.php:414-417)
      val clamped = Selection(chunkSize = rawSize, chunkOverlap = rawOverlap).sanitized
      val (size, overlap) = (clamped.chunkSize, clamped.chunkOverlap)
      if (size != rawSize || overlap != rawOverlap)
        System.err.println(
          s"note: clamped size=$rawSize overlap=$rawOverlap -> size=$size overlap=$overlap")
      val row = Catalog.documents(session(), data)
        .where(col("doc_id") === id).select("text").collect()
      if (row.isEmpty) notFound(s"doc $id not found in $data")
      val text = row.head.getString(0)
      val psha = Fingerprint.shaProduct(text,
        Selection(chunkSize = size, chunkOverlap = overlap), 3072)
      val chunks = Chunker.chunkText(text, size, overlap)
      println(s"doc=$id bytes=${text.getBytes("UTF-8").length} product_sha=$psha chunks=${chunks.size}")
      chunks.foreach { c =>
        val csha = Fingerprint.shaChunk(psha, c.index, c.text)
        println(f"  [${c.index}%3d] chars=${c.chars}%5d tokens~${c.approxTokens}%4d sha=${csha.take(12)} | ${c.text.take(60).replace("\n", "\\n")}...")
      }
    },

    // one-off embedding sanity (prints dim + first coords); no session
    Verb("embed", Flag.required("text"),
        Flag.str("model", "text-embedding-3-small")) { (a, _) =>
      val model = a[String]("model")
      val v = new LocalHashEmbedder(model).embedOne(a[String]("text"))
      println(s"model=$model dim=${v.length} first8=${v.take(8).map(x => f"$x%.5f").mkString(",")}")
    },

    // The read-only preview sub-pipeline (SURVEY §3.3; reference AJAX
    // fields_preview `admin/pages/class-admin-page-fields.php:227-258`):
    // same normalizer IR as sync but stops before fingerprint/chunk/embed.
    // --fields title,sku,… : the P1 selection drives the preview text
    // exactly as it drives sync (same normalizer projection)
    Verb("preview", dataDir, Flag.long("product", 2),
        Flag("fields", Kind.ListOf(Kind.Str), Some(Normalizer.DefaultCore))) { (a, session) =>
      val (data, id) = (a[String]("data"), a[Long]("product"))
      val fields = a[Seq[String]]("fields")
      if (!fields.exists(Normalizer.DefaultCore.contains))
        badInput(s"--fields has no known core fields " +
          s"(got ${fields.mkString(",")}; known ${Normalizer.DefaultCore.mkString(",")})")
      val spark = session()
      val row = Normalizer.normalize(Catalog.products(spark, data), fields)
        .where(col("product_id") === id).collect()
      if (row.isEmpty) notFound(s"product $id not found")
      println(s"product $id normalized text:")
      row.head.getString(1).split("\n").foreach(l => println(s"  $l"))
      val meta = Normalizer.metaSections(Catalog.productMeta(spark, data))
        .where(col("product_id") === id).collect()
      meta.headOption.foreach(m => println(s"  Meta: ${m.getString(1)}"))
    },

    // full pipeline over the documents table into the local store.
    // --target local (default) | both: `both` also syncs into the
    // ensure-store adapter under its own `target` rows (reference: one
    // sync_state table, one row-set per enabled adapter).
    Verb("sync", dataDir, workDir, Flag.int("limit", 50),
        Flag("target", Kind.OneOf("local", "both"), Some("local")),
        Flag.switch("force")) { (a, session) =>
      val (spark, work, force) = (session(), a[String]("work"), a[Boolean]("force"))
      val (store, engine) = localEngine(spark, work)
      val candidates = asProducts(
        Catalog.documents(spark, a[String]("data")).limit(a[Int]("limit")))
      val (summary, dt) = timed(engine.sync(candidates, force = force))
      println(f"sync completed in $dt%.1fs:")
      printCounts(summary)
      println(s"  store rows: ${store.count()} (v${store.currentVersion})")
      if (a[String]("target") == "both") {
        val (store2, engine2) = vsAdapter(spark, work)
        val summary2 = engine2.sync(candidates, force = force)
        println(s"target vs (store ${store2.ensureStore()}):")
        printCounts(summary2)
        println(s"  vs store rows: ${store2.count()} (v${store2.currentVersion})")
      }
      println(s"  sync_state rows: ${engine.readSyncState().count()} (v${engine.syncVersion})")
    },

    // End-to-end ONE-product dry run (reference admin sample_upsert/
    // sample_delete, `admin/pages/class-admin-page-connections.php:
    // 188-304`): the full chunk→embed→payload→delta path with every
    // write stubbed — prints the would-be upsert/delete sets and proves
    // the store and sync-state versions did not move.
    Verb("sample", dataDir, workDir, Flag.optional("product"),
        Flag.switch("force")) { (a, session) =>
      val (spark, data, force) = (session(), a[String]("data"), a[Boolean]("force"))
      val docs = Catalog.documents(spark, data)
      // reference fallback: no/INVALID product id → first published product
      // (sample_upsert coerces with (int) and falls back on <= 0)
      val pid = a.get[String]("product")
        .flatMap(_.toLongOption).filter(_ > 0)
        .getOrElse {
          val row = docs.agg(min(col("doc_id"))).head
          if (row.isNullAt(0)) notFound(s"no documents in $data")
          row.getLong(0)
        }
      val candidate = asProducts(docs.where(col("doc_id") === pid))
      if (candidate.isEmpty) notFound(s"doc $pid not found in $data")
      val (store, engine) = localEngine(spark, a[String]("work"))
      val (storeV0, syncV0) = (store.currentVersion, engine.syncVersion)
      val plan = engine.sampleDryRun(candidate, force = force).collect()
      val byAction = plan.groupBy(_.getString(3)).view.mapValues(_.length).toMap
      println(s"sample dry run: product $pid (target local, force=$force)")
      byAction.toSeq.sortBy(_._1).foreach { case (action, n) => println(s"  $action: $n") }
      val upsertIds = plan.filter(_.getString(3) == "upsert").map(_.getString(2))
      if (upsertIds.nonEmpty) // the reference's details preview: first & last ids
        println(s"  first_id=${upsertIds.head} last_id=${upsertIds.last}")
      plan.filter(_.getString(3) == "delete")
        .foreach(r => println(s"  would delete ${r.getString(2)}"))
      println(s"  store untouched: v${store.currentVersion} (was v$storeV0); " +
        s"sync_state untouched: v${engine.syncVersion} (was v$syncV0)")
      assert(store.currentVersion == storeV0 && engine.syncVersion == syncV0)
    },

    // T3/T4: one scheduler tick — plan candidates via the priority union
    // against the persisted watermark, then advance the watermark.
    Verb("scan", dataDir, workDir, Flag.int("limit", 200),
        Flag.int("quota", 3)) { (a, session) =>
      val (limit, quota) = scanClamps(a)
      val (spark, data) = (session(), a[String]("data"))
      val wm = watermark(spark, a[String]("work"))
      val now = java.time.Instant.now()
      val planned = Scheduler.planScan(
        Catalog.products(spark, data), Catalog.syncState(spark, data),
        wm.get, now, limit, quota).collect()
      println(s"scan planned ${planned.length} candidates (watermark=${wm.get.getOrElse("<none>")})")
      planned.take(10).foreach(r => println(s"  product ${r.getLong(0)} prio ${r.getInt(1)}"))
      wm.set(Scheduler.Fmt.format(now))
    },

    // The full reference architecture composed (SURVEY §3.1 + §3.2):
    // each tick plans candidates from the engine's OWN sync-state
    // (errors ∪ modified ∪ initial, quota-capped), syncs exactly those
    // through the delta engine, and advances the watermark.
    // NOTE --quota is the reference's max-concurrent-jobs admission
    // knob and clamps to 1–10 (class-options.php:477-484): a tick
    // admits at most 10 products — raise --ticks, not --quota, to
    // drain a large backlog.
    Verb("loop", dataDir, workDir, Flag.int("ticks", 3), Flag.int("limit", 100),
        Flag.int("quota", 10)) { (a, session) =>
      val (limit, quota) = scanClamps(a)
      val (spark, data, work) = (session(), a[String]("data"), a[String]("work"))
      val products = Catalog.products(spark, data)
      val (store, engine) = localEngine(spark, work)
      val wm = watermark(spark, work)
      for (t <- 1 to a[Int]("ticks")) {
        val now = java.time.Instant.now()
        val state = engine.readSyncState()
          .select(col("product_id"), col("status"),
            col("last_synced_at").cast("timestamp").as("last_synced_at"))
          .withColumn("updated_at", col("last_synced_at"))
        val planned = Scheduler
          .planScan(products, state, wm.get, now, limit, quota)
          .select("product_id")
        val n = planned.count()
        println(s"tick $t: planned $n candidates (watermark=${wm.get.getOrElse("<none>")})")
        if (n > 0) {
          // full reference document: core + meta + terms + all ACF types
          val acfAll = Normalizer.acfRender(Catalog.acfValues(spark, data))
            .unionByName(Normalizer.acfRenderLookup(
              Catalog.acfLookupValues(spark, data), Catalog.postTitles(spark, data),
              Catalog.termDim(spark, data), Catalog.attachments(spark, data)))
          val cand = Normalizer.composeFull(products,
              Catalog.productMeta(spark, data), Catalog.productTerms(spark, data), acfAll)
            .join(planned, Seq("product_id"), "left_semi")
            .join(products.select("product_id", "site_id", "sku"), Seq("product_id"))
            .select("product_id", "site_id", "sku", "text")
          printCounts(engine.sync(cand))
        }
        wm.set(Scheduler.Fmt.format(now))
      }
      println(s"loop done: store ${store.count()} vectors (v${store.currentVersion}), " +
        s"sync_state ${engine.readSyncState().count()} rows")
    },

    // store/sync-state versions + row counts, and the last three events
    // (newest first; events of one engine share its clock, so the
    // printed fields break ties)
    Verb("status", workDir) { (a, session) =>
      val (spark, work) = (session(), a[String]("work"))
      val (store, engine) = localEngine(spark, work)
      println(s"store: v${store.currentVersion}, ${store.count()} vectors")
      if (exists(spark, s"$work/store_vs")) {
        val vs = new EnsureStoreVectorStore(spark, s"$work/store_vs")
        println(s"vs store ${vs.ensureStore()}: v${vs.currentVersion}, ${vs.count()} vectors")
      }
      val st = engine.readSyncState()
      println(s"sync_state: v${engine.syncVersion}, ${st.count()} rows")
      printCounts(st.groupBy("status").count())
      if (exists(spark, s"$work/events")) {
        val ev = new EventLog(spark, s"$work/events").read()
        println(s"events: ${ev.count()} rows")
        ev.orderBy(col("ts").desc +: Seq("action", "outcome", "upserted",
            "deleted", "skipped").map(col): _*)
          .limit(3).collect().foreach(r =>
          println(s"  ${r.getAs[Any]("action")} ${r.getAs[Any]("outcome")} " +
            s"upserted=${r.getAs[Any]("upserted")} deleted=${r.getAs[Any]("deleted")} skipped=${r.getAs[Any]("skipped")}"))
      }
    },

    // delete a site's vectors
    Verb("purge", workDir, Flag.int("site", 1)) { (a, session) =>
      val (spark, work, site) = (session(), a[String]("work"), a[Int]("site"))
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
    },

    // Training-data pipeline report over the documents table: corpus
    // stats, dedup posture, eval contamination, split sizes — the
    // dataset-card numbers a corpus release pipeline produces.
    Verb("pipeline", dataDir) { (a, session) =>
      val (spark, data) = (session(), a[String]("data"))
      val docs = Catalog.documents(spark, data)
      val total = docs.count()
      println(s"documents: $total")
      TextAnalysis.corpusStats(docs).collect().foreach { r =>
        println(f"  lang ${r.getString(0)}%-3s docs=${r.getLong(1)}%5d " +
          f"tokens=${r.getLong(2)}%8d meanTok=${r.getDouble(3)}%8.1f " +
          f"quality=${r.getDouble(4)}%6.3f")
      }
      val exactKeep = Dedup.dropExactDuplicates(docs).count()
      val clusters = Dedup.lshComponents(docs).select("cluster").distinct().count()
      println(s"dedup: exact keep $exactKeep/$total; near-dup clusters $clusters")
      val contaminated = Dedup.decontaminate(docs, docs.where(col("doc_id") < 5))
        .where(col("contaminated") === 1).count()
      println(s"decontamination vs docs 0-4: $contaminated flagged")
      val splits = TextAnalysis.split(docs)
        .groupBy("split").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"split: $splits")
      // semantic posture (embeddings table): cluster survivors, semantic
      // eval-leakage (banded), and DSIR target-likeness vs src1
      if (exists(spark, s"$data/embeddings.parquet")) {
        val emb = Catalog.embeddings(spark, data)
        val semSurv = Similarity.semanticDedupCells(emb, threshold = GatedCosThreshold)
          .where(col("survivor") === 1).count()
        val semFlag = Similarity.semanticDecontaminateBanded(
          emb.where(col("vec_id") % 20 =!= 0),
          emb.where(col("vec_id") % 20 === 0),
          threshold = GatedCosThreshold).count()
        println(s"semantic: semdedup survivors $semSurv/${emb.count()}; " +
          s"banded eval-leakage flags $semFlag")
      }
      val dsirTop = TextAnalysis.dsirSelect(
        docs.where(col("source") =!= "src1"),
        docs.where(col("source") === "src1"), k = 5)
        .collect().map(_.getLong(1)).mkString(",")
      println(s"dsir top-5 vs src1 target: docs $dsirTop")
    },

    // the lifecycle delete path (reference trash/delete hook -> delete
    // job): clear one product's vectors + bookkeeping rows
    Verb("delete", workDir, Flag.required("product", Kind.Long),
        Flag.int("site", 1)) { (a, session) =>
      val (spark, work) = (session(), a[String]("work"))
      val (pid, site) = (a[Long]("product"), a[Int]("site"))
      val (store, engine) = localEngine(spark, work)
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
    },

    // The reference's "Validate connection" buttons (SURVEY §2.13;
    // class-validators.php:20-139): one ping embed + a dimension check,
    // then store reachability + stored-vector dimension per adapter.
    Verb("validate", workDir, Flag.str("model", Selection.DefaultModel),
        Flag.optional("dimension", Kind.Int)) { (a, session) =>
      val work = a[String]("work")
      val results = scala.collection.mutable.ListBuffer[(String, graft.validate.ValidationResult)]()
      val embedder =
        try Some(new LocalHashEmbedder(a[String]("model")))
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
      val expectedDim = a.get[Int]("dimension").orElse(embedder.map(_.dimension))
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
      val failed = results.collect { case (name, r) if !r.ok => name }
      if (failed.nonEmpty) throw new Refusal(s"validation failed: ${failed.mkString(", ")}", 1)
    },

    // full teardown (reference uninstall.php:28-71): watermark +
    // sync_state + stores + events removed; --purge-remote first purges
    // the site through every enabled adapter
    Verb("uninstall", workDir, Flag.int("site", 1),
        Flag.switch("purge-remote")) { (a, session) =>
      val work = a[String]("work")
      val removed = graft.lifecycle.Uninstall.uninstall(session(), work,
        purgeRemote = a[Boolean]("purge-remote"), siteId = a[Int]("site"))
      if (removed.isEmpty) println(s"nothing to uninstall at $work")
      else println(s"uninstalled $work: removed ${removed.mkString(", ")}")
    },

    // Corpus data-card over the documents table: per-language counts /
    // token totals / quality, token-length quantiles, frequent tokens;
    // --spans: exact duplicated-span extents on the worst offenders
    // (suffix-array pass); --release: the release-pipeline survivor
    // counts; --embeddings: centroid-outlier and semantic-dedup survivor
    // counts; --shards: shard balance and per-source caps; --diversity:
    // token entropy, cluster sizes, compression ratio; --leakage: the
    // cross-split near-dup leak list + per-language tokenizer fertility.
    Verb("analyze", dataDir, Flag.switch("release"), Flag.switch("spans"),
        Flag.switch("embeddings"), Flag.switch("shards"), Flag.switch("diversity"),
        Flag.switch("leakage")) { (a, session) =>
      val (spark, dir) = (session(), a[String]("data"))
      val docs = Catalog.documents(spark, dir)
      println(s"corpus: ${docs.count()} documents")
      println("per-language stats (docs, tokens, mean tokens, mean quality):")
      TextAnalysis.corpusStats(docs).collect().foreach { r =>
        println(f"  ${r.getString(0)}%-4s ${r.getLong(1)}%6d ${r.getLong(2)}%9d " +
          f"${r.getDouble(3)}%10.2f ${r.getDouble(4)}%8.4f")
      }
      println("token-count quantiles (p50 / p90 / p99 / max):")
      TextAnalysis.tokenQuantiles(docs).collect().foreach { r =>
        println(f"  ${r.getString(0)}%-4s ${r.getDouble(2)}%8.1f ${r.getDouble(3)}%8.1f " +
          f"${r.getDouble(4)}%8.1f ${r.getLong(5)}%6d")
      }
      println("frequent tokens (count >= 1% of stream):")
      val total = TextAnalysis.heavyHitters(docs, minCount = 1)
        .agg(sum("n")).collect().head.getLong(0)
      TextAnalysis.heavyHitters(docs, math.max(1L, total / 100))
        .limit(10).collect().foreach { r =>
          println(f"  ${r.getString(0)}%-12s ${r.getLong(1)}%6d")
        }
      if (a[Boolean]("spans")) {
        println("exact duplicated spans on the worst offenders (suffix-array pass):")
        Dedup.suffixArraySpans(docs, topK = 5)
          .limit(10).collect().foreach { r =>
            println(s"  doc ${r.getLong(0)}: tokens ${r.getInt(1)}-${r.getInt(2)} " +
              s"(${r.getInt(3)} duplicated)")
          }
      }
      if (a[Boolean]("release")) {
        println("release pipeline (quality filter -> exact dedup -> near dedup -> split):")
        TextAnalysis.releasePipeline(docs).collect().foreach { r =>
          println(s"  ${r.getString(0)}/${r.getString(1)}: ${r.getLong(2)}")
        }
      }
      if (a[Boolean]("embeddings")) {
        val emb = Catalog.embeddings(spark, dir)
        println("embedding-space curation:")
        val o = Similarity.centroidOutliers(emb)
          .agg(sum("is_outlier").cast("long"), count(lit(1))).collect().head
        println(s"  label outliers (anti-correlated with class centroid): " +
          s"${o.getLong(0)} / ${o.getLong(1)} vectors")
        val sdd = Similarity.semanticDedupCells(emb, threshold = GatedCosThreshold)
          .agg(sum("survivor").cast("long"), count(lit(1))).collect().head
        println(s"  semantic dedup: ${sdd.getLong(0)} survivors / " +
          s"${sdd.getLong(1)} vectors (cos >= $GatedCosThreshold near-dup graph)")
      }
      if (a[Boolean]("shards")) {
        println("shard balance (8 sha-keyed shards: docs, chars, langs):")
        TextAnalysis.shardBalance(docs).collect().foreach { r =>
          println(f"  shard ${r.getInt(0)}: ${r.getLong(1)}%5d docs " +
            f"${r.getLong(2)}%9d chars ${r.getLong(3)}%2d langs")
        }
        println("per-source caps (quota 20, hash lottery): kept docs per source:")
        Dedup.capPerSource(docs)
          .groupBy("source").count().orderBy("source")
          .collect().foreach { r =>
            println(f"  ${r.getString(0)}%-8s ${r.getLong(1)}%4d kept")
          }
      }
      if (a[Boolean]("leakage")) {
        println("cross-split near-dup leakage (val/test docs with a train near-dup):")
        val leaks = Dedup.splitLeakage(docs, TextAnalysis.split(docs)).collect()
        if (leaks.isEmpty) println("  none — splits are leak-free")
        else leaks.take(10).foreach { r =>
          println(s"  doc ${r.getLong(0)} (${r.getString(1)}): " +
            s"${r.getLong(2)} train near-dup(s)")
        }
        println("tokenizer fertility per language (subwords/word, bps):")
        Bpe.tokenizerFertility(docs).collect().foreach { r =>
          println(f"  ${r.getString(0)}%-4s ${r.getLong(3)}%6d bps " +
            f"(${r.getLong(2)}%8d subwords / ${r.getLong(1)}%8d words)")
        }
      }
      if (a[Boolean]("diversity")) {
        println("vocabulary diversity (token entropy, micro-nats):")
        val e = TextAnalysis.tokenEntropy(docs)
          .agg(avg(col("entropy_micro")).cast("long"),
            min("entropy_micro"), max("entropy_micro"),
            avg(col("ttr_bps")).cast("long")).collect().head
        println(s"  entropy mean ${e.getLong(0)} min ${e.getLong(1)} " +
          s"max ${e.getLong(2)}; mean TTR ${e.getLong(3)} bps")
        println("near-dup cluster-size histogram (size: clusters / docs):")
        Dedup.clusterSizeHistogram(docs).collect().foreach { r =>
          println(f"  ${r.getLong(0)}%3d: ${r.getLong(1)}%5d clusters " +
            f"${r.getLong(2)}%6d docs")
        }
        println("compression ratio (Deflate bps; low = repetitive):")
        val cr = TextAnalysis.compressionRatio(docs)
          .where(col("n_bytes") > 0)
          .agg(avg(col("ratio_bps")).cast("long"),
            min("ratio_bps"), max("ratio_bps")).collect().head
        println(s"  mean ${cr.getLong(0)} min ${cr.getLong(1)} max ${cr.getLong(2)} bps")
      }
    },

    // write the corpus as a sha-sharded partitioned dataset
    // (partitionBy(shard)): the "ship the training corpus as N
    // reproducible shards" sink — a re-run writes the identical layout,
    // and a failed shard can be rewritten alone; with --features, write
    // the per-doc quality feature matrix instead (the classifier-training
    // table)
    Verb("export", dataDir, Flag.required("out"), Flag.int("n-shards", 8),
        Flag.str("seed", "v1"), Flag.switch("features"),
        Flag("format", Kind.OneOf("parquet", "jsonl"), Some("parquet"))) { (a, session) =>
      val (out, nShards, seed) = (a[String]("out"), a[Int]("n-shards"), a[String]("seed"))
      if (nShards <= 0) badInput("--n-shards must be positive")
      val spark = session()
      val docs = Catalog.documents(spark, a[String]("data"))
      if (a[Boolean]("features")) {
        TextAnalysis.featureMatrix(docs).write.mode("overwrite").parquet(out)
        val back = spark.read.parquet(out)
        println(s"exported feature matrix: ${back.count()} rows x " +
          s"${back.columns.length} columns to $out")
      } else {
        // deterministic layout: the shard key is content-independent sha
        // math over doc_id, so a re-export writes the identical assignment
        val writer = docs.join(
          TextAnalysis.shardAssign(docs, nShards, seed).select("doc_id", "shard"),
          Seq("doc_id")).write.mode("overwrite").partitionBy("shard")
        val fmt = a[String]("format")
        val back =
          if (fmt == "parquet") {
            writer.parquet(out)
            spark.read.parquet(out)
          } else {
            // the common corpus interchange format: gzipped JSON lines,
            // one doc per line, still partitioned by shard
            writer.option("compression", "gzip").json(out)
            spark.read.json(out)
          }
        println(s"exported ${back.count()} docs to $out in $nShards shards " +
          s"(seed $seed, format $fmt):")
        back.groupBy("shard").count().orderBy("shard").collect().foreach { r =>
          println(f"  shard ${r.get(0)}: ${r.getLong(1)}%6d docs")
        }
      }
    },

    // train the coarse quantizer over the embeddings table and persist
    // the cell-partitioned vector index (AnnIndex.build)
    Verb("index-build", dataDir, rootDir, Flag.int("cells", 8)) { (a, session) =>
      val (spark, root) = (session(), a[String]("root"))
      val emb = Catalog.embeddings(spark, a[String]("data"))
      val (_, dt) = timed(AnnIndex.build(emb, root, a[Int]("cells")))
      val live = AnnIndex.vectors(spark, root)
      val n = live.count()
      val nc = live.select("cell").distinct().count()
      val v = AnnIndex.version(spark, root)
      println(f"index built in $dt%.1fs: $n vectors across $nc cells at $root (snapshot $v)")
    },

    // probe the persisted index with one corpus vector and print its
    // neighbors; --at <version> time-travels to a retained snapshot
    Verb("index-search", dataDir, rootDir, Flag.long("query", 0),
        Flag.int("probes", 1), Flag.int("k", 5),
        Flag.optional("at", Kind.Long)) { (a, session) =>
      val (spark, root) = (session(), a[String]("root"))
      val (qid, probes, k) = (a[Long]("query"), a[Int]("probes"), a[Int]("k"))
      val q = queryVector(spark, a[String]("data"), qid)
      val hits = (a.get[Long]("at") match {
        case Some(v) => AnnIndex.searchAt(spark, root, q, v, probes, k)
        case None => AnnIndex.search(spark, root, q, probes, k)
      }).collect()
      println(s"query=$qid probes=$probes k=$k -> ${hits.length} neighbors:")
      hits.foreach(r => println(f"  rank ${r.getInt(3)}%2d  vec ${r.getLong(1)}%6d  cos ${r.getDouble(2)}%.6f"))
    },

    // the operational metadata card for ANY persisted-index root (ANN /
    // IVF-PQ / lexical / semdedup / dedup / DSIR) — the
    // Iceberg-snapshots-table idiom: committed version, time-travel
    // horizon, generation accounting (on disk vs referenced — the gap
    // is the GC-deferral transient), and a family-specific summary.
    // A root the readers refuse (an old layout, an unreadable commit
    // pointer) prints its error and exits 2.
    Verb("index-status", rootDir, Flag.switch("drift")) { (a, session) =>
      try indexStatus(session(), a[String]("root"), a[Boolean]("drift"))
      catch { case e: IllegalStateException => badInput(e.getMessage) }
    },

    // train and persist the IVF-PQ index (codes-not-vectors cells)
    Verb("pq-build", dataDir, rootDir, Flag.int("coarse", 8),
        Flag.int("m", 8)) { (a, session) =>
      val (spark, root) = (session(), a[String]("root"))
      val (nCoarse, m) = (a[Int]("coarse"), a[Int]("m"))
      val emb = Catalog.embeddings(spark, a[String]("data"))
      val (_, dt) = timed(AnnIndexPq.build(emb, root, nCoarse, m))
      val v = AnnIndexPq.version(spark, root)
      println(f"IVF-PQ index built in $dt%.1fs: $nCoarse cells x m=$m codes at $root (snapshot $v)")
    },

    // ADC search over the persisted codes
    Verb("pq-search", dataDir, rootDir, Flag.long("query", 0),
        Flag.int("probes", 2), Flag.int("k", 5)) { (a, session) =>
      val spark = session()
      val (qid, probes, k) = (a[Long]("query"), a[Int]("probes"), a[Int]("k"))
      val q = queryVector(spark, a[String]("data"), qid)
      val hits = AnnIndexPq.search(spark, a[String]("root"), q, probes, k).collect()
      println(s"query=$qid probes=$probes k=$k -> ${hits.length} ADC neighbors:")
      hits.foreach(r => println(f"  rank ${r.getInt(3)}%2d  vec ${r.getLong(1)}%6d  adist ${r.getLong(2)}%12d"))
    },

    // persist the LSH band-signature index over the documents table
    // (doc_id % 10 < split; split=10 indexes everything)
    Verb("dedup-build", dataDir, rootDir, Flag.int("split", 8), Flag.int("k", 16),
        Flag.int("r", 4)) { (a, session) =>
      val (spark, root) = (session(), a[String]("root"))
      val (k, r) = (a[Int]("k"), a[Int]("r"))
      val docs = Catalog.documents(spark, a[String]("data"))
        .where(col("doc_id") % 10 < a[Int]("split"))
      val (_, dt) = timed(DedupIndex.build(docs, root, k, r))
      val n = DedupIndex.sigs(spark, root).count()
      val v = DedupIndex.version(spark, root)
      println(f"dedup index built in $dt%.1fs: $n docs, scheme k=$k r=$r at $root (snapshot $v)")
    },

    // classify the held-out tail (doc_id % 10 >= split) against the
    // index and print the verdict histogram + the flagged docs
    Verb("dedup-classify", dataDir, rootDir, Flag.int("split", 8)) { (a, session) =>
      val (spark, root) = (session(), a[String]("root"))
      val batch = Catalog.documents(spark, a[String]("data"))
        .where(col("doc_id") % 10 >= a[Int]("split"))
      val (schemeK, _) = DedupIndex.scheme(spark, root)
      val verdicts = DedupIndex.classifyBatch(spark, root, batch)
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
    },

    // build the persisted SEMANTIC dedup index over the head split of
    // embeddings (train-once quantizer + corpus cell assignments)
    Verb("semdedup-build", dataDir, rootDir, Flag.int("split", 8)) { (a, session) =>
      val (spark, root) = (session(), a[String]("root"))
      val emb = Catalog.embeddings(spark, a[String]("data"))
        .where(col("vec_id") % 10 < a[Int]("split"))
      val (_, dt) = timed(SemDedupIndex.build(emb, root))
      val n = SemDedupIndex.vectors(spark, root).count()
      val v = SemDedupIndex.version(spark, root)
      println(f"semantic dedup index built in $dt%.1fs: $n vectors at $root (snapshot $v)")
    },

    // near-dup verdicts for the held-out tail against the index —
    // assign-incoming + probe stored cell-mates, NO quantizer retraining
    // (the amortized ingest path)
    Verb("semdedup-probe", dataDir, rootDir, Flag.int("split", 8),
        Flag.double("threshold", 0.35)) { (a, session) =>
      val spark = session()
      val threshold = a[Double]("threshold")
      val batch = Catalog.embeddings(spark, a[String]("data"))
        .where(col("vec_id") % 10 >= a[Int]("split"))
      val ((verdicts, n, nDup), dt) = timed {
        val v = SemDedupIndex.probe(spark, a[String]("root"), batch, threshold)
          .localCheckpoint() // histogram + detail rows: one probe, two reads
        val nDup = v.where(col("is_dup") === 1).count()
        (v, v.count(), nDup)
      }
      println(f"semdedup probe in $dt%.1fs: $n vectors, $nDup near-dups at threshold $threshold%.2f")
      verdicts.where(col("is_dup") === 1)
        .orderBy(col("max_cos").desc, col("vec_id")).limit(10).collect()
        .foreach(r => println(
          f"  vec ${r.getLong(0)}%6d  max_cos=${r.getDouble(2)}%.6f  " +
            f"candidates=${r.getLong(1)}%3d"))
    },

    // cosine top-k retrieval off the SAME stored training artifact the
    // dedup probe uses (SemDedupIndex.searchTopK — one quantizer, two
    // families); --at <version> time-travels
    Verb("semdedup-search", dataDir, rootDir, Flag.long("query", 0),
        Flag.int("k", 5), Flag.optional("at", Kind.Long)) { (a, session) =>
      val (spark, root) = (session(), a[String]("root"))
      val (qid, k) = (a[Long]("query"), a[Int]("k"))
      val q = queryVector(spark, a[String]("data"), qid)
      val hits = (a.get[Long]("at") match {
        case Some(v) => SemDedupIndex.searchTopKAt(spark, root, q, v, k)
        case None => SemDedupIndex.searchTopK(spark, root, q, k)
      }).collect()
      println(s"query=$qid k=$k -> ${hits.length} neighbors (stored semdedup quantizer):")
      hits.foreach(r => println(f"  rank ${r.getInt(3)}%2d  vec ${r.getLong(1)}%6d  cos ${r.getDouble(2)}%.6f"))
    },

    // table-maintenance drive: recover any crash-stranded partitions,
    // then bin-pack the offenders; prints the per-partition report
    Verb("compact", Flag.required("path"), Flag.required("pcol"),
        Flag.int("max-files", 8), Flag.int("target-files", 1)) { (a, session) =>
      val (spark, path, pcol) = (session(), a[String]("path"), a[String]("pcol"))
      val maxFiles = a[Int]("max-files")
      val recovered = Compact.recover(spark, path, pcol)
      if (recovered.nonEmpty)
        println(s"recovered ${recovered.size} held partition(s): ${recovered.mkString(", ")}")
      val report = Compact.compact(spark, path, pcol, maxFiles, a[Int]("target-files")).collect()
      if (report.isEmpty) println(s"nothing over $maxFiles files — layout already compact")
      else report.foreach(r => println(
        f"  $pcol=${r.getString(0)}%-12s ${r.getInt(1)}%3d -> ${r.getInt(2)}%2d files"))
    },

    // keyed snapshot diff of two parquet tables
    Verb("diff", Flag.required("before"), Flag.required("after"), Flag.required("key"),
        Flag.optional("cols", Kind.ListOf(Kind.Str)), Flag.int("limit", 10)) { (a, session) =>
      val (spark, key) = (session(), a[String]("key"))
      val b = spark.read.parquet(a[String]("before"))
      val after = spark.read.parquet(a[String]("after"))
      val cols = a.get[Seq[String]]("cols").getOrElse(b.columns.toSeq.filterNot(_ == key))
      TableDiff.diffSummary(b, after, key, cols).collect()
        .foreach(r => println(f"  ${r.getString(0)}%-10s ${r.getLong(1)}%8d"))
      TableDiff.diff(b, after, key, cols).orderBy("status", key).limit(a[Int]("limit"))
        .collect().foreach(r => println(s"  ${r.get(0)}  ${r.getString(1)}"))
    },

    // blocked Levenshtein fuzzy join: each probe row's best master match
    Verb("fuzzy", Flag.required("master"), Flag.required("probe"), Flag.required("key"),
        Flag.required("text"), Flag.int("prefix", 4), Flag.int("max-dist", 2),
        Flag.int("limit", 10)) { (a, session) =>
      val spark = session()
      val best = FuzzyJoin.resolveBest(
        spark.read.parquet(a[String]("master")), spark.read.parquet(a[String]("probe")),
        a[String]("key"), a[String]("text"), a[Int]("prefix"), a[Int]("max-dist")).localCheckpoint()
      println(s"resolved ${best.count()} probe row(s):")
      best.orderBy("probe_key").limit(a[Int]("limit"))
        .collect().foreach(r =>
          println(s"  ${r.get(0)} -> ${r.get(1)} (dist ${r.getInt(2)})"))
    },

    // the persisted BM25 index over the documents table
    Verb("lex-build", dataDir, rootDir) { (a, session) =>
      val spark = session()
      val root = a[String]("root")
      val v = LexIndex.build(spark, Catalog.documents(spark, a[String]("data")), root)
      println(s"lexical index built at $root (snapshot $v)")
    },

    // BM25 top-k; with --data, hybrid RRF with one corpus vector (--vec)
    // as the vector leg; --at <version> time-travels the BM25 query
    Verb("lex-search", rootDir, Flag.required("terms", Kind.ListOf(Kind.Str)),
        Flag.int("k", 10), Flag.optional("data"), Flag.optional("ann-root"),
        Flag.switch("brute"), Flag.long("vec", 0),
        Flag.optional("at", Kind.Long)) { (a, session) =>
      val (root, terms, k) = (a[String]("root"), a[Seq[String]]("terms"), a[Int]("k"))
      val (annRootOpt, brute, vecId) =
        (a.get[String]("ann-root"), a[Boolean]("brute"), a[Long]("vec"))
      if (annRootOpt.isDefined && a.get[String]("data").isEmpty)
        badInput("--ann-root requires --data (for the query embedding)")
      if (annRootOpt.isDefined && brute)
        badInput("--brute and --ann-root are mutually exclusive")
      val spark = session()
      a.get[String]("data") match {
        case Some(data) if !brute =>
          // DEFAULT hybrid drive = the production dual-persisted-index
          // stack (round-13 ask #8): the vector pool from the persisted
          // ANN index (cell-pruned), never a brute-force corpus scan.
          // Without --ann-root the index lives beside the lexical root
          // (<root>-ann) and is built on first use, announced. The
          // brute-force leg stays available under --brute as the
          // documented baseline (and remains the lx_hybrid gate).
          val emb = Catalog.embeddings(spark, data)
          val annRoot = annRootOpt.getOrElse {
            val default = s"$root-ann"
            if (StateCommit.currentVersion(spark, default).isEmpty) {
              println(s"no ANN index at $default — building one " +
                "(pass --ann-root to reuse an existing index, " +
                "--brute for the baseline corpus scan)")
              AnnIndex.build(emb, default)
            }
            default
          }
          println(s"hybrid(ann) top-$k for terms=${terms.mkString(",")} vec=$vecId:")
          LexIndex.hybridAnn(spark, root, terms, annRoot,
            emb.where(col("vec_id") === vecId)
              .select(col("vec_id").as("qid"), col("embedding").as("qe")), k)
            // rows (qid, doc_id, rank_lex, rank_vec, rrf_micro) of one qid
            .collect().foreach(r => println(
              s"  doc ${r.getLong(1)}  rrf=${r.getLong(4)} " +
                s"(lex=${Option(r.get(2)).getOrElse("-")}, vec=${Option(r.get(3)).getOrElse("-")})"))
        case Some(data) => // --brute: baseline brute-force vector leg
          println(s"hybrid top-$k for terms=${terms.mkString(",")} vec=$vecId (brute baseline):")
          LexIndex.hybrid(spark, root, terms, Catalog.embeddings(spark, data), vecId, k)
            .collect().foreach(r => println(
              s"  doc ${r.getLong(0)}  rrf=${r.getLong(3)} " +
                s"(lex=${Option(r.get(1)).getOrElse("-")}, vec=${Option(r.get(2)).getOrElse("-")})"))
        case None =>
          val res = a.get[Long]("at") match {
            case Some(v) =>
              println(s"bm25 top-$k for terms=${terms.mkString(",")} AS OF snapshot $v:")
              LexIndex.searchAt(spark, root, terms, v, k)
            case None =>
              println(s"bm25 top-$k for terms=${terms.mkString(",")}:")
              LexIndex.search(spark, root, terms, k)
          }
          res.collect().foreach(r => println(
            f"  ${r.getInt(2)}%2d. doc ${r.getLong(0)}%6d  score_micro=${r.getLong(1)}"))
      }
    },

    // tombstone doc ids; lex-compact folds the dead rows away
    Verb("lex-delete", rootDir, Flag.required("ids", Kind.ListOf(Kind.Long))) { (a, session) =>
      val (spark, root, ids) = (session(), a[String]("root"), a[Seq[Long]]("ids"))
      val s = spark; import s.implicits._
      val v = LexIndex.delete(spark, root, ids.toDF("doc_id"))
      println(s"deleted ${ids.size} doc id(s) from $root (snapshot $v; " +
        "tombstoned — run lex-compact to fold dead rows away)")
    },

    // atomic live-document update: --data supplies the corpus, --ids
    // picks which docs re-index with their current text (the curation
    // "content changed, refresh the index" event — one snapshot, exact
    // delete+ingest algebra, no double-count)
    Verb("lex-upsert", rootDir, Flag.required("data"),
        Flag.required("ids", Kind.ListOf(Kind.Long))) { (a, session) =>
      val (spark, root, ids) = (session(), a[String]("root"), a[Seq[Long]]("ids"))
      val batch = Catalog.documents(spark, a[String]("data"))
        .where(col("doc_id").isin(ids: _*))
        .select("doc_id", "text")
      val v = LexIndex.upsert(spark, batch, root)
      println(s"upserted ${ids.size} doc id(s) into $root (snapshot $v)")
    },

    // fold every generation and tombstone into one generation
    Verb("lex-compact", rootDir) { (a, session) =>
      val root = a[String]("root")
      val v = LexIndex.compactGenerations(session(), root)
      println(s"lexical index compacted to one generation at $root (snapshot $v)")
    },

    // fit and commit a DSIR importance model (target = the named
    // source's docs, raw = the rest)
    Verb("dsir-fit", dataDir, rootDir, Flag.str("target-source", "src1"),
        Flag.int("buckets", 4096)) { (a, session) =>
      val (spark, root) = (session(), a[String]("root"))
      val (tgtSrc, buckets) = (a[String]("target-source"), a[Int]("buckets"))
      val docs = Catalog.documents(spark, a[String]("data"))
      val (v, dt) = timed(DsirModel.fit(
        docs.where(col("source") =!= tgtSrc),
        docs.where(col("source") === tgtSrc), root, buckets))
      val nBuckets = DsirModel.model(spark, root).count()
      println(f"DSIR model fit in $dt%.1fs: target-source=$tgtSrc $nBuckets populated buckets of $buckets at $root (version $v)")
    },

    // score documents against the committed (or --at pinned) model;
    // prints the top-k by importance weight
    Verb("dsir-score", dataDir, rootDir, Flag.int("k", 10),
        Flag.optional("at", Kind.Long)) { (a, session) =>
      val (spark, root, k) = (session(), a[String]("root"), a[Int]("k"))
      val docs = Catalog.documents(spark, a[String]("data"))
      val at = a.get[Long]("at")
      val scored = at match {
        case Some(v) => DsirModel.scoreAt(spark, root, docs, v)
        case None => DsirModel.score(spark, root, docs)
      }
      val vUsed = at.getOrElse(DsirModel.version(spark, root))
      println(s"model version $vUsed, top $k by importance weight (micro-nats):")
      scored.orderBy(col("micro_logw").desc, col("doc_id")).limit(k)
        .collect().foreach(r => println(
          f"  doc ${r.getLong(0)}%6d  grams ${r.getLong(1)}%6d  logw ${r.getLong(2)}%12d"))
    }
  )

  /** The one wrapper round every verb: a parse refusal starts no
    * session; the body's session is built through `LocalSession` on its
    * first use and stopped however the body ends; a [[Refusal]] prints
    * its one `error:` line and sets the exit status. */
  def main(argv: Array[String]): Unit = {
    val status = Cli.parse(verbs, argv.toSeq) match {
      case Left(message) => System.err.println(s"error: $message"); 2
      case Right((verb, a)) =>
        var started = false
        lazy val spark = { val s = graft.LocalSession("graft-cli"); started = true; s }
        try { verb.body(a, () => spark); 0 }
        catch { case r: Refusal => System.err.println(s"error: ${r.getMessage}"); r.status }
        finally if (started) spark.stop()
    }
    if (status != 0) sys.exit(status)
  }
}
