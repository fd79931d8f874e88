package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog => Cat}
import graft.chunker.Chunker
import graft.embed.LocalHashEmbedder
import graft.events.EventLog
import graft.model.Selection
import graft.normalize.Normalizer
import graft.store.{ParquetVectorStore, VectorStoreWriter}
import graft.sync.SyncEngine

/** The sync pipeline's input and its state roots, for `delta_ticks` and
  * the census spec. Candidates are composed the way `cli loop` does
  * it: `Normalizer.composeFull` over products, meta, terms and every ACF
  * type, joined back to (site_id, sku). */
final class SyncRig(spark: SparkSession, dataDir: String) {
  val sel: Selection = Selection(chunkSize = 100, chunkOverlap = 20).sanitized
  val Dim: Int = new LocalHashEmbedder().dimension
  private val sc = spark.sparkContext

  def products: DataFrame = Cat.products(spark, dataDir)

  /** The full normalized document per product, optionally restricted to
    * `planned` product ids (lazy; nothing runs until the sync). */
  def candidates(planned: Option[DataFrame]): DataFrame = {
    val acfAll = Normalizer.acfRender(Cat.acfValues(spark, dataDir))
      .unionByName(Normalizer.acfRenderLookup(
        Cat.acfLookupValues(spark, dataDir), Cat.postTitles(spark, dataDir),
        Cat.termDim(spark, dataDir), Cat.attachments(spark, dataDir)))
    val composed = Normalizer.composeFull(products,
      Cat.productMeta(spark, dataDir), Cat.productTerms(spark, dataDir), acfAll)
    planned.fold(composed)(p => composed.join(p, Seq("product_id"), "left_semi"))
      .join(products.select("product_id", "site_id", "sku"), Seq("product_id"))
      .select("product_id", "site_id", "sku", "text")
  }

  /** State roots of one index (store, sync_state, events). */
  final case class Roots(base: String) {
    val store = s"$base/store"
    val syncState = s"$base/sync_state"
    val events = s"$base/events"
    def plainStore: ParquetVectorStore = new ParquetVectorStore(spark, store)
    def engine(store: VectorStoreWriter, embedder: graft.embed.Embedder) =
      new SyncEngine(spark, embedder, store, syncState, sel,
        events = Some(new EventLog(spark, events)))
    def plainEngine: SyncEngine =
      engine(plainStore, new LocalHashEmbedder())
  }

  /** The traced stand-ins for one op: decorated store and embedder. */
  final class Traced(val roots: Roots) {
    val store = new TimedStore(roots.plainStore, roots.store, sc)
    val engine: SyncEngine =
      roots.engine(store, new CountingEmbedder(new LocalHashEmbedder()))
  }

  def summary(rows: Array[org.apache.spark.sql.Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The traced run's staged materialization: normalize, fingerprint
    * and chunk are each cached and counted in turn, so each step's time is
    * its own work over the cached step before. Payloads re-chunk inside
    * `buildPayloads`, so embed time is the payload step's increment over
    * the chunk step. Runs with the plain embedder so the embed counters
    * see only the sync itself. */
  def staged(cand: DataFrame, roots: Roots, rec: Recorder): Unit = {
    val eng = roots.plainEngine
    def step(w: String, df: DataFrame): (DataFrame, Long, Double) = {
      val cached = df.cache()
      val t0 = System.nanoTime()
      val n = Windows.within(sc, w)(cached.count())
      (cached, n, secs(t0))
    }
    val (norm, _, tNorm) = step("normalize", cand)
    val (fp, _, tFp) = step("fingerprint", eng.fingerprinted(norm))
    val (chunks, rows, tChunk) = step("chunk", Chunker.explodeChunksGen(fp,
      col("text"), Seq(col("product_id"), col("site_id"), col("sku"),
        col("product_sha")), sel.chunkSize, sel.chunkOverlap))
    val (pay, _, tPay) = step("payload", eng.buildPayloads(
      fp.select("product_id", "site_id", "sku", "text", "product_sha")))
    Seq(norm, fp, chunks, pay).foreach(_.unpersist())
    rec.add("normalize.s", tNorm)
    rec.add("fingerprint.s", tFp)
    rec.add("chunk.s", tChunk)
    rec.add("chunk.rows", rows.toDouble)
    rec.add("embed.s", tPay - tChunk)
  }

  /** One sync pass whose candidates are all unchanged; traced passes run
    * through the decorators and record the `skip.*` layers. Returns
    * (summary, wall seconds). */
  def skipSync(cand: DataFrame, nCand: Long, roots: Roots, traced: Boolean,
      rec: Recorder): (Map[String, Long], Double) =
    if (!traced) {
      val eng = roots.plainEngine
      val t0 = System.nanoTime()
      val s = summary(eng.sync(cand).collect())
      (s, secs(t0))
    } else {
      staged(cand, roots, rec)
      val tr = new Traced(roots)
      EmbedProbe.reset()
      val ss0 = Disk.bytes(roots.syncState)
      val t0 = System.nanoTime()
      val s = summary(Windows.within(sc, "sync")(tr.engine.sync(cand).collect()))
      val wall = secs(t0)
      recordSync(tr, s, nCand, wall, ss0, skip = true, rec)
      (s, wall)
    }

  def recordSync(tr: Traced, s: Map[String, Long], nCand: Long,
      wall: Double, ss0: Long, skip: Boolean, rec: Recorder): Unit = {
    val st = tr.store
    rec.add("sync.s", wall)
    rec.add("sync.self_s", wall - st.storeNanos / 1e9)
    rec.add("sync.skip_ratio", s("skip_unchanged").toDouble / nCand)
    rec.add("sync_state.bytes_written",
      (Disk.bytes(tr.roots.syncState) - ss0).toDouble)
    if (st.upserts.calls > 0) rec.add("store.upsert_s", st.upserts.nanos / 1e9)
    if (st.deleteIds.calls > 0)
      rec.add("store.delete_ids_s", st.deleteIds.nanos / 1e9)
    if (skip) {
      rec.add("skip.sync_s", wall)
      rec.add("skip.embed_texts", EmbedProbe.texts.get.toDouble)
      rec.add("skip.store_commits", st.commits.toDouble)
    } else {
      rec.add("embed.calls", EmbedProbe.calls.get.toDouble)
      rec.add("embed.texts", EmbedProbe.texts.get.toDouble)
      rec.add("embed.busy_ms", EmbedProbe.busyNanos.get / 1e6)
    }
  }

  /** The store's write side of one write op. */
  def recordWrites(st: TimedStore, upserted: Long, rec: Recorder): Unit = {
    rec.add("store.commits", st.commits.toDouble)
    rec.add("store.bytes_written", st.bytesWritten.toDouble)
    if (upserted > 0) rec.add("store.rewrite_amp",
      st.bytesWritten.toDouble / (upserted * Dim * 4.0))
  }

  /** Store ids, sync_state vector ids and their statuses agree. */
  def checkConsistent(roots: Roots, expectProducts: Long): Unit = {
    val store = roots.plainStore.read().select("id")
    val state = roots.plainEngine.readSyncState()
    val synced = state.where(col("status") === "synced")
      .select(col("vector_id").as("id"))
    val nStore = store.count()
    val nState = state.count()
    Check(nState == synced.count(), s"sync_state has non-synced rows")
    Check(nStore == nState, s"store holds $nStore ids, sync_state $nState rows")
    Check(store.except(synced).isEmpty && synced.except(store).isEmpty,
      "store ids differ from sync_state vector_ids")
    val nProducts = state.select("product_id").distinct().count()
    Check(nProducts == expectProducts,
      s"sync_state covers $nProducts products, expected $expectProducts")
  }
}

/** `delta_ticks`: set-up indexes a seeded catalog; each cycle is one
  * edit tick (write op: a 200-candidate sync mixing unchanged, edited
  * and shrunk products, then a few `deleteProduct` calls) and one skip
  * tick (read op: 200 unchanged candidates, which must write nothing).
  * The bench chooses every candidate set, edit and delete from the seed
  * and hands the engine only the resulting DataFrame. */
final class DeltaTicks(spark: SparkSession, env: Env) extends Workload {
  val nParts: Int = 400
  /** The reference's default scan limit. */
  val TickSize = 200
  val EditsPerTick = 16
  val ShrinksPerTick = 8
  val DeletesPerTick = 2

  private val dataDir = env.path("data/catalog")
  private val rig = new SyncRig(spark, dataDir)
  private val rnd = new scala.util.Random(env.seed * 7919 + 17)
  private var roots: rig.Roots = null
  /** product → chunk rows at set-up (the shrink and delete pools). */
  private var chunksAtSetup = Map.empty[Long, Long]
  /** Live products, and each edited product's current text edit. */
  private val live = scala.collection.mutable.LinkedHashSet[Long]()
  private val edits = scala.collection.mutable.Map[Long, (String, String)]()
  private val deleted = scala.collection.mutable.ArrayBuffer[Long]()

  def setup(): Unit = {
    Inputs.writeCatalog(spark, dataDir, nParts, env.seed)
    roots = rig.Roots(env.path("delta_ticks"))
    val s = rig.summary(roots.plainEngine.sync(rig.candidates(None)).collect())
    Check(s("upsert") > 0, s"seed index summary $s")
    chunksAtSetup = roots.plainEngine.readSyncState()
      .groupBy("product_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    live ++= chunksAtSetup.keys.toSeq.sorted
    println(s"seed index: ${live.size} products, ${chunksAtSetup.values.sum} " +
      s"chunks at dim ${rig.Dim}")
  }

  private def pick(pool: Seq[Long], n: Int): Seq[Long] =
    rnd.shuffle(pool).take(n)

  private val ss = spark; import ss.implicits._

  /** The tick's candidate frame: the composed documents of `planned`,
    * with each edited product's current edit applied to its text. */
  private def tickInput(planned: Seq[Long]): DataFrame = {
    val cur = planned.flatMap(p => edits.get(p).map { case (k, a) => (p, k, a) })
    val state = cur.toDF("product_id", "kind", "arg")
    rig.candidates(Some(planned.toDF("product_id")))
      .join(broadcast(state), Seq("product_id"), "left_outer")
      .select(col("product_id"), col("site_id"), col("sku"),
        when(col("kind") === "append", concat(col("text"), col("arg")))
          .when(col("kind") === "truncate",
            substring(col("text"), 1, 40))
          .otherwise(col("text")).as("text"))
  }

  def write(c: Int, traced: Boolean, rec: Recorder): Double = {
    val liveSeq = live.toSeq
    val planned = pick(liveSeq, TickSize)
    val fresh = planned.filterNot(edits.contains)
    val shrunk = pick(fresh.filter(p => chunksAtSetup(p) >= 2), ShrinksPerTick)
    val grown = pick(planned.filterNot(shrunk.contains), EditsPerTick)
    shrunk.foreach(p => edits(p) = ("truncate", ""))
    grown.foreach { p =>
      val words = Seq.fill(12)(Inputs.Vocab(rnd.nextInt(Inputs.Vocab.size)))
      edits(p) = ("append", s"\nrevision $c: ${words.mkString(" ")}")
    }
    val plannedSet = planned.toSet
    val victims = pick(liveSeq.filter(p => !plannedSet(p) && !edits.contains(p)),
      DeletesPerTick)

    val cand = tickInput(planned)
    val (s, syncWall, removed, delWall) =
      if (!traced) {
        val eng = roots.plainEngine
        val t0 = System.nanoTime()
        val s = rig.summary(eng.sync(cand).collect())
        val t1 = System.nanoTime()
        val removed = victims.map(p => eng.deleteProduct(p))
        (s, (t1 - t0) / 1e9, removed, rig.secs(t1))
      } else {
        rig.staged(cand, roots, rec)
        val tr = new rig.Traced(roots)
        EmbedProbe.reset()
        val ss0 = Disk.bytes(roots.syncState)
        val t0 = System.nanoTime()
        val s = rig.summary(Windows.within(spark.sparkContext, "sync")(
          tr.engine.sync(cand).collect()))
        val t1 = System.nanoTime()
        rig.recordSync(tr, s, planned.size, (t1 - t0) / 1e9, ss0, skip = false, rec)
        val removed = victims.map { p =>
          val d0 = System.nanoTime()
          val n = Windows.within(spark.sparkContext, "delete")(
            tr.engine.deleteProduct(p))
          rec.add("delete.s", rig.secs(d0))
          n
        }
        val delWall = rig.secs(t1)
        if (tr.store.deleteProducts.calls > 0) rec.add("store.delete_product_s",
          tr.store.deleteProducts.nanos / 1e9 / tr.store.deleteProducts.calls)
        rig.recordWrites(tr.store, s("upsert"), rec)
        (s, (t1 - t0) / 1e9, removed, delWall)
      }
    victims.foreach { p => live -= p; deleted += p }
    val unchanged = planned.size - shrunk.size - grown.size
    Check(s("upsert") > 0 && s("skip_unchanged") == unchanged,
      s"edit tick $c summary $s (shrunk ${shrunk.size}, grown ${grown.size})")
    Check(shrunk.isEmpty || s("delete") > 0,
      s"edit tick $c deleted no stale chunk: $s")
    victims.zip(removed).foreach { case (p, n) =>
      Check(n == chunksAtSetup(p),
        s"deleteProduct($p) removed $n rows, expected ${chunksAtSetup(p)}")
    }
    syncWall + delWall
  }

  def read(c: Int, traced: Boolean, rec: Recorder): Double = {
    val planned = pick(live.toSeq, TickSize)
    val v0 = roots.plainStore.currentVersion
    val (s, wall) = rig.skipSync(tickInput(planned), planned.size, roots,
      traced, rec)
    Check(s("upsert") == 0 && s("delete") == 0 && s("skip_unchanged") == planned.size,
      s"skip tick $c summary $s")
    Check(roots.plainStore.currentVersion == v0, s"skip tick $c moved the store")
    wall
  }

  def finish(): Unit = {
    rig.checkConsistent(roots, live.size)
    val gone = deleted.toSeq.toDF("product_id")
    val inStore = roots.plainStore.read()
      .join(gone, Seq("product_id"), "left_semi").count()
    val inState = roots.plainEngine.readSyncState()
      .join(gone, Seq("product_id"), "left_semi").count()
    Check(inStore == 0 && inState == 0,
      s"deleted products still present: store $inStore, sync_state $inState rows")
  }

  def spaceAmp(): Double = {
    val live = roots.plainStore.count() * rig.Dim * 4.0
    (Disk.bytes(roots.store) + Disk.bytes(roots.syncState) +
      Disk.bytes(roots.events)) / live
  }
}
