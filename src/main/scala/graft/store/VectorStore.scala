package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{CellTable, MetaSchema, StateCommit}
import graft.streaming.CellTable.Manifest

/** The adapter contract (reference
  * `includes/adapters/class-adapter-interface.php:24-34`, injected per
  * sync via the `wcvec_adapters_for_sync` filter — here plain constructor
  * injection, SURVEY §2.12). */
trait VectorStoreWriter {
  def upsert(payloads: DataFrame): Int
  def deleteByIds(ids: DataFrame): Int

  /** A sync pass's chunk delta: delete `ids`, then upsert `payloads`, so
    * an id in both ends as the upsert. The default is the reference's two
    * calls (`class-indexer.php:390-409`); a store that can apply both in
    * one commit overrides it, and then a reader never sees the deletes
    * without the upserts. */
  def replace(ids: DataFrame, payloads: DataFrame): Int = {
    deleteByIds(ids)
    upsert(payloads)
  }

  def deleteByProduct(productId: Long, siteId: Int): Int
  def purgeSite(siteId: Int): Int
  def read(): DataFrame
  def count(): Long
  def currentVersion: Int
}

/** Vector-store sink with Pinecone-equivalent semantics on immutable
  * storage (SURVEY §2.2 K1–K5, §7.5.3): id-keyed upsert, delete-by-ids,
  * delete-by-metadata-filter, purge-site — each a deterministic
  * merge-rewrite, so every operation is idempotent (T7) and re-running
  * converges.
  *
  * Store schema: (id string, values array<float>, site_id int,
  * product_id bigint, sku string, url string, updated_at string,
  * fingerprint string, fields array<string>) — the flattened payload of
  * reference `includes/class-indexer.php:101-116`.
  *
  * Snapshots are BUCKETED by `product_id % nBuckets` (round 1 rewrote the
  * whole store every commit — a full copy per sync pass at 100 TB) and
  * committed through [[StateCommit]] in the cell-entries generational
  * layout of [[graft.operators.AnnIndexPq]], whose manifest and
  * generation format [[graft.streaming.CellTable]] owns:
  * {{{
  *   root/CURRENT             — StateCommit pointer (the store version)
  *   root/snap-v/meta/        — ONE parquet folding the (bucket, gen)
  *                              manifest and the (n_buckets,
  *                              site_buckets) params row, discriminated
  *                              by column `t`
  *   root/gen-v/bucket=K/     — IMMUTABLE store rows of bucket K
  * }}}
  * A commit writes ONLY the touched buckets under `gen-v/` and re-points
  * just those manifest entries, so untouched buckets' files are never
  * rewritten (asserted byte-identical by BucketedStoreSpec); a bucket
  * dir no retained snapshot's manifest maps any more is reclaimed by the
  * shared commit tail, so superseded bucket copies do not pile up from
  * one commit to the next. All of a product's chunk vectors share a bucket,
  * so the per-product delete and the sync delta's upserts each touch
  * exactly the buckets they name. A sync pass that both deletes stale
  * chunks and upserts new ones applies them with [[replace]], one read
  * and one rewrite of their buckets in one commit, where the trait's
  * default would commit twice and rewrite the shared buckets twice.
  *
  * `siteBuckets = true` extends the bucket key to
  * `site_id * nBuckets + product_id % nBuckets` — every bucket then holds
  * ONE site's rows, so `purgeSite` prunes to that site's buckets instead
  * of sweeping the store (the multi-tenant deployment shape at 100 TB;
  * requires `site_id >= 0`). The params row records the bucket count and
  * the mode, so opening a store with either one wrong fails loudly
  * instead of mis-routing rows.
  */
final class ParquetVectorStore(spark: SparkSession, root: String,
    nBuckets: Int = 16, siteBuckets: Boolean = false)
    extends VectorStoreWriter with Serializable {

  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("values", ArrayType(FloatType), nullable = false),
    StructField("site_id", IntegerType, nullable = false),
    StructField("product_id", LongType, nullable = false),
    StructField("sku", StringType),
    StructField("url", StringType),
    StructField("updated_at", StringType),
    StructField("fingerprint", StringType),
    StructField("fields", ArrayType(StringType))))

  private val Params = "params"

  /** The bucket-partitioned store table: the store schema plus `bucket`. */
  private val Cells = CellTable("bucket", schema.add("bucket", IntegerType))

  /** The two logical meta tables (the folded-meta layout of
    * [[StateCommit.commitMeta]]). */
  private[graft] val metaSchema = MetaSchema(
    Cells.manifest("int"),
    Params -> Seq("n_buckets" -> "int", "site_buckets" -> "boolean"))

  /** The committed version (0 before the first commit) and its
    * bucket → generation manifest. */
  private final class Committed(val version: Long,
      val manifest: Map[String, Long])

  /** The committed state, read in ONE job (the whole folded meta is
    * metadata-sized). The params row pins the store's bucket count and
    * mode — opening with a different `nBuckets` or `siteBuckets` would
    * route rows to the wrong buckets and silently lose them, so it fails
    * loudly instead, as does a store root of the old cursor layouts. */
  private def committed(): Committed =
    committedVersion.fold(new Committed(0L, Map.empty)) { v =>
      val m = StateCommit.metaRows(spark, root, v, metaSchema,
        Seq(Manifest, Params))
      m(Params).foreach { p =>
        val (n, site) = (p.getInt(0), p.getBoolean(1))
        if (n != nBuckets) throw new IllegalStateException(
          s"$root was written with nBuckets=$n, opened with $nBuckets")
        if (site != siteBuckets) throw new IllegalStateException(
          s"$root was written with siteBuckets=$site, opened with $siteBuckets")
      }
      new Committed(v, CellTable.entries(m(Manifest)))
    }

  private def committedVersion: Option[Long] =
    StateCommit.currentVersionOrLegacy(spark, root, "_MANIFEST", "_VERSION")

  def currentVersion: Int = committedVersion.getOrElse(0L).toInt

  def read(): DataFrame =
    Cells.read(spark, root, committed().manifest).drop("bucket")

  /** Bucket from the payload's (site_id,) product_id (modulo: synthetic
    * ids are uniform; an id-clustered deployment would swap in a stable
    * hash). Site-aware mode gives each site its own bucket range — and
    * FAILS LOUDLY on a NULL or negative site_id: such a row would land in
    * a bucket that deleteByProduct/purgeSite's integer routing
    * (`siteId * nBuckets`, `bucket / nBuckets == siteId`) can never
    * address, i.e. written but silently unreachable by the pruned delete
    * paths (the same fail-fast discipline as the manifest mode check). */
  private def bucketCol = {
    val pidPart = pmod(col("product_id"), lit(nBuckets.toLong))
    (if (siteBuckets) {
      val site = when(col("site_id").isNull || col("site_id") < 0,
        raise_error(concat(
          lit("siteBuckets mode requires site_id >= 0; got "),
          coalesce(col("site_id").cast("string"), lit("NULL")),
          lit(" for product_id "), col("product_id").cast("string"))))
        .otherwise(col("site_id").cast("long"))
      site * nBuckets + pidPart
    } else pidPart).cast("int")
  }

  /** Bucket recovered from the deterministic vector-id format
    * `site-%d:product-%d:chunk-%d` (reference `class-indexer.php:147-150`)
    * so delete-by-ids routes to buckets without a store scan. An id that
    * doesn't match the format maps to bucket −1 (no manifest entry →
    * the delete is a no-op for it, matching the pre-bucketed anti-join
    * behavior instead of crashing on a null bucket). */
  private def bucketOfId = {
    // try_cast: a non-matching id extracts "" and ANSI cast would throw
    val pidPart =
      pmod(expr("try_cast(regexp_extract(id, 'product-(\\\\d+):', 1) AS BIGINT)"),
        lit(nBuckets.toLong))
    val sitePart =
      expr("try_cast(regexp_extract(id, 'site-(\\\\d+):', 1) AS BIGINT)")
    coalesce(
      (if (siteBuckets) sitePart * nBuckets + pidPart else pidPart).cast("int"),
      lit(-1))
  }

  /** Publish the next version with the `touched` buckets of `c`
    * rewritten as `rows` of their current rows (which carry their
    * `bucket`), re-pointing only those manifest entries. A bucket whose
    * rows all vanished drops out of the manifest. */
  private def rewrite(c: Committed, touched: Seq[Int])(
      rows: DataFrame => DataFrame): Int = {
    val s = spark; import s.implicits._
    val keys = touched.map(_.toString).toSet
    val v = c.version + 1
    val (manifest, _) = Cells.write(root, v,
      rows(Cells.read(spark, root, c.manifest.filter(e => keys(e._1)))),
      c.manifest, keys)
    // reclaim by bucket: a rewrite re-points the buckets it touched, and
    // their old dirs go once no retained snapshot maps them
    StateCommit.commitMeta(spark, root, v, metaSchema, Seq(
      Manifest -> metaSchema.rows(spark, Manifest, manifest.toSeq.sortBy(_._1)),
      Params -> metaSchema.rows(spark, Params, Seq((nBuckets, siteBuckets)))),
      droppedGens = c.manifest.exists { case (b, g) => !manifest.get(b).contains(g) },
      cellKey = Some(Cells.key))
    v.toInt
  }

  /** A delete over the `touched` buckets of `c`: [[rewrite]] the live
    * ones through `keep`; when none is live, nothing can match, so it
    * commits nothing and returns the current version. */
  private def delete(c: Committed, touched: Seq[Int])(
      keep: DataFrame => DataFrame): Int = {
    val live = touched.filter(b => c.manifest.contains(b.toString))
    if (live.isEmpty) c.version.toInt else rewrite(c, live)(keep)
  }

  /** K1/K2 — id-keyed upsert: incoming rows replace same-id rows; only
    * the incoming rows' buckets are read and rewritten. A batch carrying
    * the same id twice collapses to ONE row first ([[graft.operators
    * .CdcBatch]]) — Pinecone's id-keyed upsert is single-winner within a
    * batch, and without the collapse both rows land and read() returns
    * duplicate ids until a later upsert replaces them. */
  def upsert(payloads: DataFrame): Int = {
    val incoming = keyedPayloads(payloads)
    try {
      val touched = incoming.select("bucket").distinct()
        .collect().map(_.getInt(0)).toIndexedSeq
      rewrite(committed(), touched)(
        CellTable.dropKeys(_, incoming, "id").unionByName(incoming))
    } finally incoming.unpersist()
  }

  /** K4 — delete by ids, routed to buckets via the id format. */
  def deleteByIds(ids: DataFrame): Int = {
    val keyed = keyedIds(ids)
    try {
      val touched = keyed.select("bucket").distinct()
        .collect().map(_.getInt(0)).filter(_ >= 0).toIndexedSeq
      delete(committed(), touched)(CellTable.dropKeys(_, keyed, "id"))
    } finally keyed.unpersist()
  }

  /** Delete `ids` and upsert `payloads` as ONE commit: the upserts'
    * buckets plus the live buckets of the deletes are read once and
    * rewritten once, without every id of either set and with the incoming
    * rows, so an id in both ends as the upsert. A kill before the pointer
    * swap leaves the previous version whole. */
  override def replace(ids: DataFrame, payloads: DataFrame): Int = {
    val keyed = keyedIds(ids)
    val incoming = keyedPayloads(payloads)
    try {
      val c = committed()
      // one job for both sets' buckets; a delete bucket with no manifest
      // entry holds nothing to delete
      val touched = incoming.select(col("bucket"), lit(true).as("up"))
        .unionByName(keyed.select(col("bucket"), lit(false).as("up")))
        .distinct().collect()
        .filter(r => r.getBoolean(1) || c.manifest.contains(r.getInt(0).toString))
        .map(_.getInt(0)).distinct.toIndexedSeq
      val dropped = keyed.select("id").unionByName(incoming.select("id"))
      rewrite(c, touched)(
        CellTable.dropKeys(_, dropped, "id").unionByName(incoming))
    } finally { keyed.unpersist(); incoming.unpersist() }
  }

  /** Incoming payloads in store columns with their bucket, cached: the
    * touched-bucket collect() and the commit write would otherwise each
    * evaluate the caller's (possibly expensive) plan. */
  private def keyedPayloads(payloads: DataFrame): DataFrame =
    graft.operators.CdcBatch.collapse(
        payloads.select(schema.fieldNames.toIndexedSeq.map(col): _*), "id")
      .withColumn("bucket", bucketCol)
      .cache()

  /** Ids to delete with the bucket their id format routes to, cached. */
  private def keyedIds(ids: DataFrame): DataFrame =
    ids.select("id").withColumn("bucket", bucketOfId).cache()

  /** K3 — delete by metadata filter {product_id, site_id} (the Pinecone
    * `$eq` filter form); exactly one bucket rewritten. */
  def deleteByProduct(productId: Long, siteId: Int): Int = {
    val pidPart = ((productId % nBuckets + nBuckets) % nBuckets).toInt
    val b = if (siteBuckets) siteId * nBuckets + pidPart else pidPart
    delete(committed(), Seq(b))(
      _.where(!(col("product_id") === productId && col("site_id") === siteId)))
  }

  /** K5 — purge site. Default layout sweeps every bucket (sites span
    * products); `siteBuckets` prunes the rewrite to the target site's own
    * bucket range — the whole point of the site-partitioned layout. */
  def purgeSite(siteId: Int): Int = {
    val c = committed()
    val buckets = c.manifest.keys.map(_.toInt).toIndexedSeq
    delete(c, if (siteBuckets) buckets.filter(_ / nBuckets == siteId) else buckets)(
      _.where(col("site_id") =!= siteId))
  }

  def count(): Long = read().count()
}
