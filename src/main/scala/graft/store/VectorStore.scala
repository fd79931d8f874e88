package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StateCommit

/** The adapter contract (reference
  * `includes/adapters/class-adapter-interface.php:24-34`, injected per
  * sync via the `wcvec_adapters_for_sync` filter — here plain constructor
  * injection, SURVEY §2.12). */
trait VectorStoreWriter {
  def upsert(payloads: DataFrame): Int
  def deleteByIds(ids: DataFrame): Int
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
  * committed through [[StateCommit]], the cell-entries generational
  * layout of [[graft.operators.AnnIndexPq]]:
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
  * rewritten (asserted byte-identical by BucketedStoreSpec); a
  * generation no manifest references any more is reclaimed by the
  * shared commit tail. All of a product's chunk vectors share a bucket,
  * so the per-product delete and the sync delta's upserts each touch
  * exactly the buckets they name.
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

  private val Manifest = "manifest"
  private val Params = "params"

  /** Column superset of the two logical meta tables (the folded-meta
    * layout of [[StateCommit.commitMeta]]). */
  private val MetaCols: Seq[(String, String)] = Seq(
    "bucket" -> "int", "gen" -> "long",
    "n_buckets" -> "int", "site_buckets" -> "boolean")

  /** The committed version (0 before the first commit) and its
    * bucket → generation manifest. */
  private final class Committed(val version: Long,
      val manifest: Map[Int, Long])

  /** The committed state, read in ONE job (the whole folded meta is
    * metadata-sized). The params row pins the store's bucket count and
    * mode — opening with a different `nBuckets` or `siteBuckets` would
    * route rows to the wrong buckets and silently lose them, so it fails
    * loudly instead, as does a store root of the old cursor layouts. */
  private def committed(): Committed =
    committedVersion.fold(new Committed(0L, Map.empty)) { v =>
      val rows = StateCommit.readParquet(spark,
        StateCommit.tableDir(root, v, "meta")).collect()
      rows.filter(_.getAs[String]("t") == Params).foreach { p =>
        val (n, site) = (p.getAs[Int]("n_buckets"),
          p.getAs[Boolean]("site_buckets"))
        if (n != nBuckets) throw new IllegalStateException(
          s"$root was written with nBuckets=$n, opened with $nBuckets")
        if (site != siteBuckets) throw new IllegalStateException(
          s"$root was written with siteBuckets=$site, opened with $siteBuckets")
      }
      new Committed(v, rows.filter(_.getAs[String]("t") == Manifest).map(r =>
        r.getAs[Int]("bucket") -> r.getAs[Long]("gen")).toMap)
    }

  private def committedVersion: Option[Long] =
    StateCommit.currentVersionOrLegacy(spark, root, "_MANIFEST", "_VERSION")

  def currentVersion: Int = committedVersion.getOrElse(0L).toInt

  private def emptyDf: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)


  /** Rows of the given buckets at their manifest generations (no bucket
    * col — it's derivable from product_id). */
  private def readBuckets(m: Map[Int, Long], buckets: Seq[Int]): DataFrame = {
    val paths = buckets.distinct.flatMap(b =>
      m.get(b).map(g => s"${StateCommit.genDir(root, g)}/bucket=$b"))
    if (paths.isEmpty) emptyDf else spark.read.schema(schema).parquet(paths: _*)
  }

  def read(): DataFrame = {
    val m = committed().manifest
    readBuckets(m, m.keys.toSeq)
  }

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

  /** Write `df` (restricted to `touched` buckets, carrying a `bucket`
    * column) as generation `v` = the committed version + 1 and publish
    * `v`, re-pointing only the touched manifest entries. A bucket whose
    * rows all vanished drops out of the manifest. */
  private def commitBuckets(c: Committed, touched: Seq[Int],
      df: DataFrame): Int = {
    val s = spark; import s.implicits._
    val v = c.version + 1
    df.write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(StateCommit.genDir(root, v))
    val written = StateCommit.listPartitionDirs(spark,
      StateCommit.genDir(root, v), "bucket")
      .map(_.toInt)
    val manifest = (c.manifest -- touched) ++ written.map(_ -> v)
    StateCommit.commitMeta(spark, root, v, MetaCols, Seq(
      Manifest -> manifest.toSeq.toDF("bucket", "gen"),
      Params -> Seq((nBuckets, siteBuckets)).toDF("n_buckets", "site_buckets")),
      droppedGens = c.manifest.values.toSet.diff(manifest.values.toSet).nonEmpty)
    v.toInt
  }

  /** K1/K2 — id-keyed upsert: incoming rows replace same-id rows; only
    * the incoming rows' buckets are read and rewritten. A batch carrying
    * the same id twice collapses to ONE row first ([[graft.operators
    * .CdcBatch]]) — Pinecone's id-keyed upsert is single-winner within a
    * batch, and without the collapse both rows land and read() returns
    * duplicate ids until a later upsert replaces them. */
  def upsert(payloads: DataFrame): Int = {
    // cache: the touched-bucket collect() and the commit write would
    // otherwise each evaluate the caller's (possibly expensive) plan
    val incoming = graft.operators.CdcBatch.collapse(
        payloads.select(schema.fieldNames.toIndexedSeq.map(col): _*), "id")
      .withColumn("bucket", bucketCol)
      .cache()
    try {
      val touched = incoming.select("bucket").distinct()
        .collect().map(_.getInt(0)).toIndexedSeq
      val c = committed()
      val kept = readBuckets(c.manifest, touched).withColumn("bucket", bucketCol)
        .join(incoming.select("id"), Seq("id"), "left_anti")
      commitBuckets(c, touched, kept.unionByName(incoming))
    } finally incoming.unpersist()
  }

  /** K4 — delete by ids, routed to buckets via the id format. */
  def deleteByIds(ids: DataFrame): Int = {
    val keyed = ids.select("id").withColumn("bucket", bucketOfId).cache()
    try {
      val touched = keyed.select("bucket").distinct()
        .collect().map(_.getInt(0)).filter(_ >= 0).toIndexedSeq
      val c = committed()
      val kept = readBuckets(c.manifest, touched).withColumn("bucket", bucketCol)
        .join(keyed.select("id"), Seq("id"), "left_anti")
      commitBuckets(c, touched, kept)
    } finally keyed.unpersist()
  }

  /** K3 — delete by metadata filter {product_id, site_id} (the Pinecone
    * `$eq` filter form); exactly one bucket rewritten. */
  def deleteByProduct(productId: Long, siteId: Int): Int = {
    val pidPart = ((productId % nBuckets + nBuckets) % nBuckets).toInt
    val b = if (siteBuckets) siteId * nBuckets + pidPart else pidPart
    val c = committed()
    val kept = readBuckets(c.manifest, Seq(b)).withColumn("bucket", bucketCol)
      .where(!(col("product_id") === productId && col("site_id") === siteId))
    commitBuckets(c, Seq(b), kept)
  }

  /** K5 — purge site. Default layout sweeps every bucket (sites span
    * products); `siteBuckets` prunes the rewrite to the target site's own
    * bucket range — the whole point of the site-partitioned layout. */
  def purgeSite(siteId: Int): Int = {
    val c = committed()
    val touched =
      if (siteBuckets) c.manifest.keys.filter(_ / nBuckets == siteId).toIndexedSeq
      else c.manifest.keys.toIndexedSeq
    val kept = readBuckets(c.manifest, touched).withColumn("bucket", bucketCol)
      .where(col("site_id") =!= siteId)
    commitBuckets(c, touched, kept)
  }

  def count(): Long = read().count()
}
