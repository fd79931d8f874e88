package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Path}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Atomic multi-table state commits for the foreachBatch operators
  * ([[StreamingMonitor]], [[StreamingCuration]]).
  *
  * The round-6 advisory problem: committing state as N independent
  * `mode("overwrite")` parquet writes plus a batch-id meta write is not
  * atomic — a crash between any two leaves the tables at batch B+1 with
  * the meta at B (or half the tables new, half old), so the replayed
  * batch double-applies and the documented replay-idempotence contract
  * breaks.
  *
  * Fix, the write-ahead-snapshot / pointer-swap design Spark's own
  * `FileContextBasedCheckpointFileManager` uses for streaming metadata:
  *
  *   - every table of batch B's state is written under a fresh
  *     `snap-B/` directory that nothing references yet — a crash at any
  *     point here is invisible (the replay overwrites the same dir);
  *   - the commit is ONE metadata operation: write `CURRENT.tmp`, then
  *     `FileContext.rename(…, Rename.OVERWRITE)` onto `CURRENT` — atomic
  *     on HDFS and on POSIX local filesystems (object stores with
  *     non-atomic rename need their usual metadata-log mitigation, same
  *     caveat as Spark's checkpoints);
  *   - readers resolve `CURRENT` first, so they see batch B's state in
  *     full or not at all;
  *   - committed snapshots older than the previous one are GC'd (the
  *     previous survives one round for in-flight readers holding its
  *     paths in lazy plans).
  *
  * A side benefit: the merge plan for batch B+1 reads `snap-B/` and
  * writes `snap-B+1/`, so the read-own-overwrite hazard the old code
  * dodged with an eager materialization is gone structurally.
  */
object StateCommit {

  private val Pointer = "CURRENT"
  private val SnapPrefix = "snap-"
  private val GenName = """gen-(\d+)""".r

  /** Footer-inference cache for IMMUTABLE parquet paths (round 17).
    * Spark 4 resolves `spark.read.parquet(path)` by reading a footer in
    * a 1-task schema-inference JOB (~25 ms of scheduling constant), and
    * the snapshot discipline's readers re-resolve the SAME meta/
    * generation paths many times per mutation — the Profile census
    * showed ~10 such jobs per LexIndex upsert. Committed snapshot and
    * generation dirs are written once and never rewritten in place
    * (the write-ahead-snapshot rule above), and the driver-owned
    * testdata is immutable, so their resolved schema is stable for the
    * life of the process: cache it and read with an explicit schema,
    * which skips the inference job (file listing still happens and is
    * driver-side for these small dirs). Only use for paths with that
    * immutability guarantee. Bounded: cleared wholesale past 8192
    * entries (scratch roots are per-query, so entries are small and
    * never reused after their query). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, StructType)]()

  /** The cache-validity token for `path`: the directory's modification
    * time. Snapshot dirs are not strictly write-once: a replayed
    * foreachBatch batch B rewrites `snap-B/` in place (the replay
    * overwrites the same dir, see above), which replaces the dir's
    * children and bumps its mtime, so a schema cached from the first
    * attempt is not served for the rewrite. One driver-side fs stat
    * (~µs locally) instead of a scheduled inference job. -1 = path
    * unreadable (never cached). */
  private def mtimeOf(spark: SparkSession, path: String): Long =
    Try(new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(new Path(path)).getModificationTime).getOrElse(-1L)

  private def cacheSchema(spark: SparkSession, path: String,
      schema: StructType): Unit = {
    val mt = mtimeOf(spark, path)
    if (mt >= 0) {
      if (schemaCache.size >= 8192) schemaCache.clear()
      schemaCache.put(path, (mt, schema))
    }
  }

  /** The schema of the immutable `path`: cached (see [[schemaCache]]),
    * else `resolve`d once per content version and cached. */
  def schemaOf(spark: SparkSession, path: String)(
      resolve: => StructType): StructType = {
    val c = schemaCache.get(path)
    if (c != null && c._1 == mtimeOf(spark, path)) c._2
    else { val s = resolve; cacheSchema(spark, path, s); s }
  }

  /** `spark.read.parquet(path)` with the schema-inference job paid at
    * most once per `path` content version. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)(spark.read.parquet(path).schema))
      .parquet(path)

  /** Pre-seed the schema cache from a WRITER (round 17): a mutation
    * that writes a table and then re-reads it (every commit re-reads
    * its own meta; a search reads the snapshot the build just wrote)
    * otherwise pays the first inference job anyway. ONLY sound for
    * NON-PARTITIONED writes, or with the partition column's read type
    * in place of its written one ([[CellTable]]): a hive-partitioned
    * dir's partition column type comes from the reader, not the files
    * (a LONG cell column written as `cell=3` infers back as INT). */
  def noteWrittenSchema(spark: SparkSession, path: String,
      schema: StructType): Unit =
    // seed every field nullable: read-back parquet columns are nullable,
    // and nullable=true only pessimizes (a wrongly non-nullable cache
    // entry would let the optimizer drop IsNotNull guards)
    cacheSchema(spark, path,
      StructType(schema.fields.map(_.copy(nullable = true))))

  /** The shared folded-meta write: one coalesce(1) parquet under
    * `snap-v/meta`, with the written schema pre-seeded into the cache
    * so the commit's own re-reads skip the first inference job. */
  def writeMetaParquet(meta: DataFrame, statePath: String, v: Long): Unit = {
    val dir = tableDir(statePath, v, "meta")
    meta.coalesce(1).write.mode("overwrite").parquet(dir)
    noteWrittenSchema(meta.sparkSession, dir, meta.schema)
  }

  private def fc(spark: SparkSession, root: Path): FileContext =
    FileContext.getFileContext(root.toUri,
      spark.sparkContext.hadoopConfiguration)

  /** Atomically replace the small file at `path` with `body`: write
    * `<path>.tmp`, then `FileContext.rename(…, Rename.OVERWRITE)` onto
    * `path`, so a reader sees the old content or the new, never a torn
    * write. The one cursor write of every state root: the `CURRENT`
    * pointer, the ensure-store id and the scan watermark. */
  private[graft] def writeSmallFile(conf: Configuration, path: String,
      body: String): Unit = {
    val p = new Path(path)
    val ctx = FileContext.getFileContext(p.toUri, conf)
    val tmp = new Path(p.getParent, s"${p.getName}.tmp")
    val out = ctx.create(tmp,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      CreateOpts.createParent())
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    ctx.rename(tmp, p, Rename.OVERWRITE)
  }

  /** The content of the small file at `path`, None when it does not
    * exist; any other read failure (a directory in its place, a storage
    * error) throws. */
  private[graft] def readSmallFile(conf: Configuration,
      path: String): Option[String] = {
    val p = new Path(path)
    val ctx = FileContext.getFileContext(p.toUri, conf)
    if (!ctx.util.exists(p)) None
    else {
      val in = ctx.open(p)
      // to EOF: a single read() may legally return a short count, which
      // would mis-parse the content (round-8 advisory)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Whether `path` exists, through the Hadoop filesystem of the
    * session (the state roots' own storage layer). */
  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Partition values (the `column=` directory suffixes) under `path`,
    * sorted; empty when `path` does not exist. Over a written generation
    * these are the touched partitions a mutation produced output for. */
  private[graft] def listPartitionDirs(spark: SparkSession, path: String,
      column: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$column="
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName.stripPrefix(prefix))
      .sorted
  }

  /** Directory for `table` of the snapshot committed (or being built)
    * for batch `v`. */
  def tableDir(statePath: String, v: Long, table: String): String =
    s"$statePath/$SnapPrefix$v/$table"

  /** Directory of generation `g` under a generational root: the
    * immutable data a mutation writes before its snapshot references it,
    * and what [[gcGenerations]] reclaims once no snapshot does. */
  def genDir(statePath: String, g: Long): String = s"$statePath/gen-$g"

  /** The committed version (last applied batch id); None only when no
    * `CURRENT` exists, i.e. no commit has completed. A pointer that
    * cannot be read (a directory in its place, a storage error) or does
    * not hold a version throws: reading it as "never committed" would
    * restart every writer at version 1 over the committed state. */
  def currentVersion(spark: SparkSession, statePath: String): Option[Long] = {
    val pointer = s"$statePath/$Pointer"
    def broken(what: String, cause: Throwable) = new IllegalStateException(
      s"$statePath: commit pointer $pointer $what; restore it or rebuild " +
        "into a fresh root", cause)
    val body =
      try readSmallFile(spark.sparkContext.hadoopConfiguration, pointer)
      catch { case e: java.io.IOException =>
        throw broken(s"is unreadable ($e)", e) }
    body.map(b => b.trim.toLongOption.getOrElse(
      throw broken(s"holds '${b.take(64)}', not a version", null)))
  }

  /** The replay guard of the foreachBatch sinks whose snapshot version
    * is the stream's batch id: true when batch `batchId` (or a later
    * one) is already committed at `statePath`, so re-applying it must
    * be a no-op. */
  def applied(spark: SparkSession, statePath: String, batchId: Long): Boolean =
    currentVersion(spark, statePath).exists(batchId <= _)

  /** The committed version of a persisted `family` root; throws
    * `IllegalStateException` before its first commit. */
  def committedVersion(spark: SparkSession, statePath: String,
      family: String): Long =
    currentVersion(spark, statePath).getOrElse(throw new IllegalStateException(
      s"no committed $family at $statePath (build it first)"))

  /** The one refusal of an on-disk layout that no writer at this
    * version produces: `root` holds `layout` (a description naming the
    * old shape), and the fix is to rebuild or re-sync into a fresh root.
    * Every persisted root keeps exactly one read path, the layout its
    * writers produce; an older one fails here instead of being read
    * through a second path. */
  private[graft] def staleLayout(root: String,
      layout: String): IllegalStateException =
    new IllegalStateException(s"$root holds $layout, a layout this " +
      "version no longer reads; rebuild or re-sync it into a fresh root")

  /** [[currentVersion]] for a root that older code committed through a
    * hand-rolled cursor file: with no `CURRENT` but one of
    * `legacyCursors` present, fail loudly instead of reading the old
    * state as empty (a sync would then re-embed everything and orphan
    * the old vectors). */
  private[graft] def currentVersionOrLegacy(spark: SparkSession,
      statePath: String, legacyCursors: String*): Option[Long] =
    currentVersion(spark, statePath).orElse {
      val root = new Path(statePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      legacyCursors.find(c => fs.exists(new Path(root, c))).foreach { c =>
        throw staleLayout(statePath, s"the legacy $c cursor")
      }
      None
    }

  /** Read `table` from the committed snapshot; None before the first
    * commit. */
  def readTable(spark: SparkSession, statePath: String,
      table: String): Option[DataFrame] =
    currentVersion(spark, statePath).map { v =>
      readParquet(spark, tableDir(statePath, v, table))
    }

  /** Atomically publish batch `v`'s snapshot (all its tables must
    * already be written under [[tableDir]]) and GC snapshots older than
    * the one being replaced. */
  def commit(spark: SparkSession, statePath: String, v: Long): Unit =
    commit(spark, statePath, v, retain = 2)

  /** [[commit]] with an explicit retention horizon: the `retain` newest
    * committed snapshots survive (the default 2 = the new one plus its
    * predecessor, which lives one round for in-flight readers holding
    * its paths in lazy plans); older ones GC. A larger horizon buys
    * TIME TRAVEL — the index families' `…At` reads serve any retained
    * version ([[requireRetained]]) — at the cost of `retain` copies of
    * the (keyed, metadata-sized) state, the Iceberg/Delta
    * snapshot-expiry trade. */
  def commit(spark: SparkSession, statePath: String, v: Long,
      retain: Int): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val root = new Path(statePath)
    writeSmallFile(spark.sparkContext.hadoopConfiguration,
      s"$statePath/$Pointer", v.toString)
    val ctx = fc(spark, root)
    // GC: keep the `retain` newest committed (≤ v) snapshots. Anything
    // newer than v is some other writer's in-flight build — not ours to
    // judge, never deleted here.
    val committed = versions(spark, statePath)
    committed.sorted.reverse.drop(retain).foreach { old =>
      ctx.delete(new Path(root, s"$SnapPrefix$old"), true)
    }
  }

  /** Committed snapshot versions still on disk, ascending — the
    * time-travel horizon. Versions above CURRENT are in-flight builds,
    * not commits, and are excluded. */
  def versions(spark: SparkSession, statePath: String): Seq[Long] =
    currentVersion(spark, statePath) match {
      case None => Seq.empty
      case Some(cur) =>
        val root = new Path(statePath)
        Try(fc(spark, root).util.listStatus(root)).toOption.toSeq.flatten
          .map(_.getPath.getName)
          .filter(_.startsWith(SnapPrefix))
          .flatMap(n => Try(n.stripPrefix(SnapPrefix).toLong).toOption)
          .filter(_ <= cur)
          .sorted
    }

  /** Versions between periodic generation sweeps in [[commitMeta]]. */
  val GcSweepEvery = 8L

  /** The one commit tail of every generational index (AnnIndex,
    * AnnIndexPq, DedupIndex, LexIndex, SemDedupIndex) and the vector
    * store: fold the logical `(table, rows)` pairs by the family's
    * [[MetaSchema]], write them as snapshot `v`'s one `meta` parquet,
    * publish `v`, then reclaim generations.
    *
    * GC is deferred: it runs on a commit that dropped generations from
    * the manifest (`droppedGens`: compaction, rebuild) and otherwise
    * every [[GcSweepEvery]]-th version. An append commit keeps every
    * prior generation, so a pass there reclaims nothing; and with
    * retain=2 the snapshot before a compaction keeps the superseded
    * generations referenced until it falls out of retention one commit
    * later, where no manifest shrinks — the periodic sweep bounds that
    * leak at [[GcSweepEvery]] commits' worth of superseded dirs.
    *
    * A [[CellTable]] family that passes its `cellKey` reclaims by cell:
    * its `droppedGens` says the commit re-pointed or dropped any
    * manifest entry, and the pass also deletes the superseded partition
    * dirs of generations that other entries still reference. */
  def commitMeta(spark: SparkSession, statePath: String, v: Long,
      schema: MetaSchema, tables: Seq[(String, DataFrame)],
      droppedGens: Boolean, cellKey: Option[String] = None): Unit = {
    // a mistyped or retired spark.graft.* key fails before the commit
    graft.GraftConf.validate(spark)
    writeMetaParquet(schema.fold(tables), statePath, v)
    commit(spark, statePath, v)
    if (droppedGens || v % GcSweepEvery == 0)
      gcGenerations(spark, statePath, cellKey)
  }

  /** Garbage-collect generation directories (`gen-<v>` under
    * `statePath`) that no COMMITTED snapshot's manifest references —
    * the reclaim pass of [[commitMeta]]. The manifest table must
    * expose a BIGINT `gen` column.
    *
    * With a `cellKey` (the manifest's partition column, see
    * [[CellTable]]) the reclaim is per cell: a generation some snapshot
    * still references loses every `<cellKey>=<value>` dir that no
    * snapshot maps to it. Without it, a generation whose partitions were
    * all but one rewritten keeps every superseded copy on disk, so each
    * mutation that rewrites most partitions adds a full copy of the
    * table that no reader can reach.
    *
    * Fail-safe by construction: if ANY committed snapshot's manifest
    * cannot be read (transient storage error), the pass ABORTS without
    * deleting anything — defaulting an unreadable manifest to "refers
    * to nothing" would delete generations the current index still
    * needs. Snapshot dirs ABOVE the committed version are in-flight
    * builds and are skipped (their generations are `>= cur` and never
    * GC candidates anyway). Generations at or above the committed
    * version are never touched. */
  private[graft] def gcGenerations(spark: SparkSession, statePath: String,
      cellKey: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = generationsOnDisk(spark, statePath)
    val cur = currentVersion(spark, statePath).getOrElse(return)
    val snaps = versions(spark, statePath)
    // a listing that misses CURRENT's own snapshot is not to be trusted
    if (!snaps.contains(cur)) return
    // each committed manifest is read through the readers' own
    // [[metaTable]]: a stray per-table manifest dir is never consulted,
    // and a snapshot the readers refuse (no folded meta) aborts the pass
    // below. One union, one job for all of them.
    val manifest = MetaSchema("manifest" ->
      (cellKey.map(_ -> "string").toSeq :+ ("gen" -> "long")))
    val cell = cellKey.fold(lit(""))(col(_).cast("string"))
    val referenced: Map[Long, Set[String]] = Try(snaps
      .map(v => metaTable(spark, statePath, v, manifest, "manifest")
        .select(col("gen").cast("long"), cell))
      .reduce(_.unionByName(_)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
      .groupMap(_._1)(_._2).map { case (g, vs) => g -> vs.toSet })
      .getOrElse(return) // abort: never guess
    onDisk.filter(_ < cur).foreach { g =>
      referenced.get(g) match {
        case None => fs.delete(new Path(genDir(statePath, g)), true)
        case Some(live) => cellKey.foreach { k =>
          listPartitionDirs(spark, genDir(statePath, g), k)
            .filterNot(live)
            .foreach(c => fs.delete(new Path(s"${genDir(statePath, g)}/$k=$c"), true))
        }
      }
    }
  }

  /** The generations under `statePath` ([[genDir]] dirs), ascending;
    * empty when the root cannot be listed. */
  private[graft] def generationsOnDisk(spark: SparkSession,
      statePath: String): Seq[Long] = {
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Try(fs.listStatus(root).toSeq).getOrElse(Seq.empty)
      .map(_.getPath.getName).collect { case GenName(g) => g.toLong }
      .sorted
  }

  // Shared folded-metadata machinery (round 13): every persisted root
  // (the five indexes, DsirModel and the vector store) commits its
  // metadata-sized tables as ONE `meta` parquet whose rows carry a `t`
  // discriminator column — N per-table coalesce(1) writes were N
  // driver-side committer rounds per mutation. Each family declares its
  // tables once, as a MetaSchema, which owns the fold and every table's
  // column order; the layout check lives here, one edit site for all.

  /** Snapshot `v`'s folded `meta` parquet, carrying the columns `cols`.
    * "Folded" is decided by SCHEMA (`t` column present), not existence:
    * two families' pre-fold layouts also kept a table named `meta`
    * (DedupIndex's k/r scheme, DsirModel's buckets/totals row). A
    * snapshot without it, or whose meta lacks one of `cols`, is refused
    * ([[staleLayout]]). */
  private def foldedMeta(spark: SparkSession, statePath: String, v: Long,
      cols: Seq[String]): DataFrame = {
    val metaPath = new Path(tableDir(statePath, v, "meta"))
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option.when(fs.exists(metaPath))(readParquet(spark, metaPath.toString))
      .filter(_.columns.contains("t"))
      .filter(m => cols.forall(m.columns.contains))
      .getOrElse(throw staleLayout(statePath, s"a snap-$v without a " +
        s"folded meta of columns ${("t" +: cols).mkString(", ")}"))
  }

  /** The logical meta tables snapshot `v` holds: the folded meta's `t`
    * values. A table with zero rows (an empty tombstone table) is not
    * listed. */
  def metaTableNames(spark: SparkSession, statePath: String,
      v: Long): Set[String] = {
    import org.apache.spark.sql.functions.col
    foldedMeta(spark, statePath, v, Nil).select(col("t")).distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** The folded meta's columns at snapshot `v`, less `t`: the family's
    * [[MetaSchema.columns]], every one written even for an empty table. */
  def metaColumns(spark: SparkSession, statePath: String,
      v: Long): Set[String] =
    foldedMeta(spark, statePath, v, Nil).columns.toSet - "t"

  /** Read one logical meta table of snapshot `v` in `schema`'s column
    * order. */
  def metaTable(spark: SparkSession, statePath: String, v: Long,
      schema: MetaSchema, table: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = schema.cols(table)
    foldedMeta(spark, statePath, v, cols).where(col("t") === table)
      .select(cols.map(col): _*)
  }

  /** The rows of several metadata-sized logical tables of snapshot `v`
    * in ONE driver action: a mutation or query that needs its scheme,
    * manifest and watermarks reads them with one filtered collect of
    * the folded meta instead of one single-task job per table. Each
    * table's rows come in its `schema` column order, as [[metaTable]]
    * returns them; an absent table reads as zero rows (the folded
    * layout cannot tell it from an empty one). */
  def metaRows(spark: SparkSession, statePath: String, v: Long,
      schema: MetaSchema, tables: Seq[String]): Map[String, Seq[Row]] = {
    import org.apache.spark.sql.functions.col
    val cols = tables.flatMap(schema.cols).distinct
    val rows = foldedMeta(spark, statePath, v, cols)
      .where(col("t").isin(tables: _*))
      .select(col("t") +: cols.map(col): _*).collect()
    tables.map { t =>
      val at = schema.cols(t).map(c => 1 + cols.indexOf(c))
      t -> rows.toSeq.filter(_.getString(0) == t)
        .map(r => Row.fromSeq(at.map(r.get)))
    }.toMap
  }

  /** The one row of the single-row meta table `table` in `rows` (a
    * [[metaRows]] result): every writer at this version commits it, so
    * its absence marks a snapshot of an older layout. */
  private[graft] def oneRow(rows: Map[String, Seq[Row]], table: String,
      statePath: String): Row =
    rows(table).headOption.getOrElse(
      throw staleLayout(statePath, s"a snapshot without its `$table` row"))

  /** The retained-snapshot guard every time-travel read shares (one
    * edit site for retention semantics and the error wording instead of
    * a copy per index family). */
  def requireRetained(spark: SparkSession, statePath: String,
      v: Long): Unit = {
    val have = versions(spark, statePath)
    require(have.contains(v),
      s"snapshot $v not available at $statePath (retained: ${have.mkString(", ")})")
  }
}
