package graft.lifecycle

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.store.{EnsureStoreVectorStore, ParquetVectorStore}

/** Full teardown of a work dir — the reference's `uninstall.php:212-218`
  * per-site flow, surface for surface:
  *
  *   1. unschedule all recurring hooks (`:84-115`)  → the watermark file,
  *      the only persisted scheduler state here (a tick reads it to plan;
  *      no file, no pending schedule);
  *   2. optional best-effort remote purge through every enabled adapter
  *      (`:164-207`, gated on `wcvec_uninstall_remote_purge`) — each
  *      adapter wrapped in its own catch so one failing can't block the
  *      teardown;
  *   3. drop the sync table (`:117-125`, `wcvec_objects`) → `sync_state`;
  *   4. delete all options (`:127-139`) → the store dirs, which hold the
  *      engine's equivalent durable config+data state (the `CURRENT`
  *      pointer and its snapshots, `_STORE_ID`);
  *   5. delete the log dir (`:141-158`, uploads/wcvec JSONL) → `events`,
  *      best-effort, then remove the now-empty work dir itself (the
  *      reference's trailing `@rmdir`).
  *
  * Idempotent: uninstalling an absent or already-uninstalled work dir is a
  * no-op, and a fresh sync into the same path bootstraps from scratch
  * (spec-asserted).
  */
object Uninstall {

  /** The work-dir surfaces a full install can create, in teardown order. */
  private val Surfaces =
    Seq("last_scan_gmt", "sync_state", "store", "store_vs", "events")

  /** Tear down `work`. Returns the surfaces actually removed (a subset of
    * watermark/sync_state/store/store_vs/events — absent ones are
    * skipped, as `DROP TABLE IF EXISTS` / `delete_option` are no-ops). */
  def uninstall(spark: SparkSession, work: String,
      purgeRemote: Boolean = false, siteId: Int = 1): Seq[String] = {
    val root = new Path(work)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil

    // 2 — before any local state is dropped, while adapter config exists
    if (purgeRemote) {
      if (fs.exists(new Path(root, "store")))
        try new ParquetVectorStore(spark, s"$work/store").purgeSite(siteId)
        catch { case _: Exception => () } // best-effort (`:190-203`)
      if (fs.exists(new Path(root, "store_vs")))
        try new EnsureStoreVectorStore(spark, s"$work/store_vs").purgeSite(siteId)
        catch { case _: Exception => () }
    }

    // a Hadoop delete also removes a file's checksum sibling (the
    // `.last_scan_gmt.crc` a local cursor write leaves next to it)
    val removed = Surfaces.flatMap { name =>
      val p = new Path(root, name)
      if (fs.exists(p) && fs.delete(p, true))
        Some(if (name == "last_scan_gmt") "watermark" else name)
      else None
    }

    // the reference's trailing best-effort `@rmdir`: a non-recursive
    // delete removes only an empty dir
    Try(fs.delete(root, false))
    removed
  }
}
