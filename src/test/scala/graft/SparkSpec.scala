package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.AvailableNow

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Every regular file under `dir` (relative path -> SHA-256 of its
    * bytes); empty when `dir` does not exist. */
  def fileTree(dir: String): Map[String, String] = {
    val base = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(base)) Map.empty
    else {
      val walk = java.nio.file.Files.walk(base)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map { f =>
          val digest = java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(f))
          base.relativize(f).toString -> digest.map("%02x".format(_)).mkString
        }.toMap
      finally walk.close()
    }
  }

  /** Drain the stream `rows` in one AvailableNow pass under
    * `checkpoint`, handing each non-empty micro-batch to `perBatch`: an
    * operator's per-batch call is its streaming API. */
  def drain(rows: DataFrame, checkpoint: String)(
      perBatch: DataFrame => Unit): Unit =
    AvailableNow.foreachBatch(rows, checkpoint) { (batch, _) =>
      if (!batch.isEmpty) perBatch(batch)
    }.awaitTermination()

  /** `read` must refuse the root `root` of an old or unreadable layout:
    * an `IllegalStateException` naming `root` and saying to rebuild into
    * a fresh root, with every file under `root` and `alsoUntouched`
    * left as it was. */
  def assertRefused(root: String, alsoUntouched: String*)(
      read: => Any): IllegalStateException = {
    val dirs = root +: alsoUntouched
    val before = dirs.map(fileTree)
    val e = intercept[IllegalStateException](read)
    assert(e.getMessage.contains(root) && e.getMessage.contains("fresh root"),
      e.getMessage)
    assert(dirs.map(fileTree) == before, s"the refused read changed files: $dirs")
    e
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
