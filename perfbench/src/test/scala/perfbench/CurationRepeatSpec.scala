package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `curation_batches` is deterministic per seed: two runs of one seed on
  * fresh work roots keep the same number of documents at every stage
  * (read, exact/LSH dedup, semantic dedup, quality filter) of every
  * batch. */
class CurationRepeatSpec extends AnyFunSuite with BeforeAndAfterAll {

  // under the build's own target dir: the spec writes nothing outside it
  private val work = {
    val t = java.nio.file.Paths.get("target")
    Files.createDirectories(t)
    Files.createTempDirectory(t.toAbsolutePath, "repeat-").toString
  }
  private lazy val spark: SparkSession = Main.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  test("one seed gives the same survivor counts on every run") {
    val Batches = 2
    def run(i: Int): Seq[Seq[Long]] = {
      val w = new CurationBatches(spark, Env(s"$work/run$i", seed = 3, None))
      w.setup()
      (0 until Batches).foreach(c => w.write(c, traced = false, new Recorder))
      w.survivors.toSeq
    }
    val first = run(0)
    val second = run(1)
    assert(first.size == Batches)
    assert(first == second, s"survivor counts: $first, then $second")
  }
}
