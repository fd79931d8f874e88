package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree invariants the engine's structure relies on, checked by
  * scanning `src/main/scala`: the kept entry points are the only
  * `main`s, every one of them builds its session through
  * [[LocalSession]], generation GC is reached only through the shared
  * commit tail ([[graft.streaming.StateCommit.commitMeta]]), the
  * sync path's and the validators' state checks go through Hadoop via
  * [[graft.streaming.StateCommit]] (one atomic small-file write, one
  * partition lister),
  * the tombstone format lives in [[graft.streaming.GenerationalTable]],
  * the cell-entries format in [[graft.streaming.CellTable]], the
  * folded-meta probe and generation paths live in StateCommit, the meta
  * readers keep no per-table path for old layouts, each family's folded
  * meta is declared once as a [[graft.streaming.MetaSchema]], and every
  * streaming query runs through [[graft.streaming.AvailableNow]].
  */
class SourceLayoutSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
      .toMap
    finally walk.close()
  }

  private def filesContaining(s: String): Set[String] =
    sources.collect { case (f, text) if text.contains(s) => f }.toSet

  test("exactly the eight kept entry points define def main(") {
    val Package = """(?m)^package\s+([\w.]+)""".r
    val Object = """(?m)^object\s+(\w+)""".r
    val mains = sources.toSeq.flatMap { case (_, text) =>
      val pkg = Package.findFirstMatchIn(text).map(_.group(1)).getOrElse("")
      """def main\(""".r.findAllMatchIn(text).map { m =>
        val obj = Object.findAllMatchIn(text.substring(0, m.start))
          .toSeq.lastOption.map(_.group(1)).getOrElse("?")
        s"$pkg.$obj"
      }
    }
    assert(mains.sorted == Seq("graft.Bench", "graft.Explain",
      "graft.MakeScale", "graft.PipelineDemo", "graft.Profile",
      "graft.ScaleCurve", "graft.Verify", "graft.cli.Main"))
  }

  test("SparkSession.builder() appears only in LocalSession") {
    assert(filesContaining("SparkSession.builder()") ==
      Set("graft/LocalSession.scala"))
  }

  test("StateCommit.gcGenerations is called only from inside StateCommit") {
    assert(filesContaining("gcGenerations(") ==
      Set("graft/streaming/StateCommit.scala"))
  }

  test("no file under graft/sync or graft/store names java.nio.file") {
    assert(filesContaining("java.nio.file").filter(f =>
      f.startsWith("graft/sync/") || f.startsWith("graft/store/")).isEmpty)
  }

  test("no file under graft/validate names java.nio.file") {
    assert(filesContaining("java.nio.file").filter(
      _.startsWith("graft/validate/")).isEmpty)
  }

  private def cliFiles: Set[String] = sources.keySet.filter(_.startsWith("graft/cli/"))

  /** The number of occurrences of `s` across the files under graft/cli. */
  private def cliCount(s: String): Int =
    cliFiles.toSeq.map(f => java.util.regex.Pattern.quote(s).r
      .findAllMatchIn(sources(f)).size).sum

  test("the cli checks state paths through Hadoop, not java.nio.file") {
    assert(cliFiles.contains("graft/cli/Main.scala"))
    assert(filesContaining("java.nio.file").intersect(cliFiles).isEmpty)
  }

  test("the cli's session and exit live only in Main's one wrapper") {
    val main = sources("graft/cli/Main.scala")
    val wrapper = main.substring(main.indexOf("def main("))
    for (s <- Seq("sys.exit(", "spark.stop()", "LocalSession(")) {
      assert(cliCount(s) == 1, s)
      assert(wrapper.contains(s), s)
    }
  }

  test("the cli declares its shared flags once and reads argv only in Cli.parse") {
    assert(cliCount("""Flag.required("root")""") == 1)
    assert(cliCount("testdata/sf0.001") == 1)
    assert(cliCount("args.indexOf(") == 0 && cliCount("args.contains(") == 0)
    // one sync-engine wiring, which localEngine and vsAdapter share
    assert(cliCount("new SyncEngine(") == 1)
  }

  test("ATOMIC_MOVE appears nowhere: cursor files go through StateCommit") {
    assert(filesContaining("ATOMIC_MOVE").isEmpty)
  }

  test("the partition-dir lister has one copy, in StateCommit") {
    assert(filesContaining("def listCellDirs").isEmpty)
    assert(filesContaining("def listPartitionDirs") ==
      Set("graft/streaming/StateCommit.scala"))
  }

  test("the tombstone column before_gen is spelled only in GenerationalTable") {
    assert(filesContaining("before_gen") ==
      Set("graft/streaming/GenerationalTable.scala"))
  }

  test("the folded-meta schema probe has one copy, in StateCommit") {
    assert(filesContaining(""".filter(_.columns.contains("t"))""") ==
      Set("graft/streaming/StateCommit.scala"))
  }

  test("metaTable and metaRows read the folded meta, never a per-table dir") {
    val text = sources("graft/streaming/StateCommit.scala")
    val readers = text.substring(text.indexOf("def metaTableNames("),
      text.indexOf("def oneRow("))
    assert(readers.contains("def metaTable(") && readers.contains("def metaRows("))
    assert(readers.contains("foldedMeta(") && !readers.contains("tableDir("),
      readers)
  }

  test("no main source keeps the assumeNoNulls knob") {
    assert(filesContaining("assumeNoNulls").isEmpty)
  }

  test("generation paths are built only by StateCommit.genDir") {
    assert(filesContaining("gen-$") == Set("graft/streaming/StateCommit.scala"))
  }

  private val cellTable = "graft/streaming/CellTable.scala"

  test("the cell-entries reader has one copy, in CellTable") {
    assert(filesContaining("readParquetBased(").subsetOf(Set(cellTable)))
    assert(filesContaining("\"basePath\"") == Set(cellTable))
    assert(filesContaining("def readCells").isEmpty)
    assert(filesContaining("def readBuckets").isEmpty)
  }

  test("the cell-entries generation writer has one copy, in CellTable") {
    // a parquet write partitioned by cell or bucket (a window
    // partitionBy("cell") is not a write, hence the `.parquet(` tail)
    val cellWrite = """partitionBy\("(cell|bucket)"\)\s*\.parquet\(""".r
    assert(sources.collect { case (f, text)
      if cellWrite.findFirstIn(text).isDefined => f }.toSet.subsetOf(Set(cellTable)))
    assert(filesContaining("def commitBuckets").isEmpty)
    assert(filesContaining("listPartitionDirs(") == Set(
      "graft/streaming/StateCommit.scala", cellTable, "graft/events/Events.scala"))
  }

  test("each family declares its folded meta once, as a MetaSchema") {
    val copies = Seq("MetaCols", "def metaCols(", "def metaTable(")
      .flatMap(filesContaining).filterNot(_.startsWith("graft/streaming/"))
    assert(copies.isEmpty, copies.toString)
    assert(filesContaining("foldMetaRows(").subsetOf(Set(
      "graft/streaming/StateCommit.scala", "graft/streaming/MetaSchema.scala")))
  }

  test("Trigger.AvailableNow appears only in the streaming runner") {
    assert(filesContaining("Trigger.AvailableNow") ==
      Set("graft/streaming/AvailableNow.scala"))
  }

  test("AvailableNow.foreachBatch is called only where a sink adds checkpoint work") {
    // an operator's per-batch call is its streaming API: only the
    // composed demo and the two sinks whose refusals need the
    // checkpoint (StreamingLex's build era, StreamingDsir's sweep pairing
    // and model pin) run a stream themselves
    assert(filesContaining("AvailableNow.foreachBatch(") == Set(
      "graft/PipelineDemo.scala", "graft/streaming/StreamingLex.scala",
      "graft/streaming/StreamingDsir.scala"))
  }

  test("LexIndex has one write core and IncrementalAgg no HLL sketches") {
    for (name <- Seq("ingestAs", "ingestBatch", "expectedVersion", "hll_sketch_agg"))
      assert(filesContaining(name).isEmpty, name)
  }

  test("neither ANN index finds a delete's cells with a left_semi join") {
    assert(filesContaining("left_semi").intersect(Set(
      "graft/operators/AnnIndex.scala", "graft/operators/AnnIndexPq.scala"))
      .isEmpty)
  }
}
