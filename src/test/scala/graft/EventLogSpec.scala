package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.cli.{Cli, Main}
import graft.events.EventLog

/** K8 event-log semantics: append is date-partitioned, retention drops
  * only partitions past the horizon, CSV export caps rows
  * (reference `includes/class-events.php:18-47, 97-133, 166-189`).
  */
class EventLogSpec extends SparkSpec {

  import spark.implicits._

  private def mkRows(day: String, n: Int) =
    (1 to n).map(i => (s"$day-e$i", s"$day 12:00:0${i % 10}"))
      .toDF("event", "ts_s")
      .select(col("event"), col("ts_s").cast("timestamp").as("ts"))

  test("append partitions by day; prune drops only stale partitions") {
    val root = Files.createTempDirectory("graft-events").toString
    val log = new EventLog(spark, root)
    log.append(mkRows("2024-01-01", 3))
    log.append(mkRows("2024-01-05", 2))
    log.append(mkRows("2024-01-10", 4))
    assert(log.read().count() == 9)

    // retention horizon: today=2024-01-11, retain 7 days → cutoff 01-04:
    // only the 01-01 partition is stale
    val dropped = log.prune(java.time.LocalDate.parse("2024-01-11"), 7)
    assert(dropped == Seq("log_date=20240101"))
    assert(log.read().count() == 6)
    // second prune is a no-op (idempotent)
    assert(log.prune(java.time.LocalDate.parse("2024-01-11"), 7).isEmpty)
  }

  test("csv export caps at the configured limit, newest first") {
    val root = Files.createTempDirectory("graft-events").toString
    val log = new EventLog(spark, root)
    log.append(mkRows("2024-02-01", 5))
    val out = Files.createTempDirectory("graft-csv").toString + "/export"
    log.exportCsv(out, cap = 3)
    val rows = spark.read.option("header", "true").csv(out)
    assert(rows.count() == 3)
  }

  test("cli status lists the later of two sync passes first, in its real day partition") {
    val work = Files.createTempDirectory("graft-cli-status").toString
    // one verb run in this JVM on the shared session; its stdout
    def run(argv: String*): String = {
      val (verb, a) = Cli.parse(Main.verbs, argv).toOption.get
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(verb.body(a, () => spark))
      out.toString
    }
    val day = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
      .withZone(java.time.ZoneOffset.UTC)
    val from = day.format(java.time.Instant.now())
    run("sync", "--data", sfDir, "--work", work, "--limit", "3")
    run("sync", "--data", sfDir, "--work", work, "--limit", "6")
    val to = day.format(java.time.Instant.now())
    // the second pass skips the first pass's three unchanged products
    val events = run("status", "--work", work).linesIterator
      .filter(_.startsWith("  sync success")).toSeq
    assert(events.length == 2, events.toString)
    assert(!events.head.endsWith("skipped=0") && events(1).endsWith("skipped=0"),
      s"the earlier pass is listed first: $events")
    val partitions = new java.io.File(s"$work/events").listFiles()
      .map(_.getName).filter(_.startsWith("log_date=")).toSet
    assert(partitions.nonEmpty &&
      partitions.subsetOf(Set(s"log_date=$from", s"log_date=$to")), partitions)
  }
}
