package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every entry point (Bench, Verify, Explain,
  * Profile, MakeScale, ScaleCurve, PipelineDemo, cli.Main) shares:
  * `local[N]` with N shuffle partitions, where N is `SPARK_GRAFT_CPUS`
  * or, when that is unset, the host's available processors; UTC
  * session time zone; the legacy nanos-as-long parquet read the events
  * table's TIMESTAMP(NANOS) column needs (a session-build-time conf);
  * UI off; log level WARN.
  *
  * `getOrCreate` returns an already-running session unchanged, so a
  * caller that may run inside another harness checks for one first
  * (see [[MakeScale]]). */
object LocalSession {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else the host's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(appName: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
