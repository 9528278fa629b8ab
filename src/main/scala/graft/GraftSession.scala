package graft

import org.apache.spark.sql.SparkSession

/** The one definition of a graft session, shared by Bench, Verify,
  * Explain, ProfileJobs and the specs: local mode on `cores` cores
  * with as many shuffle partitions, UTC session time, ANSI off (hash
  * arithmetic and lenient casts rely on it), parquet nanosecond
  * timestamps read as longs, [[graft.plans.GraftExtensions]]
  * installed, no UI, and WARN logging once the session is up. */
object GraftSession {

  /** Local-mode cores: `SPARK_GRAFT_CPUS`, else every available
    * processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Gets or creates the session; `conf` adds caller-specific settings
    * (Bench's `spark.local.dir`) on top of the shared ones. */
  def local(cores: Int = cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
