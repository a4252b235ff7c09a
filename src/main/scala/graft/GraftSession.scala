package graft

import graft.expressions.GraftExtensions
import org.apache.spark.sql.SparkSession

/** Session factory with the settings every entry point (tests, bench,
  * verify, the dev tools) shares. Nothing below is local-only: AQE, UTC
  * session time, a shuffle-partition count sized to the parallelism, and
  * [[graft.expressions.GraftExtensions]] (graft's SQL functions and its
  * optimizer rule) are what we'd set on a real cluster too, where
  * shuffle.partitions scales with executor cores instead.
  */
object GraftSession {
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is parquet TIMESTAMP(NANOS) which vanilla Spark
      // rejects; read as Long (ns since epoch) and normalize via
      // Tables.withEventTime where a real timestamp is needed.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
