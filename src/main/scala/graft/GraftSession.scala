package graft

import graft.expressions.GraftExtensions
import org.apache.spark.sql.SparkSession

/** Session factory with the settings every entry point (tests, bench,
  * verify, the dev tools) shares. Nothing below is local-only: AQE, UTC
  * session time, a shuffle-partition count sized to the parallelism, a
  * generated-class cache sized to graft's working set, and
  * [[graft.expressions.GraftExtensions]] (graft's SQL functions and its
  * optimizer rule) are what we'd set on a real cluster too, where
  * shuffle.partitions scales with executor cores instead.
  *
  * The class cache (`spark.sql.codegen.cache.maxEntries`) is JVM-wide and
  * evicts the least recently used class. Spark's default of 100 is
  * smaller than one pass of a graft pipeline: at that size every
  * repeated plan is evicted before it runs again and goes back through
  * Janino and then the JIT. Sized to hold a whole `Bench` pass, a
  * repeated plan in a long-lived session reuses its compiled code. A
  * single cold pass in a fresh JVM still compiles each class once.
  *
  * The core count defaults to `SPARK_GRAFT_CPUS` when it is set, else to
  * every processor the JVM sees; every main takes it from here.
  */
object GraftSession {
  private val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
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
      // Distinct classes compiled (CodegenMetrics), measured at sf0.1 and
      // perfbench's sizes on 4 cores: 3,353 for one JVM running a whole
      // graft.Bench pass (263 queries plus its warm-ups), 147 for a
      // perfbench etl_write pass, 118 for iter_loops. 4,000 holds the
      // Bench pass with room for uneven hashing across the cache's
      // segments. Cost: after that Bench pass, Metaspace held 230.2 MB
      // against 202.7 MB at the default of 100, i.e. 27.4 MB for 3,253
      // more cached classes, about 8.6 KB each; a full cache costs about
      // 33 MB more than the default.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
