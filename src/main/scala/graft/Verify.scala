package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // dev loop (same contract as Bench's SPARK_GRAFT_BENCH_ONLY): restrict
    // the dump to a comma-separated substring match; the driver sets no
    // env var and always gets the full dump + full oracle map
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    // a failed query must leave a RECORD, not a silent hole: a missing
    // dump dir reads as "not declared" to any tooling that doesn't diff
    // against the full query manifest (the round-7 artifact read as
    // 99/99 green with 10 queries erroring). errors.json below is the
    // durable per-query failure map, same idea as Bench's errors field.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      // per-query cache scope: operator-internal persisted intermediates
      // (class tables) release after each query, so ~50 queries in one
      // session don't accumulate cached blocks
      // progress marker on stderr: interleaves with log4j warnings, so
      // a warning in the stream attributes to the query that logged it
      System.err.println(s"[verify] running $name")
      Caches.withScope {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures(name) = e.getClass.getSimpleName
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // always written (empty object when clean) so "no errors.json" can
    // never be confused with "errors.json not produced by this version"
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} of ${selected.size} queries failed: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
