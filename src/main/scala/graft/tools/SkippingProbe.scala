package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.sources.{Tables, ZoneMaps}

/** Empirical data-skipping measurement at scale (SURVEY §9.7): writes
  * the given lineitem table twice — range-clustered with a zone-map
  * manifest, and unsorted with a parquet bloom filter on the
  * high-cardinality key — then measures what each mechanism actually
  * skips for a selective probe:
  *
  *   - zone maps: files and bytes REMOVED from the scan's file list at
  *     the driver (zero I/O, zero tasks for pruned files);
  *   - bloom: rows emitted by the parquet scan for an absent-key
  *     equality probe (row groups skipped by footer metadata) vs the
  *     full row count.
  *
  * Usage: runMain graft.tools.SkippingProbe <sfDir> [files]
  * Prints ONE JSON line. Run against a [[ScaleUp]] output for the 10×
  * numbers; the mechanism itself is pinned at fixture scale by
  * ZoneMapsSpec / ParquetSkippingSpec.
  */
object SkippingProbe {

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case s: FileSourceScanExec => s }
      .map(_.metrics("numOutputRows").value).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val files = if (args.length > 1) args(1).toInt else 40
    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, appName = "graft-skipping-probe")

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val total = li.count()

    // ---- zone maps over a range-clustered layout ----
    val zDir = s"/tmp/graft_skipping/zoned"
    ZoneMaps.writeWithZoneMap(
      li.repartitionByRange(files, col("l_orderkey")), zDir, Seq("l_orderkey"))
    val manifest = graft.sources.Tables.readManifest(spark, zDir)
      .select("file", "bytes").distinct().collect()
    val (allFiles, allBytes) = (manifest.length, manifest.map(_.getLong(1)).sum)
    // selective probe: a ~1% orderkey band in the middle of the domain
    val (loK, hiK) = {
      val q = li.stat.approxQuantile("l_orderkey", Array(0.495, 0.505), 0.001)
      (q(0).toLong, q(1).toLong)
    }
    val pruned = ZoneMaps.readPruned(spark, zDir,
      Seq(ZoneMaps.ZoneFilter("l_orderkey", Some(loK), Some(hiK))))
    val prunedRows = pruned.count()
    val keptFiles = pruned.inputFiles.length
    val keptBytes = manifest.filter(r => pruned.inputFiles.exists(_.endsWith(r.getString(0))))
      .map(_.getLong(1)).sum

    // ---- bloom filter on the high-cardinality key, unsorted layout ----
    val bDir = s"/tmp/graft_skipping/bloom"
    Tables.write(li.repartition(files), bDir, files = files,
      bloomFilterCols = Seq("l_partkey"))
    val absentKey = -1L // below the domain: stats alone could prune this...
    val maxPart = li.agg(max("l_partkey")).head().getLong(0)
    val absentInRange = { // ...so probe an ABSENT key inside [min,max]
      val present = spark.read.parquet(bDir).select("l_partkey").distinct()
        .as(spark.implicits.newLongEncoder).collect().toSet
      (1L to maxPart).find(k => !present.contains(k)).getOrElse(absentKey)
    }
    val bloomRows = scanRows(
      spark.read.parquet(bDir).filter(col("l_partkey") === lit(absentInRange)))
    val noBloomDir = s"/tmp/graft_skipping/nobloom"
    Tables.write(spark.read.parquet(bDir), noBloomDir, files = files)
    val noBloomRows = scanRows(
      spark.read.parquet(noBloomDir).filter(col("l_partkey") === lit(absentInRange)))

    println(s"""{"metric":"skipping","rows":$total,""" +
      s""""zone_files_total":$allFiles,"zone_files_kept":$keptFiles,""" +
      s""""zone_bytes_total":$allBytes,"zone_bytes_kept":$keptBytes,""" +
      s""""zone_rows_out":$prunedRows,""" +
      s""""bloom_scan_rows_absent_key":$bloomRows,""" +
      s""""nobloom_scan_rows_absent_key":$noBloomRows}""")
    spark.stop()
  }
}
