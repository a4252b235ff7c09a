package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ZoneMapsSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("zonemaps").toString

  /** Range-clustered write: repartitionByRange gives each file a tight
    * id range — the layout zone maps exist to exploit.
    */
  private def clustered(path: String) = {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, i.toDouble / 10, s"s${"%04d".format(i)}"))
      .toDF("id", "score", "name")
      .repartitionByRange(4, col("id"))
    ZoneMaps.writeWithZoneMap(df, path, Seq("id", "score", "name"))
  }

  test("manifest records typed per-file bounds that cover the data") {
    val path = tmp()
    val manifest = clustered(path)
    val rows = manifest.collect()
    assert(rows.map(_.getAs[String]("file")).distinct.length == 4)
    val idRows = rows.filter(_.getAs[String]("col") == "id")
    assert(idRows.forall(_.getAs[String]("kind") == "long"))
    assert(idRows.map(_.getAs[Long]("min_long")).min == 1L)
    assert(idRows.map(_.getAs[Long]("max_long")).max == 1000L)
    val scoreRows = rows.filter(_.getAs[String]("col") == "score")
    assert(scoreRows.forall(_.getAs[String]("kind") == "double"))
    val nameRows = rows.filter(_.getAs[String]("col") == "name")
    assert(nameRows.forall(_.getAs[String]("kind") == "string"))
  }

  test("selectFiles prunes disjoint files, keeps overlapping ones") {
    val path = tmp()
    val manifest = clustered(path)
    val all = ZoneMaps.selectFiles(manifest, Nil)
    assert(all.length == 4)
    // a narrow id range lands in one or two of the four range files
    val narrow = ZoneMaps.selectFiles(manifest,
      Seq(ZoneMaps.ZoneFilter("id", Some(100L), Some(120L))))
    assert(narrow.nonEmpty && narrow.length < all.length,
      s"expected pruning, kept $narrow of $all")
    // an impossible range prunes everything
    assert(ZoneMaps.selectFiles(manifest,
      Seq(ZoneMaps.ZoneFilter("id", Some(5000L), None))).isEmpty)
  }

  test("ZoneMapFileIndex.read returns exactly the predicate rows") {
    val path = tmp()
    clustered(path)
    val expected = spark.read.parquet(path)
      .filter(col("id") >= 250L && col("id") <= 300L)
    val pruned = ZoneMapFileIndex.read(spark, path)
      .filter(col("id") >= 250L && col("id") <= 300L)
    assert(rowsOf(pruned) == rowsOf(expected))
    assert(pruned.count() == 51)
  }

  test("multi-column filters intersect; string bounds prune too") {
    val path = tmp()
    val manifest = clustered(path)
    val kept = ZoneMaps.selectFiles(manifest, Seq(
      ZoneMaps.ZoneFilter("id", Some(1L), Some(500L)),
      ZoneMaps.ZoneFilter("name", Some("s0900"), None)))
    // id <= 500 keeps the lower files, name >= s0900 keeps the upper —
    // the intersection is empty or a single boundary file
    assert(kept.isEmpty || kept.length == 1, s"expected disjoint prune, kept $kept")
    val got = ZoneMapFileIndex.read(spark, path)
      .filter(col("score") >= 10.0 && col("score") <= 12.0)
    assert(got.count() == 21) // ids 100..120
  }

  test("z-order clustering + zone maps: BOTH dimensions prune files from one layout") {
    import spark.implicits._
    import graft.operators.Layout
    // 32x32 grid; z-order interleaving gives files locality in x AND y,
    // so zone maps prune on either column from the same clustered write
    val path = tmp()
    val df = (0L until 32L).flatMap(x => (0L until 32L).map(y => (x, y)))
      .toDF("x", "y")
      .withColumn("z", Layout.zValue2(col("x"), col("y"), bits = 8))
      .repartitionByRange(16, col("z"))
      .drop("z")
    val manifest = ZoneMaps.writeWithZoneMap(df, path, Seq("x", "y"))
    val all = ZoneMaps.selectFiles(manifest, Nil)
    val xPruned = ZoneMaps.selectFiles(manifest,
      Seq(ZoneMaps.ZoneFilter("x", Some(0L), Some(3L))))
    val yPruned = ZoneMaps.selectFiles(manifest,
      Seq(ZoneMaps.ZoneFilter("y", Some(28L), Some(31L))))
    assert(xPruned.length < all.length, s"x-range should prune: ${xPruned.length}/${all.length}")
    assert(yPruned.length < all.length, s"y-range should prune: ${yPruned.length}/${all.length}")
    // correctness through the pruned read on the second dimension
    val got = ZoneMapFileIndex.read(spark, path)
      .filter(col("y") >= 28L && col("y") <= 31L)
    assert(got.count() == 32 * 4)
  }

  test("hilbertBy clustering + zone maps: prunes both dimensions at least as hard as z-order") {
    import spark.implicits._
    import graft.operators.Layout
    // same 32x32 grid through the Hilbert walk — adjacency-guaranteed
    // ranges should give per-file envelopes no looser than Morton's
    val grid = (0L until 32L).flatMap(x => (0L until 32L).map(y => (x, y)))
      .toDF("x", "y")
    def prunedCounts(clustered: org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
      val path = tmp()
      val manifest = ZoneMaps.writeWithZoneMap(
        clustered.repartitionByRange(16, col("__k")).drop("__k"), path, Seq("x", "y"))
      val all = ZoneMaps.selectFiles(manifest, Nil).length
      val xp = ZoneMaps.selectFiles(manifest,
        Seq(ZoneMaps.ZoneFilter("x", Some(0L), Some(3L)))).length
      val yp = ZoneMaps.selectFiles(manifest,
        Seq(ZoneMaps.ZoneFilter("y", Some(28L), Some(31L)))).length
      (all, xp, yp)
    }
    val (hAll, hx, hy) = prunedCounts(grid.withColumn("__k",
      Layout.hilbertValue2(col("x"), col("y"), 8)))
    val (zAll, zx, zy) = prunedCounts(grid.withColumn("__k",
      Layout.zValue2(col("x"), col("y"), 8)))
    assert(hAll == zAll)
    assert(hx < hAll && hy < hAll, "hilbert layout must prune both dimensions")
    assert(hx <= zx && hy <= zy,
      s"hilbert should prune at least as hard: x $hx vs $zx, y $hy vs $zy")
  }

  test("an empty prune still returns the correct (empty) frame with the right schema") {
    val path = tmp()
    clustered(path)
    val got = ZoneMapFileIndex.read(spark, path)
      .filter(col("id") >= 9999L)
    assert(got.columns.toSeq == Seq("id", "score", "name"))
    assert(got.count() == 0)
  }

  /** The surviving file names of a scan, straight from its FileIndex —
    * the plan's `Location` listing, not a helper API's answer.
    */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, s"expected one file scan:\n${df.queryExecution.executedPlan}")
    scans.head.relation.location
      .listFiles(Nil, df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      })
      .flatMap(_.files).map(_.getPath.getName)
  }

  test("ZoneMapFileIndex: a plain .filter prunes the scan's file list inside the plan") {
    val path = tmp()
    clustered(path)
    val df = ZoneMapFileIndex.read(spark, path)
    val q = df.filter(col("id") >= 250L && col("id") <= 300L)
    // correctness first: indexed scan == plain scan, row for row
    val expected = spark.read.parquet(path)
      .filter(col("id") >= 250L && col("id") <= 300L)
    assert(rowsOf(q) == rowsOf(expected))
    assert(q.count() == 51)
    // the plan's own file listing holds ONLY surviving files: the
    // narrow range fits one of the four range-clustered files
    val unfiltered = scannedFiles(df)
    val pruned = scannedFiles(q)
    assert(unfiltered.length == 4)
    assert(pruned.length < unfiltered.length,
      s"scan must list fewer files under the predicate: $pruned")
    // runtime agrees with the listing: numFiles metric after execution
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = q.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }.head
    assert(scan.metrics("numFiles").value == pruned.length)
  }

  test("ZoneMapFileIndex: q54-shaped z-order predicate prunes both dimensions") {
    import spark.implicits._
    import graft.operators.Layout
    val path = tmp()
    val df = (0L until 32L).flatMap(x => (0L until 32L).map(y => (x, y)))
      .toDF("x", "y")
      .withColumn("z", Layout.zValue2(col("x"), col("y"), bits = 8))
      .repartitionByRange(16, col("z"))
      .drop("z")
    ZoneMaps.writeWithZoneMap(df, path, Seq("x", "y"))
    val indexed = ZoneMapFileIndex.read(spark, path)
    val all = scannedFiles(indexed).length
    for ((pred, n) <- Seq(
        (col("x") <= 3L, 32L * 4),
        (col("y") >= 28L, 32L * 4),
        (col("x") <= 7L && col("y") <= 7L, 8L * 8))) {
      val q = indexed.filter(pred)
      assert(q.count() == n, s"$pred")
      assert(scannedFiles(q).length < all,
        s"$pred must prune files: ${scannedFiles(q)} of $all")
    }
  }

  test("ZoneMapFileIndex: unknown predicate shapes and unmapped files are kept, never wrong") {
    val path = tmp()
    clustered(path)
    val indexed = ZoneMapFileIndex.read(spark, path)
    // a non-range predicate (endsWith) cannot use zones: full file list,
    // right answer
    val q = indexed.filter(col("name").endsWith("0042"))
    assert(q.count() == 1)
    assert(scannedFiles(q).length == 4)
    // a file missing from the manifest is conservatively scanned: write
    // an extra file beside the mapped ones, then prune on id
    import spark.implicits._
    Seq((5000L, 1.0, "extra")).toDF("id", "score", "name")
      .coalesce(1).write.mode("append").parquet(path)
    val again = ZoneMapFileIndex.read(spark, path)
    val hit = again.filter(col("id") >= 4000L)
    assert(hit.count() == 1, "the unmapped file's row must survive pruning")
  }

  /** A zone-mapped table whose id TAIL is a pile of small files: two
    * well-sized files cover 1..10000, six tiny appended files cover
    * 10001..11000 — the compaction-bait layout.
    */
  private def tailHeavy(path: String): Unit = {
    import spark.implicits._
    val big = (1L to 10000L).map(i => (i, i.toDouble / 10, s"s${"%05d".format(i)}"))
      .toDF("id", "score", "name").repartitionByRange(2, col("id"))
    ZoneMaps.writeWithZoneMap(big, path, Seq("id"))
    val tail = (10001L to 11000L).map(i => (i, i.toDouble / 10, s"s${"%05d".format(i)}"))
      .toDF("id", "score", "name").repartitionByRange(6, col("id"))
    // Append harvests the WHOLE directory again: manifest covers all 8
    ZoneMaps.writeWithZoneMap(tail, path, Seq("id"), SaveMode.Append)
  }

  test("compaction re-harvests the manifest: skipping survives the rewrite") {
    val path = tmp()
    tailHeavy(path)
    val before = spark.read.parquet(path).orderBy("id").collect().toSeq
    // threshold catches only the six tiny tail files (~2 KB vs ~60 KB)
    val (nIn, nOut) = Compaction.compactSmallFiles(spark, path,
      targetBytes = 1L << 20, smallThreshold = 20000L)
    assert(nIn == 6 && nOut == 1, s"expected 6 -> 1, got ($nIn, $nOut)")
    // the refreshed manifest keys exactly the CURRENT directory listing
    val onDisk = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    val mapped = spark.read.parquet(s"$path/_manifest")
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(mapped == onDisk, s"manifest $mapped vs disk $onDisk")
    // rows byte-identical through the indexed read
    val indexed = ZoneMapFileIndex.read(spark, path)
    assert(indexed.orderBy("id").collect().toSeq == before)
    // and the compacted file PRUNES: a low-id predicate must not scan it
    val q = indexed.filter(col("id") <= 2000L)
    assert(q.count() == 2000)
    val scanned = scannedFiles(q)
    assert(scanned.length == 1 && !scanned.head.startsWith("part-compacted-"),
      s"low-id scan must touch one pre-compaction file, got $scanned")
    // the compacted file is itself mapped and prunable the other way
    val hi = scannedFiles(indexed.filter(col("id") >= 10500L))
    assert(hi.length == 1 && hi.head.startsWith("part-compacted-"),
      s"high-id scan should hit just the compacted file, got $hi")
  }

  test("crash between rename and manifest refresh: stale manifest stays correct; next pass heals") {
    val path = tmp()
    tailHeavy(path)
    val manifestDir = s"$path/_manifest"
    val pre = spark.read.parquet(manifestDir)
    val preRows = pre.collect().toSeq
    val preSchema = pre.schema
    val before = spark.read.parquet(path).orderBy("id").collect().toSeq
    Compaction.compactSmallFiles(spark, path, 1L << 20, smallThreshold = 20000L)
    // simulate the crash window by restoring the PRE-compaction manifest:
    // it maps six deleted tail files and not the compacted output
    spark.createDataFrame(spark.sparkContext.parallelize(preRows), preSchema)
      .coalesce(1).write.mode("overwrite").parquet(manifestDir)
    val stale = ZoneMapFileIndex.read(spark, path)
    assert(stale.orderBy("id").collect().toSeq == before,
      "stale manifest must not lose rows (unmapped => kept; deleted => unlisted)")
    // the tail query scans the unmapped compacted file (kept, no
    // skipping): ids 10500..11000 inclusive
    assert(stale.filter(col("id") >= 10500L).count() == 501)
    // the next pass (nothing left to compact) still heals the manifest
    val (n2In, n2Out) = Compaction.compactSmallFiles(spark, path, 1L << 20, 20000L)
    assert((n2In, n2Out) == (0, 0))
    val healed = spark.read.parquet(manifestDir)
      .select("file").distinct().collect().map(_.getString(0)).toSet
    val onDisk = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(healed == onDisk, "refresh on the next pass restores skipping")
  }
}
