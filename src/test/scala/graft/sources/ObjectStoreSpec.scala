package graft.sources

import graft.SparkSpec

/** The sandbox has no hadoop-aws jar and no S3 endpoint, so these assert
  * the configuration CONTRACT (the exact keys the reference's MinIO /
  * LocalStack layouts require, athlete_scrape_glue.py:55-61) rather than
  * a live s3a:// round-trip. Tables itself is scheme-agnostic, so conf
  * application is the entire engine-side surface.
  */
class ObjectStoreSpec extends SparkSpec {

  test("s3aConfs covers the reference's MinIO/LocalStack key set") {
    val c = ObjectStore.s3aConfs(ObjectStore.S3Conf(
      endpoint = Some("http://localstack:4566"),
      accessKey = Some("test"), secretKey = Some("test")))
    assert(c("fs.s3a.endpoint") == "http://localstack:4566")
    assert(c("fs.s3a.access.key") == "test")
    assert(c("fs.s3a.secret.key") == "test")
    assert(c("fs.s3a.path.style.access") == "true")
    assert(c("fs.s3a.impl") == "org.apache.hadoop.fs.s3a.S3AFileSystem")
  }

  test("real-AWS shape omits endpoint and credentials (SDK default chain)") {
    val c = ObjectStore.s3aConfs(ObjectStore.S3Conf(pathStyleAccess = false))
    assert(!c.contains("fs.s3a.endpoint") && !c.contains("fs.s3a.access.key"))
    assert(c("fs.s3a.path.style.access") == "false")
  }

  test("committerConfs selects a zero-rename commit protocol") {
    val c = ObjectStore.committerConfs()
    assert(c("fs.s3a.committer.name") == "magic")
    assert(c("spark.sql.sources.commitProtocolClass")
      .contains("PathOutputCommitProtocol"))
    assert(c("spark.sql.parquet.output.committer.class")
      .contains("BindingParquetOutputCommitter"))
  }

  test("bronze→gold round-trips on a NON-default FileSystem scheme (graftstore://)") {
    import graft.pipeline.{OlympicFixtures, OlympicPipelineMain}
    ObjectStore.configureLocalEmulator(spark)
    val base = "graftstore:" +
      java.nio.file.Files.createTempDirectory("graftstore").toString
    // bronze lands on the alternate scheme through the ordinary sink —
    // committer staging dirs + job-commit renames all run on our FS
    Map("biodata" -> OlympicFixtures.bronzeBiodata(spark),
        "results" -> OlympicFixtures.bronzeResults(spark),
        "editions" -> OlympicFixtures.bronzeEditions(spark))
      .foreach { case (n, df) => Tables.write(df, s"$base/bronze/$n.parquet") }
    // the pipeline reads bronze FROM the scheme and its gold lands on it;
    // run's shared silver cache lives until the scope closes
    val bronze = Seq("biodata", "results", "editions")
      .map(n => n -> Tables.table(spark, s"$base/bronze", n)).toMap
    val outNames = graft.Caches.withScope {
      val out = OlympicPipelineMain.run(bronze, OlympicFixtures.isoLookup(spark))
      out.foreach { case (n, df) => Tables.write(df, s"$base/gold/$n") }
      // all five gold tables round-trip row-identical
      val goldNames = out.keys.filterNot(_.startsWith("failure_cases")).toSeq.sorted
      assert(goldNames.size == 5, s"expected five gold tables, got $goldNames")
      goldNames.foreach { n =>
        val back = spark.read.parquet(s"$base/gold/$n")
        assert(back.inputFiles.nonEmpty && back.inputFiles.forall(_.startsWith("graftstore:")),
          s"$n must be read from the alternate scheme: ${back.inputFiles.toSeq}")
        assert(rowsOf(back) == rowsOf(out(n)), s"gold table $n drifted through $base")
      }
      out.keySet
    }
    // the scheme is an illusion over local disk: the committer's output
    // really moved from staging into the final directory
    val goldDir = new java.io.File(base.stripPrefix("graftstore:"), "gold")
    assert(goldDir.isDirectory && goldDir.list().toSet == outNames)
  }

  test("configure routes hadoop keys and spark confs to the right layers") {
    val sqlKeys = Seq("spark.sql.sources.commitProtocolClass",
      "spark.sql.parquet.output.committer.class")
    val prevSql = sqlKeys.map(k => k -> spark.conf.getOption(k))
    val hc = spark.sparkContext.hadoopConfiguration
    val hadoopKeys = Seq("fs.s3a.endpoint", "fs.s3a.access.key", "fs.s3a.secret.key",
      "fs.s3a.path.style.access", "fs.s3a.impl",
      "fs.s3a.committer.name", "fs.s3a.committer.magic.enabled")
    val prevHadoop = hadoopKeys.map(k => k -> Option(hc.get(k)))
    try {
      ObjectStore.configure(spark, ObjectStore.S3Conf(
        endpoint = Some("http://minio:9000"),
        accessKey = Some("accesskey"), secretKey = Some("secretkey")))
      assert(hc.get("fs.s3a.endpoint") == "http://minio:9000")
      assert(hc.get("fs.s3a.committer.name") == "magic")
      assert(hc.get("fs.s3a.committer.magic.enabled") == "true")
      // spark-hadoop-cloud is NOT in this sandbox: the class-valued SQL
      // confs must be skipped (Spark validates them eagerly), not crash
      assert(spark.conf.getOption("spark.sql.sources.commitProtocolClass")
        != Some("org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"))
    } finally {
      // the shared session writes LOCAL parquet in other suites — leaving a
      // cloud commit protocol set would break them (class not on classpath)
      prevSql.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      prevHadoop.foreach { case (k, v) =>
        v.fold(hc.unset(k))(hc.set(k, _)) }
    }
  }

  test("layout maintenance on graftstore://: zone-map write → compaction → refreshed manifest still prunes") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    ObjectStore.configureLocalEmulator(spark)
    val path = "graftstore:" +
      java.nio.file.Files.createTempDirectory("graftstore_zm").toString + "/t"
    // one big range-clustered head + six tiny tail files: the compaction
    // target shape, with id-disjoint files so zone maps can prune
    val head = (1L to 10000L).map(i => (i, i.toDouble / 10))
      .toDF("id", "score").repartitionByRange(2, col("id"))
    ZoneMaps.writeWithZoneMap(head, path, Seq("id"))
    val tail = (10001L to 10600L).map(i => (i, i.toDouble / 10))
      .toDF("id", "score").repartitionByRange(6, col("id"))
    ZoneMaps.writeWithZoneMap(tail, path, Seq("id"), SaveMode.Append)
    val before = spark.read.parquet(path).orderBy("id").collect().toSeq

    // compaction's staging renames, trash-dir commit protocol, and the
    // manifest re-harvest all run on the NON-default scheme — the rename/
    // listing semantics that differ on real object stores
    val (nIn, nOut) = Compaction.compactSmallFiles(spark, path,
      targetBytes = 1L << 20, smallThreshold = 20000L)
    assert(nIn == 6 && nOut == 1, s"expected 6 -> 1 on graftstore://, got ($nIn, $nOut)")

    // the refreshed manifest keys exactly the CURRENT scheme-side listing
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val mapped = spark.read.parquet(s"$path/_manifest")
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(mapped == onDisk, s"manifest $mapped vs graftstore listing $onDisk")

    // rows identical through the indexed read, and pruning still works
    val indexed = ZoneMapFileIndex.read(spark, path)
    assert(indexed.inputFiles.forall(_.startsWith("graftstore:")),
      "indexed read must resolve through the alternate scheme")
    assert(indexed.orderBy("id").collect().toSeq == before)
    val q = indexed.filter(col("id") >= 10050L)
    assert(q.count() == 551)
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.length == 1)
    val scanned = scans.head.relation.location
      .listFiles(Nil, q.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition })
      .flatMap(_.files).map(_.getPath.getName)
    assert(scanned.length == 1 && scanned.head.startsWith("part-compacted-"),
      s"high-id scan must prune to just the compacted file, got $scanned")
  }
}
