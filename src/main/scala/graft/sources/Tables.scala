package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, input_file_name, lit, regexp_replace}
import org.apache.spark.sql.types.StructType

/** Readers/writers for the lakehouse layout (SURVEY.md §2.1, S1–S9).
  *
  * The reference reads bronze/silver/gold parquet + a header CSV lookup and
  * writes overwrite/append parquet with bounded file counts
  * (reference: athlete_scrape_glue.py:325-357, data_clean_glue.py:623-663,
  * columns_renaming_reordering_glue.py:140-147). Here those become thin,
  * schema-pinnable wrappers over `spark.read`/`df.write` — Catalyst handles
  * pushdown/pruning as long as we don't materialize in between.
  */
object Tables {

  /** Driver-provided TPC-H-ish test tables (TESTDATA.md). */
  val testTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** S1: parquet scan. `name` without extension, resolved under `dir`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Canonicalize the events table's time column, dispatching on the
    * PHYSICAL encoding the file actually carries — the driver's testdata
    * has shipped `ts` both as parquet TIMESTAMP(NANOS) (read as raw Long
    * ns under spark.sql.legacy.parquet.nanosAsLong) and as
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ / TIMESTAMP). Output
    * contract, regardless of input encoding:
    *   - `event_time`: TimestampType (µs precision, session TZ = UTC) for
    *     window/watermark operators;
    *   - `tsCol`: epoch-ns Long — every downstream operator
    *     (sessionCounts' session_start_ns, CDC versioning, rolling/
    *     interval second-bucketing) keeps one arithmetic-friendly shape.
    * Integer ops only — double division/multiplication would lose ±1µs at
    * epoch-ns magnitudes (2^60 > 2^53 double mantissa). NTZ→LTZ cast is
    * digit- and epoch-identity because every entry point pins the session
    * time zone to UTC (GraftSession.scala).
    */
  def withEventTime(events: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    events.schema(tsCol).dataType match {
      case LongType =>
        events.withColumn("event_time",
          timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampType | TimestampNTZType =>
        val et = col(tsCol).cast(TimestampType)
        events.withColumn("event_time", et)
          .withColumn(tsCol, unix_micros(et) * lit(1000L))
      case other =>
        throw new IllegalArgumentException(
          s"events.$tsCol: expected epoch-ns LONG or TIMESTAMP[_NTZ], got $other")
    }
  }

  /** S2: header CSV scan with explicit schema (never inferSchema at scale —
    * inference is a full extra pass over the data).
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-lines scan with a pinned schema (inference would cost a full
    * extra pass; same rule as CSV).
    */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Raw text scan: one row per line (`value: string`) — the ingest shape
    * for unstructured corpora before the text operators run.
    */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** JSON-lines sink — the interchange format LLM data releases actually
    * ship (one JSON object per line, splittable, greppable). Columnar
    * formats stay the internal layout; this is the export edge.
    */
  def writeJsonLines(df: DataFrame, path: String,
                     mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** ORC scan/sink — the second columnar format large estates actually
    * hold (Hive-era lakes); same vectorized reader + predicate pushdown
    * machinery as parquet, so every operator runs on it unchanged.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
               files: Int = 0): Unit = {
    val out = if (files > 0) df.coalesce(files) else df
    out.write.mode(mode).orc(path)
  }

  /** Parquet sink + dataset manifest: after the write, a `_manifest`
    * subdirectory (underscore prefix — invisible to parquet readers,
    * like `_SUCCESS`) records one row per data file: (file, n_rows,
    * bytes). The shard-accounting step a training pipeline needs to
    * hand a dataset to a loader — reproducible sampling weights, resume
    * bookkeeping, size budgeting — without re-listing the data.
    *
    * Metadata-only: byte sizes come from the filesystem listing and row
    * counts from each file's parquet FOOTER (the footer records the
    * exact count) — no second pass over the data just written, and no
    * URI-string joining that breaks off the local filesystem. The
    * driver-side footer loop is bounded by the file count (manifest-
    * sized by definition); parallelize it over a file Dataset if a
    * single sink ever holds millions of files.
    */
  def writeWithManifest(df: DataFrame, path: String,
                        mode: SaveMode = SaveMode.Overwrite, files: Int = 0): DataFrame = {
    write(df, path, mode, files)
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = parquetDataFiles(spark, path)._2.map { st =>
      (st.getPath.getName, withFooter(conf, st.getPath)(_.getRecordCount), st.getLen)
    }
    import spark.implicits._
    val manifest = entries.toDF("file", "n_rows", "bytes")
    manifest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/_manifest")
    manifest
  }

  /** Driver-side listing of a parquet directory's data files — the one
    * shared "list *.parquet of a table dir" idiom behind the manifest,
    * zone-map and compaction maintenance paths (three hand-rolled copies
    * of it drifted before this helper). Manifest-sized by definition.
    */
  private[sources] def parquetDataFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.hadoop.fs.FileSystem, Seq[org.apache.hadoop.fs.FileStatus]) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")))
  }

  /** Read a table's `_manifest` side-table by its part-FILE paths.
    * Passing the directory itself to the reader makes `DataSource`
    * warn "All paths were ignored" on every open: the dir's
    * underscore-prefixed NAME is hidden by the reader's own convention
    * (which is exactly what keeps data scans of the parent from
    * swallowing it) even though its contents read fine. Listing the
    * part files and passing them explicitly reads the same bytes
    * warning-free.
    */
  def readManifest(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    val (_, parts) = parquetDataFiles(spark, s"$path/_manifest")
    require(parts.nonEmpty, s"no manifest part files under $path/_manifest")
    spark.read.parquet(parts.map(_.getPath.toString): _*)
  }

  /** Open a parquet footer, hand it to `f`, close it even on throw. */
  private[sources] def withFooter[T](conf: org.apache.hadoop.conf.Configuration,
      path: org.apache.hadoop.fs.Path)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    try f(reader) finally reader.close()
  }

  /** Parquet-native footer skipping options: a bloom filter per listed
    * join/lookup-key column (`parquet.bloom.filter.enabled#col`). At
    * 100 TB this is the FIRST line of defense, before any custom
    * FileIndex: an equality probe for a key a row group doesn't hold is
    * answered by the footer-adjacent bloom (~1 MB default) with zero
    * data-page I/O — the complement to min/max stats (which can't prune
    * a value INSIDE a populated range) and dictionary filtering (which
    * parquet abandons once a column's dictionary page overflows, i.e.
    * exactly on the high-cardinality keys a lookup hits). Column
    * indexes (page-level min/max) are on by default in parquet-mr and
    * need no option. ParquetSkippingSpec pins both the written footer
    * metadata and the read-side row-group skip.
    */
  private def withBloomOptions(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
                               bloomFilterCols: Seq[String])
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    bloomFilterCols.foldLeft(w)((acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true"))

  /** S6/S7: parquet sink with bounded output file count. `files <= 0` keeps
    * the natural partitioning (the right default at 100 TB — coalesce(1)
    * serializes the write through one task). `bloomFilterCols` adds a
    * parquet bloom filter per listed column (see [[withBloomOptions]]).
    */
  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite, files: Int = 0,
            bloomFilterCols: Seq[String] = Nil): Unit = {
    val out = if (files > 0) df.coalesce(files) else df
    withBloomOptions(out.write.mode(mode), bloomFilterCols).parquet(path)
  }

  /** S8: error side-channel sink — same sink, conventional path suffix. */
  def writeErrors(df: DataFrame, basePath: String): Unit =
    write(df, s"$basePath/_errors", SaveMode.Append)

  /** Hive-style partitioned parquet write — the 100 TB layout primitive:
    * queries filtering on `partitionCols` prune whole directories at plan
    * time (PartitionFilters in the scan, zero I/O for pruned values).
    * Choose low-cardinality, frequently-filtered columns; high-cardinality
    * partition columns create a small-file explosion instead.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite,
                       bloomFilterCols: Seq[String] = Nil): Unit =
    withBloomOptions(df.write.mode(mode), bloomFilterCols)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted managed table — co-locates join/agg keys so
    * repeated joins on `bucketCols` skip the shuffle entirely (both sides
    * bucketed the same way ⇒ SortMergeJoin with no Exchange). Bucketing
    * requires the table catalog (saveAsTable), not a bare path.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, mode: SaveMode = SaveMode.Overwrite,
                    bloomFilterCols: Seq[String] = Nil): Unit =
    withBloomOptions(df.write.mode(mode), bloomFilterCols)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** S9/J5/C8: idempotent resume — rows of `all` whose `keyCol` has not been
    * seen in `done`. Left-anti join instead of the reference's driver-side
    * set-diff (athlete_scrape.py:244-246) so it stays distributed.
    */
  def remaining(all: DataFrame, done: DataFrame, keyCol: String): DataFrame =
    all.join(done.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")

  /** S9 checkpoint discovery: the entry under `dir` with the greatest
    * trailing integer in its name (reference get_latest_checkpoint,
    * athlete_scrape.py:61-95 — whose `if latest:` treats checkpoint 0 as
    * missing, SURVEY §2.13.9; comparing on Option(None < Some(0)) fixes
    * that here). Hadoop FS listing, so it works on any supported
    * filesystem, not just local paths.
    */
  def latestCheckpoint(spark: SparkSession, dir: String): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return None
    val suffix = "(\\d+)$".r
    fs.listStatus(path).toSeq
      .map(_.getPath)
      .flatMap { p =>
        suffix.findFirstIn(p.getName.stripSuffix(".parquet")).map(n => (n.toLong, p.toString))
      }
      .sortBy(_._1)
      .lastOption
      .map(_._2)
  }
}
