package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** File-level zone maps: per-file min/max for chosen columns, harvested
  * from the parquet FOOTER statistics at write time (no second data
  * pass) into the `_manifest` side-table, plus a reader that prunes the
  * file list against range predicates BEFORE Spark ever opens a footer.
  *
  * This is the data-skipping layer partition pruning cannot provide:
  * Hive partitioning ([[Tables.writePartitioned]]) prunes directories on
  * low-cardinality columns; zone maps prune FILES on any column whose
  * values correlate with file placement. Combined with the z-order
  * layout ([[graft.operators.Layout]] — `repartitionByRange` on the
  * interleaved key), one clustered write gives multi-dimensional
  * skipping on a 100 TB table: the scan's file list shrinks at the
  * driver, so pruned files cost zero I/O, zero footer reads, zero tasks.
  *
  * Correctness contract: pruning is an OPTIMIZATION only — the caller's
  * predicate must still be applied to the pruned scan
  * ([[ZoneMapFileIndex.read]] keeps the planner's filter above it), and
  * a file with absent/unreadable statistics is conservatively KEPT,
  * never skipped. Bounds
  * compare in the column's physical space: integer types as long,
  * FLOAT/DOUBLE as double, UTF-8 BINARY as string — the three families
  * the manifest records; other types are ignored (never pruned on).
  */
object ZoneMaps {

  /** Inclusive range predicate over one zone column; `None` = unbounded. */
  final case class ZoneFilter(col: String, lo: Option[Any], hi: Option[Any])

  /** Parquet sink + zone-map manifest: one `_manifest` row per
    * (data file, zone column): (file, n_rows, bytes, col, kind,
    * min_long, max_long, min_double, max_double, min_str, max_str) —
    * typed min/max lanes, the unused lanes null. Stats come from the
    * footer's per-block column statistics merged per file.
    */
  def writeWithZoneMap(df: DataFrame, path: String, zoneCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite, files: Int = 0): DataFrame = {
    require(zoneCols.nonEmpty, "need at least one zone column")
    Tables.write(df, path, mode, files)
    writeManifest(df.sparkSession, path, zoneCols)
  }

  /** Harvest footer stats for the directory's CURRENT data files and
    * (over)write the `_manifest` — the shared tail of the initial write
    * and every later [[refreshManifest]].
    */
  private def writeManifest(spark: SparkSession, path: String,
                            zoneCols: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = Tables.parquetDataFiles(spark, path)._2.flatMap { st =>
      Tables.withFooter(conf, st.getPath) { reader =>
        val blocks = reader.getFooter.getBlocks
        val nRows = reader.getRecordCount
        zoneCols.map { zc =>
          val stats = scala.jdk.CollectionConverters.ListHasAsScala(blocks).asScala
            .flatMap { b =>
              scala.jdk.CollectionConverters.ListHasAsScala(b.getColumns).asScala
                .find(_.getPath.toDotString == zc)
            }
          fileRow(st.getPath.getName, nRows, st.getLen, zc, stats.toSeq)
        }
      }
    }
    import spark.implicits._
    val manifest = rows.toDF("file", "n_rows", "bytes", "col", "kind",
      "min_long", "max_long", "min_double", "max_double", "min_str", "max_str")
    manifest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/_manifest")
    manifest
  }

  /** Re-harvest the manifest against the directory's CURRENT files —
    * the maintenance hook for file-rewriting passes ([[Compaction]]
    * calls it after every pass). Zone columns come from the existing
    * manifest; returns None (and touches nothing) when the directory
    * has no zone-map manifest (including [[Tables.writeWithManifest]]'s
    * row-count flavor, which has no `col` column).
    *
    * Self-healing by construction: any crash that leaves the manifest
    * stale is still CORRECT under the conservative read rules —
    * rewritten files are unmapped (kept, skipping degrades to zero on
    * them) and mapped-but-deleted files simply never appear in the
    * scan's listing — and the next refresh restores full skipping.
    */
  def refreshManifest(spark: SparkSession, path: String): Option[DataFrame] = {
    val manifestPath = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifestPath)) return None
    val existing = Tables.readManifest(spark, path)
    if (!existing.columns.contains("col")) return None
    val zoneCols = existing.select("col").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (zoneCols.isEmpty) return None
    Some(writeManifest(spark, path, zoneCols))
  }

  private type Row11 = (String, Long, Long, String, String, Option[Long],
    Option[Long], Option[Double], Option[Double], Option[String], Option[String])

  /** Merge a file's per-block statistics for one column into a manifest
    * row. Any block with unusable statistics poisons the file's bounds
    * (kind = "none" → conservatively never pruned).
    */
  private def fileRow(file: String, nRows: Long, bytes: Long, zc: String,
      chunks: Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]): Row11 = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val none: Row11 = (file, nRows, bytes, zc, "none",
      None, None, None, None, None, None)
    if (chunks.isEmpty) return none
    val usable = chunks.forall { c =>
      val s = c.getStatistics
      s != null && !s.isEmpty && s.hasNonNullValue
    }
    if (!usable) return none
    // the LOGICAL type gates pruning, not just the physical one: DECIMAL,
    // DATE and TIMESTAMP ride on INT32/INT64 with UNSCALED statistics —
    // comparing a caller's 3.5 against an unscaled 350 would wrongly
    // prune files and silently lose rows. Only plain integers, floats
    // and UTF-8 strings carry comparable bounds; everything else is
    // recorded as "none" (kept, never pruned on).
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val annotation = chunks.head.getPrimitiveType.getLogicalTypeAnnotation
    val plainInt = annotation == null ||
      (annotation match {
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
        case _ => false
      })
    chunks.head.getPrimitiveType.getPrimitiveTypeName match {
      case INT64 | INT32 if plainInt =>
        val mins = chunks.map(_.getStatistics.genericGetMin.asInstanceOf[Number].longValue)
        val maxs = chunks.map(_.getStatistics.genericGetMax.asInstanceOf[Number].longValue)
        (file, nRows, bytes, zc, "long",
          Some(mins.min), Some(maxs.max), None, None, None, None)
      case DOUBLE | FLOAT =>
        val mins = chunks.map(_.getStatistics.genericGetMin.asInstanceOf[Number].doubleValue)
        val maxs = chunks.map(_.getStatistics.genericGetMax.asInstanceOf[Number].doubleValue)
        (file, nRows, bytes, zc, "double",
          None, None, Some(mins.min), Some(maxs.max), None, None)
      case BINARY
        if annotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        // Parquet string stats order by unsigned UTF-8 bytes; selectFiles
        // compares with Java String order (UTF-16 code units). The two
        // agree only on ASCII — for supplementary-plane text (emoji,
        // common in scraped corpora) they diverge, and a diverging bound
        // could prune a file that actually matches. So a non-ASCII bound
        // demotes the file to kind="none": conservatively kept, never
        // skipped — the contract is enforced here, not just documented.
        def utf8(b: Any) = b.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
        val mins = chunks.map(c => utf8(c.getStatistics.genericGetMin))
        val maxs = chunks.map(c => utf8(c.getStatistics.genericGetMax))
        val asciiOnly = (mins ++ maxs).forall(_.forall(_ < 0x80))
        if (!asciiOnly) none
        else (file, nRows, bytes, zc, "string",
          None, None, None, None, Some(mins.min), Some(maxs.max))
      case _ => none
    }
  }

  /** The files a set of range filters cannot rule out — the pruning
    * decision, exposed for tests and for callers composing their own
    * reads. A file survives unless SOME filter's range is provably
    * disjoint from the file's [min, max] on that column; files with
    * kind "none" (absent stats) always survive.
    */
  def selectFiles(manifest: DataFrame, filters: Seq[ZoneFilter]): Seq[String] =
    // one collect serves both the file universe and the bounds lookup —
    // the manifest is tiny, but two Spark jobs per read would double the
    // planning overhead this layer exists to remove
    selectFromRows(manifest.collect(), filters)

  /** The pruning decision over pre-collected manifest rows — the form a
    * caller holding the manifest driver-side ([[ZoneMapFileIndex]], which
    * answers repeated planner `listFiles` calls) uses so no Spark job
    * runs per decision.
    */
  private[sources] def selectFromRows(rows: Array[org.apache.spark.sql.Row],
                                      filters: Seq[ZoneFilter]): Seq[String] = {
    val all = rows.map(_.getAs[String]("file")).distinct.toSeq
    if (filters.isEmpty) return all.sorted
    val byFileCol = rows.map { r =>
      ((r.getAs[String]("file"), r.getAs[String]("col")), r)
    }.toMap
    // a duplicated (file, col) key would silently keep one row's bounds
    // and could wrongly prune against the other's — fail loudly instead
    // (can't happen for writeWithZoneMap manifests, whose file keys are
    // a directory listing; this guards hand-built or merged manifests)
    require(byFileCol.size == rows.length,
      s"zone-map manifest has duplicate (file, col) rows: " +
        s"${rows.length} rows, ${byFileCol.size} distinct keys")
    all.filter { f =>
      filters.forall { flt =>
        byFileCol.get((f, flt.col)).forall { r =>
          r.getAs[String]("kind") match {
            case "long" =>
              val (mn, mx) = (r.getAs[Long]("min_long"), r.getAs[Long]("max_long"))
              flt.lo.forall(v => mx >= toLong(v)) && flt.hi.forall(v => mn <= toLong(v))
            case "double" =>
              val (mn, mx) = (r.getAs[Double]("min_double"), r.getAs[Double]("max_double"))
              flt.lo.forall(v => mx >= toDouble(v)) && flt.hi.forall(v => mn <= toDouble(v))
            case "string" =>
              val (mn, mx) = (r.getAs[String]("min_str"), r.getAs[String]("max_str"))
              flt.lo.forall(v => mx >= v.toString) && flt.hi.forall(v => mn <= v.toString)
            case _ => true // no stats — keep
          }
        }
      }
    }.sorted
  }

  private def toLong(v: Any): Long = v match {
    case n: Number => n.longValue
    case other => other.toString.toLong
  }
  private def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue
    case other => other.toString.toDouble
  }
}
