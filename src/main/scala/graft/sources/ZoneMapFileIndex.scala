package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** Zone-map data skipping as a real Catalyst [[FileIndex]] — the scan
  * itself prunes, instead of a helper API handing back a file list.
  * [[read]] is the one zone-map reader. Because the skipping lives in
  * the scan's file index:
  *
  *  - it composes with EVERYTHING that consumes the relation — any
  *    reader, any join strategy, partition pruning (the inner
  *    [[InMemoryFileIndex]] still evaluates partition filters first,
  *    zone pruning then shrinks each surviving directory's file list);
  *  - predicates reach it through the planner (`dataFilters` at
  *    `listFiles` time), so callers write plain `.filter(...)` — no
  *    side-channel filter API — and pruned files cost zero I/O, zero
  *    footer reads, zero tasks;
  *  - `Filter (...) +- FileScan parquet` keeps its normal shape: row
  *    groups within surviving files are still pruned by parquet
  *    pushdown, and the re-applied filter removes residual rows, so the
  *    index is an optimization only (the correctness contract of the
  *    manifest layer, now enforced structurally).
  *
  * Catalyst→zone translation handles the conjunctive range shapes
  * (`>=`, `>`, `<=`, `<`, `===`, literal on either side) on
  * integer/float/string columns; anything else is ignored —
  * conservative, never wrong. Strict bounds are relaxed to inclusive
  * (a file whose max equals the strict lower bound survives; row-level
  * filtering removes the residue). Files the manifest does not cover
  * are KEPT, mirroring the kind="none" rule.
  *
  * Ref: the reference's checkpoint/manifest reader
  * (athlete_scrape_glue.py:43-61) stops at directory granularity; this
  * is the file-granularity skipping a 100 TB table needs.
  */
final class ZoneMapFileIndex(spark: SparkSession, rootPath: Path,
                             manifest: DataFrame) extends FileIndex {

  private val inner = new InMemoryFileIndex(
    spark, Seq(rootPath), Map.empty[String, String], None,
    FileStatusCache.getOrCreate(spark))

  // the manifest is driver-sized by contract (one row per file×column);
  // collect once so every listFiles call — the planner asks repeatedly —
  // prunes without a Spark job
  private val manifestRows = manifest.collect()
  private val manifestFiles: Set[String] =
    manifestRows.map(_.getAs[String]("file")).toSet

  // manifest rows key by path RELATIVE to the table root (bare name for
  // the top-level files writeWithZoneMap harvests); listed files match
  // on the same relative form, so same-named part files in different
  // partition subdirectories can never alias one bounds row — a file in
  // a subdir the manifest doesn't cover relativizes to "dir/name", finds
  // no manifest entry, and is conservatively KEPT
  private val qualifiedRoot = rootPath.getFileSystem(
    spark.sparkContext.hadoopConfiguration).makeQualified(rootPath)
  private def relativeToRoot(p: Path): String =
    qualifiedRoot.toUri.relativize(p.toUri).getPath

  override def rootPaths: Seq[Path] = inner.rootPaths
  override def partitionSchema: StructType = inner.partitionSchema
  override def inputFiles: Array[String] = inner.inputFiles
  override def sizeInBytes: Long = inner.sizeInBytes
  override def refresh(): Unit = inner.refresh()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val zoneFilters = dataFilters.flatMap(conjuncts).flatMap(toZoneFilter)
    val base = inner.listFiles(partitionFilters, dataFilters)
    if (zoneFilters.isEmpty) base
    else {
      val kept = ZoneMaps.selectFromRows(manifestRows, zoneFilters).toSet
      base.map { pd =>
        pd.copy(files = pd.files.filter { f =>
          val name = relativeToRoot(f.getPath)
          !manifestFiles.contains(name) || kept.contains(name)
        })
      }
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** One catalyst conjunct → at most one zone range; unrecognized shapes
    * translate to None (kept files, never wrong answers).
    */
  private def toZoneFilter(e: Expression): Option[ZoneMaps.ZoneFilter] = e match {
    case GreaterThanOrEqual(a: Attribute, l: Literal) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, Some(v), None))
    case GreaterThan(a: Attribute, l: Literal) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, Some(v), None))
    case LessThanOrEqual(a: Attribute, l: Literal) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, None, Some(v)))
    case LessThan(a: Attribute, l: Literal) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, None, Some(v)))
    case EqualTo(a: Attribute, l: Literal) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, Some(v), Some(v)))
    // literal-first spellings mirror with the comparison flipped
    case GreaterThanOrEqual(l: Literal, a: Attribute) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, None, Some(v)))
    case GreaterThan(l: Literal, a: Attribute) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, None, Some(v)))
    case LessThanOrEqual(l: Literal, a: Attribute) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, Some(v), None))
    case LessThan(l: Literal, a: Attribute) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, Some(v), None))
    case EqualTo(l: Literal, a: Attribute) =>
      zoneValue(l).map(v => ZoneMaps.ZoneFilter(a.name, Some(v), Some(v)))
    case _ => None
  }

  /** Literal → the comparison space [[ZoneMaps.selectFiles]] expects:
    * numbers stay numbers, catalyst UTF8String renders to String; any
    * other type (date, decimal, timestamp — unscaled-stats families the
    * manifest records as "none" anyway) opts out of pruning.
    */
  private def zoneValue(l: Literal): Option[Any] = (l.value, l.dataType) match {
    case (null, _) => None
    case (v, ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType) => Some(v)
    case (v, StringType) => Some(v.toString)
    case _ => None
  }
}

object ZoneMapFileIndex {

  /** Open a zone-mapped directory ([[ZoneMaps.writeWithZoneMap]] output)
    * as a DataFrame whose SCAN skips files: plain `.filter(...)`
    * predicates flow to [[ZoneMapFileIndex.listFiles]] through the
    * planner, no helper API in the read path.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val manifest = Tables.readManifest(spark, path)
    val index = new ZoneMapFileIndex(spark, new Path(path), manifest)
    // schema from the data files (driver-side footer read, one-time);
    // partition columns (if the directory is hive-partitioned) live in
    // the index's partitionSchema, not the file schema
    val full = spark.read.parquet(path).schema
    val dataSchema = StructType(full.filterNot(f =>
      index.partitionSchema.fieldNames.contains(f.name)))
    val relation = HadoopFsRelation(index, index.partitionSchema, dataSchema,
      None, new ParquetFileFormat, Map.empty[String, String])(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
  }
}
