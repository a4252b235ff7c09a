package org.apache.spark.sql.classic

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

/** Minimal bridge into the classic API's private[sql] members (nothing
  * else in graft lives in Spark's namespace): the private[sql] half of
  * `graft.Caches`' lineage cut, frames over driver-built rows that carry
  * the same measured statistics, and the Column <-> Expression
  * conversions that let operators build graft's native expressions
  * directly.
  */
object GraftDatasetBridge {
  def column(e: Expression): org.apache.spark.sql.Column = ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): Expression = ExpressionUtils.expression(c)

  /** `df.localCheckpoint(eager = true)` with MEASURED statistics: the
    * checkpoint job's own row count × the schema's per-row size. The
    * stock checkpoint rewrites the origin plan's estimate instead, which
    * squares every round in a loop that joins its state to itself.
    */
  def localCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[Dataset[_]]
    val qe = ds.queryExecution
    val (rdd, rows) = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.toRdd.map(_.copy())
      rdd.localCheckpoint()
      (rdd, rdd.count())
    }
    val plan = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
      .copy()(ds.sparkSession, Some(measured(qe.analyzed.output, rows)), None)
    Dataset.ofRows(ds.sparkSession, plan)
  }

  /** A frame of `schema` over `rdd`, which holds exactly `rows` rows,
    * with the same measured statistics as [[localCheckpoint]]. A frame
    * built by `createDataFrame` from an RDD estimates Long.MaxValue
    * bytes and no row count, which keeps every downstream join from
    * broadcasting it.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession, schema: StructType,
             rdd: RDD[InternalRow], rows: Long): org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    Dataset.ofRows(session, LogicalRDD(output, rdd)(session, Some(measured(output, rows)), None))
  }

  private def measured(output: Seq[Attribute], rows: Long): Statistics =
    Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * rows, rowCount = Some(rows))

  /** Drop the blocks of the local checkpoint (eager or lazy) that `df`
    * is, up to projections; a no-op for any other frame. Deeper leaves
    * are not `df`'s own: they may back frames that are still live.
    * Goes through the context directly, because `RDD.unpersist` warns on
    * every local checkpoint, and here the release is the intent.
    */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit = {
    @scala.annotation.tailrec
    def root(plan: LogicalPlan): Option[RDD[_]] = plan match {
      case Project(_, child) => root(child)
      case r: LogicalRDD
          if r.rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]) => Some(r.rdd)
      case _ => None
    }
    root(df.queryExecution.logical).foreach(r => r.sparkContext.unpersistRDD(r.id, blocking = false))
  }
}
