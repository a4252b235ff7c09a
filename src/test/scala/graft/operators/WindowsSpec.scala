package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class WindowsSpec extends SparkSpec {

  test("boundedGlobal == bare global window on values") {
    import spark.implicits._
    val df = Seq(("b", 2L), ("a", 9L), ("c", 1L), ("a", 5L)).toDF("k", "v")
    val bare = df.withColumn("i",
      row_number().over(Window.orderBy(col("v"), col("k"))))
    val bounded = df.withColumn("i",
      row_number().over(Windows.boundedGlobal(col("v"), col("k"))))
    assert(rowsOf(bounded) == rowsOf(bare))
  }

  test("boundedGlobal survives optimization with a NON-empty partitionSpec (no WindowExec warning)") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val q = df.withColumn("i",
      row_number().over(Windows.boundedGlobal(col("v"))))
    q.collect() // finalize the adaptive plan before inspecting it
    // AQE wraps stages in QueryStageExec leaves — unwrap while walking
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(allNodes)
    }
    val finalPlan = q.queryExecution.executedPlan
    val windows = allNodes(finalPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected a WindowExec in:\n$finalPlan")
    for (w <- windows)
      assert(w.partitionSpec.nonEmpty,
        "the constant partition key was optimized away — WindowExec " +
          "would log 'No Partition Defined' per task again")
  }

  test("cumulative frames work over boundedGlobal (the unimax prefix-sum shape)") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L, 4L).toDF("v")
    val got = df.withColumn("p", sum(col("v")).over(
        Windows.boundedGlobal(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("v").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 3L), (3L, 6L), (4L, 10L)))
  }
}
