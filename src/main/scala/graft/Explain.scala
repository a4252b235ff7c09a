package graft

/** Plan inspection: prints the formatted physical plan of each declared
  * query (or the subset named in args) on the given SF dir — the tool used
  * to check pushdown/pruning/broadcast/codegen claims, not just assert them.
  * Each query builds inside its own [[Caches.withScope]], so the eager
  * caches of iteration loops are released before the next one.
  * Usage: Explain <sfDir> [queryName...]; for one plan per file,
  * `Explain <sfDir> <query> > <file>`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = args.drop(1).toSet
    val spark = GraftSession.local(appName = "graft-explain")
    SparkEntry.queries
      .filter { case (name, _) => wanted.isEmpty || wanted.contains(name) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try Caches.withScope(println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)))
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
