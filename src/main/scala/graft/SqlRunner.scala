package graft

import graft.sources.Tables

/** SQL entry point: registers every testdata table under `dir` as a view,
  * then runs the given SQL and prints up to 20 rows. graft's native
  * functions (cosine_similarity, sorted_intersect_size, …) come with the
  * session's [[graft.expressions.GraftExtensions]].
  * Usage: SqlRunner <sfDir> <sql...>
  */
object SqlRunner {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SqlRunner <sfDir> <sql>")
    val dir = args(0)
    val sql = args.drop(1).mkString(" ")
    val spark = GraftSession.local(appName = "graft-sql")
    Tables.testTables.foreach { name =>
      try Tables.table(spark, dir, name).createOrReplaceTempView(name)
      catch { case _: Throwable => () } // tolerate absent tables
    }
    spark.sql(sql).show(20, truncate = false)
    spark.stop()
  }
}
