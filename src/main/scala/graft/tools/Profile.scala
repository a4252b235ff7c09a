package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only per-query runtime profiler (the r14 optimization round's
  * measurement harness): runs each named query like Bench does (noop
  * sink inside a cache scope), twice, and
  * prints for the WARM round every Spark job's wall time, the
  * driver-side gap preceding it, and per-stage shuffle read/write
  * bytes + task time — so a query's seconds are attributed to
  * executor compute vs shuffle vs driver-side stalls before anything
  * is changed. Usage:
  *   tools/run_main.sh graft.tools.Profile <sfDir> <query> [query...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, appName = "graft-profile")

    @volatile var verbose = false
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var lastEnd = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val gap = (System.nanoTime() - lastEnd) / 1e9
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, (System.nanoTime(), desc))
        if (verbose && gap > 0.1)
          println(f"  GAP  ${gap}%6.2fs before job ${js.jobId}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        lastEnd = System.nanoTime()
        Option(jobs.get(je.jobId)).foreach { case (t0, desc) =>
          val dur = (System.nanoTime() - t0) / 1e9
          if (verbose && dur > 0.1)
            println(f"  JOB  ${je.jobId}%4d ${dur}%6.2fs  ${desc.take(90)}")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for (s <- si.submissionTime; c <- si.completionTime) yield (c - s) / 1e3)
          .getOrElse(0.0)
        val m = si.taskMetrics
        if (verbose && dur > 0.1)
          println(f"  STG  ${si.stageId}%4d ${dur}%6.2fs tasks=${si.numTasks}%3d " +
            f"exec=${m.executorRunTime / 1e3}%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
            f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB  ${si.name.take(70)}")
      }
    })

    // warm like Bench: flagship once + this sf's parquet footers
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    Option(new java.io.File(sfDir).listFiles((_, n) => n.endsWith(".parquet")))
      .getOrElse(Array.empty).foreach { f =>
        try spark.read.parquet(f.getPath).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
      }

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      for (round <- 1 to 2) {
        verbose = round == 2
        if (verbose) println(s"===== $name (warm) =====")
        val t0 = System.nanoTime()
        graft.Caches.withScope {
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch { case t: Throwable => println(s"  ERROR ${t.getClass.getName}: ${t.getMessage}"); None }
        }
        val dur = (System.nanoTime() - t0) / 1e9
        if (verbose) println(f"===== $name total ${dur}%6.2fs =====")
      }
    }
    spark.stop()
  }
}
