package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.pipeline.{CorpusCuration, OlympicFixtures, OlympicPipelineMain, OlympicSchemas}
import graft.sources.Tables

/** Spark keeps the classes it compiles for generated code in one
  * JVM-wide cache, `spark.sql.codegen.cache.maxEntries`, evicting the
  * least recently used. Its default of 100 is smaller than one pass of
  * the pipelines and iteration loops below, so at that size every class
  * is evicted before its plan runs again, and each repeat goes back
  * through Janino and the JIT. Run twice in one session, the second run
  * must compile nothing.
  *
  * The working set here is the Olympic pipeline over the fixture bronze
  * (written to parquet, as a run reads it), the curation funnel, and
  * q113, q139 and q233 at sf0.001. The counter is global to the JVM;
  * suites run one after another in one forked JVM, so nothing else
  * compiles while this spec reads it.
  */
class CodegenReuseSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def runWorkingSet(bronzeDir: String, outDir: String): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    Caches.withScope {
      val bronze = Seq("biodata", "results", "editions")
        .map(n => n -> Tables.table(spark, bronzeDir, n)).toMap
      val iso = Tables.csv(spark, s"$bronzeDir/iso_codes.csv", OlympicSchemas.isoCountryCodes)
      OlympicPipelineMain.run(bronze, iso).toSeq.sortBy(_._1).foreach { case (n, df) =>
        Tables.write(df, s"$outDir/$n", SaveMode.Overwrite)
      }
    }
    Caches.withScope {
      val docs = Tables.table(spark, dir, "documents")
      val (funnel, curated) = CorpusCuration.funnelWithCorpus(docs, "doc_id", "text")
      noop(funnel)
      noop(curated)
    }
    for (q <- Seq("q113_pagerank", "q139_kcore", "q233_train_eval"))
      Caches.withScope(noop(SparkEntry.queries(q)(spark, dir)))
  }

  test("a repeated working set of generated classes compiles nothing the second time") {
    val tmp = java.nio.file.Files.createTempDirectory("codegen-reuse").toString
    val bronzeDir = s"$tmp/bronze"
    Map("biodata" -> OlympicFixtures.bronzeBiodata(spark),
        "results" -> OlympicFixtures.bronzeResults(spark),
        "editions" -> OlympicFixtures.bronzeEditions(spark))
      .foreach { case (n, df) => Tables.write(df, s"$bronzeDir/$n.parquet") }
    OlympicFixtures.isoLookup(spark).write.option("header", "true").csv(s"$bronzeDir/iso_codes.csv")

    val c0 = compiled
    runWorkingSet(bronzeDir, s"$tmp/gold")
    val first = compiled - c0
    runWorkingSet(bronzeDir, s"$tmp/gold")
    val second = compiled - c0 - first
    info(s"classes compiled: $first in the first run, $second in the second")
    assert(second == 0, s"the second run compiled $second classes (the first compiled $first)")
  }
}
