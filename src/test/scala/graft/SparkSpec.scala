package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs — one JVM-wide SparkSession (getOrCreate)
  * so the suite doesn't pay session startup per spec class.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  import org.apache.spark.sql.{DataFrame, Row}

  /** Rows of a DataFrame as a sorted list of seqs — order-insensitive
    * whole-result comparison.
    */
  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Runs `body` with every size gate on its at-scale side
    * ([[Gates.AtScaleTiers]]) and Spark's own auto-broadcast off, as it
    * is for tables at that scale, then restores both settings. Operators
    * decide their tier when called, so build the result inside. Suites
    * run one at a time, so a session conf is safe here.
    */
  def atScale[A](body: => A): A = {
    val settings = Seq(Gates.AtScaleTiers -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val before = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Descriptions of the Spark jobs `body` starts, in order. `body` runs
    * under the description "caller", which it must leave restored.
    */
  def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(js.properties.getProperty(key)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("caller")
      body
      assert(sc.getLocalProperty(key) == "caller", "the caller's description is restored")
      // listener events arrive in order: once the marker job shows,
      // every job before it has been seen
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    val all = seen.toArray(Array.empty[String]).toSeq
    assert(all.contains("marker"))
    all.takeWhile(_ != "marker")
  }

  /** Jobs per round of `op`, from [[jobsOf]]'s `op/round r` descriptions;
    * every job must carry one.
    */
  def perRound(jobs: Seq[String], op: String): Map[Int, Int] = {
    assert(jobs.forall(_.startsWith(s"$op/round ")), jobs)
    jobs.groupBy(_.stripPrefix(s"$op/round ").toInt).map { case (r, js) => r -> js.size }
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")
}
