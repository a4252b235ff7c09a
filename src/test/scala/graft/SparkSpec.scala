package graft

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
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4, "graft-test")
}
