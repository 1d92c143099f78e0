package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One JVM-wide session (getOrCreate)
  * so suites don't pay repeated startup. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder(cores = 4).getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  override def afterAll(): Unit = {
    // keep the shared session alive for sibling suites
    super.afterAll()
  }
}
