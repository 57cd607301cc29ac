package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs: Verify's session
  * (`GraftSession.verify`) pinned at local[4] and 4 shuffle partitions,
  * the shape PlanShapeSpec and the streaming specs assume. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  private var current: SparkSession = _

  /** The shared session, started again if a spec stopped it. */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = GraftSession.verify(4)
    current
  }
}
