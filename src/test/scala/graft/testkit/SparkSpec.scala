package graft.testkit

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM, local[4]: the plan
  * locks are calibrated there). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.LocalSession.session(4)

  override def afterAll(): Unit = {
    // keep the session for sibling suites (same JVM); do not stop
    super.afterAll()
  }
}
