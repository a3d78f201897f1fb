package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs — the analog of the reference's
  * shared in-memory test harness (/root/reference/testers/helpers.go). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = SparkEntry.localSession("4", Some("graft-test"))
}
