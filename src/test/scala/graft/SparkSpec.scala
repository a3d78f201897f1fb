package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.CatalystBridge
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs — the analog of the reference's
  * shared in-memory test harness (pipes' `testers/helpers.go`).
  *
  * The session is shared, so a suite must leave it as it found it: after
  * each suite the CacheManager entries and the temp views are what they
  * were before it, and no RDD it persisted is still persisted. A leak
  * would change the plan paths of every later suite (a non-empty
  * CacheManager canonicalizes every plan for its lookup), so the suite
  * that leaks fails here instead of some later one. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private var start: SparkSpec.Residue = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    start = SparkSpec.residue(spark)
  }

  // The session itself is shared across suites and never stopped.
  override def afterAll(): Unit = {
    val left = SparkSpec.leftOver(spark, start)
    assert(left.isEmpty, s"${getClass.getSimpleName} left session state behind: $left")
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkEntry.localSession("4", Some("graft-test"))

  final case class Residue(cached: Int, views: Set[String], rdds: Set[Int])

  def residue(s: SparkSession): Residue = Residue(
    CatalystBridge.cachedEntries(s),
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet,
    s.sparkContext.getPersistentRDDs.keySet.toSet)

  /** What differs from `start`, or "" once nothing does. An RDD persisted
    * through `CatalystBridge.materialized` stays registered until its
    * frame is collected, so unreachable frames get a few collections
    * (and the ContextCleaner time to act) before a leftover counts. */
  def leftOver(s: SparkSession, start: Residue): String = {
    def diff(): String = {
      val now = residue(s)
      Seq(
        if (now.cached != start.cached) s"CacheManager entries ${start.cached} -> ${now.cached}" else "",
        if (now.views != start.views) s"temp views ${start.views} -> ${now.views}" else "",
        if ((now.rdds -- start.rdds).nonEmpty) s"persisted RDDs ${now.rdds -- start.rdds}" else ""
      ).filter(_.nonEmpty).mkString("; ")
    }
    var left = diff()
    var tries = 0
    while (left.nonEmpty && tries < 20) {
      System.gc(); Thread.sleep(250); tries += 1
      left = diff()
    }
    left
  }
}
