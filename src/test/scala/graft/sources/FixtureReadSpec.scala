package graft.sources

import graft.{SparkEntry, SparkSpec}
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The driver-side fixture reader (`Tables.read` / `Tables.schemaOf`):
  * the footer schema is the one Spark would infer, for every layout the
  * fixtures ship in, and defining a fixture frame runs no Spark job. */
class FixtureReadSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private def path(t: String) = s"$sfDir/$t.parquet"

  test("footer schema equals the inferred schema for all ten tables under the session's parquet conf") {
    val iso = spark.newSession()
    for (nanos <- Seq("false", "true"); ntz <- Seq("true", "false")) {
      iso.conf.set(NanosAsLong, nanos)
      iso.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
      Tables.names.foreach { t =>
        val inferred = iso.read.parquet(path(t)).schema
        val at = s"$t with nanosAsLong=$nanos, inferTimestampNTZ=$ntz"
        assert(Tables.schemaOf(iso, path(t)) === inferred, at)
        assert(Tables.read(iso, path(t)).schema === inferred, at)
      }
    }
  }

  test("a Spark-written directory of part files reads with one part's footer schema") {
    val root = Files.createTempDirectory("graft_parts").toString
    try {
      val orders = Tables.orders(spark, sfDir)
      orders.repartition(3).write.parquet(s"$root/orders.parquet")
      assert(new java.io.File(s"$root/orders.parquet/_SUCCESS").exists)
      val inferred = spark.read.parquet(s"$root/orders.parquet").schema
      assert(Tables.schemaOf(spark, s"$root/orders.parquet") === inferred)
      val back = Tables.load(spark, root, "orders")
      assert(back.schema === inferred)
      assert(back.count() === orders.count())
    } finally Scratch.deleteRec(new java.io.File(root))
  }

  test("only a TIMESTAMP(NANOS) events file sets nanosAsLong, on the session that reads it") {
    val before = spark.conf.getAll
    assert(Tables.events(spark, sfDir).schema("ts").dataType === TimestampType)
    assert(spark.conf.getAll === before, "a MICROS fixture wrote the caller's conf")

    val root = Files.createTempDirectory("graft_nanos").toString
    try {
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
      val w = ExampleParquetWriter.builder(new Path(s"$root/events.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1700000000123456789L))
      finally w.close()
      val iso = spark.newSession()
      assert(Tables.schemaOf(iso, s"$root/events.parquet")("ts").dataType === LongType)
      assert(iso.conf.get(NanosAsLong) === "true")
      val ev = Tables.events(iso, root)
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.selectExpr("unix_micros(ts)").head().getLong(0) === 1700000000123456L)
    } finally Scratch.deleteRec(new java.io.File(root))
  }

  test("defining Tables.load, Tables.events and dq05 frames runs no Spark job") {
    val group = "graft-define"
    val marker = "graft-define-marker"
    val jobs = new ConcurrentLinkedQueue[Int]()
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.add(e.jobId)
          case `marker` => seen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "define fixture frames")
      Tables.names.filterNot(_ == "events").foreach(Tables.load(spark, sfDir, _))
      Tables.events(spark, sfDir)
      SparkEntry.queries("dq05_pk_uniqueness")(spark, sfDir)
      // The bus delivers events in order: once the marker job is seen,
      // every job started while defining has been seen too.
      sc.setJobGroup(marker, "listener bus marker")
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      assert(jobs.isEmpty, s"Spark jobs ran while defining fixture frames: $jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
