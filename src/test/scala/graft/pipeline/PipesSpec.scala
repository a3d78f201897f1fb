package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Reference-shape semantics tests for the Layer-1 DSL, mirroring the
  * graph e2e patterns of /root/reference/pipe/node_test.go and
  * bypass_test.go (SURVEY.md §5 patterns 1–3). */
class PipesSpec extends SparkSpec {
  import spark.implicits._

  private def collector(): (ConcurrentLinkedQueue[String], Pipes.FinalFn[String]) = {
    val buf = new ConcurrentLinkedQueue[String]()
    (buf, (ds: Dataset[String]) => ds.collect().foreach(buf.add))
  }

  // The diamond graph of node_test.go:47-77: counter fans out to odd/even
  // filters, each maps to tagged strings, both fan in to one collector.
  test("basic diamond graph: fan-out broadcast + fan-in merge") {
    val b = new PipelineBuilder(spark)
    val counter = b.addStart("counter", s => { import s.implicits._; s.range(1, 9).as[Long] })
    val odds  = b.addMiddle("odds",  (ds: Dataset[Long]) => ds.filter(_ % 2 == 1))
    val evens = b.addMiddle("evens", (ds: Dataset[Long]) => ds.filter(_ % 2 == 0))
    val oddMsg  = b.addMiddle("oddMsg",  (ds: Dataset[Long]) => ds.map(n => s"odd: $n"))
    val evenMsg = b.addMiddle("evenMsg", (ds: Dataset[Long]) => ds.map(n => s"even: $n"))
    val (buf, sink) = collector()
    val coll = b.addFinal("collector", sink)
    b.sendTo(counter, odds, evens)
    b.sendTo(odds, oddMsg); b.sendTo(evens, evenMsg)
    b.sendTo(oddMsg, coll); b.sendTo(evenMsg, coll)
    b.build().fold(e => fail(e.message), _.run())
    assert(buf.asScala.toSet ===
      Set("odd: 1", "odd: 3", "odd: 5", "odd: 7",
          "even: 2", "even: 4", "even: 6", "even: 8"))
  }

  // The Forker (connectors.go:49-104) sends ONE output to N receivers:
  // a batch start with two receivers runs once, not once per receiver,
  // and the runner owns no cache — once it and its frames are gone, the
  // ContextCleaner has dropped the fan-out relation.
  test("batch fan-out computes its sender once and leaves no cached RDD") {
    val sc = spark.sparkContext
    val rows = sc.longAccumulator("fanout_rows")
    val before = sc.getPersistentRDDs.keySet
    def run(): (Long, Long, Set[Int]) = {
      val b = new PipelineBuilder(spark)
      val src = b.addStart("src", s => {
        import s.implicits._
        s.range(0, 1000).as[Long].map { n => rows.add(1); n }
      })
      val sums = new ConcurrentLinkedQueue[Long]()
      val sinkA = b.addFinal("a", (ds: Dataset[Long]) => { sums.add(ds.count()); () })
      val sinkB = b.addFinal("b", (ds: Dataset[Long]) => {
        sums.add(ds.filter(_ % 2 == 0).count()); ()
      })
      b.sendTo(src, sinkA, sinkB)
      b.build().fold(e => fail(e.message), _.run())
      (sums.asScala.max, sums.asScala.min, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    val (all, evens, fanned) = run()
    assert((all, evens) === ((1000L, 500L)))
    assert(rows.value === 1000L, "the shared start ran once per receiver")
    assert(fanned.nonEmpty, "the fan-out relation was not materialized")
    var left = fanned
    var tries = 0
    while (left.nonEmpty && tries < 20) {
      System.gc(); Thread.sleep(250)
      left = fanned & sc.getPersistentRDDs.keySet.toSet
      tries += 1
    }
    assert(left.isEmpty, s"fan-out RDDs $left outlived the runner")
  }

  // bypass_test.go:68-138: a disabled stage adds zero plan nodes; chains
  // of bypasses collapse transitively.
  test("bypass is zero-cost and transitive") {
    val b = new PipelineBuilder(spark)
    val src = b.addStart("src", s => { import s.implicits._; s.range(1, 4).as[Long] })
    val by1 = b.addBypassableMiddleProvider[Long]("by1", () => Right(None))
    val by2 = b.addBypassableMiddleProvider[Long]("by2", () => Right(None))
    val x10 = b.addMiddle("x10", (ds: Dataset[Long]) => ds.map(_ * 10))
    val buf = new ConcurrentLinkedQueue[Long]()
    val sink = b.addFinal("sink", (ds: Dataset[Long]) => ds.collect().foreach(buf.add))
    b.sendTo(src, by1); b.sendTo(by1, by2); b.sendTo(by2, x10); b.sendTo(x10, sink)
    b.build().fold(e => fail(e.message), _.run())
    assert(buf.asScala.toSet === Set(10L, 20L, 30L))
  }

  // Pipes.bypass as a direct stage: the identity function hands back the
  // same Dataset object — no Catalyst node at all (pipe/bypass.go:27-29).
  test("Pipes.bypass adds no plan node (object identity)") {
    val ds = spark.range(5).as[Long]
    assert(Pipes.bypass[Long].apply(ds) eq ds)
  }

  // builder_test.go:24-61: a failing provider aborts build with a wrapped
  // error; nothing runs.
  test("provider error aborts build") {
    val b = new PipelineBuilder(spark)
    val src = b.addStart("src", s => { import s.implicits._; s.range(1, 4).as[Long] })
    val bad = b.addMiddleProvider[Long, Long]("bad",
      () => Left(new IllegalArgumentException("invalid regex")))
    var ran = false
    val sink = b.addFinal("sink", (_: Dataset[Long]) => { ran = true })
    b.sendTo(src, bad); b.sendTo(bad, sink)
    val r = b.build()
    assert(r.isLeft)
    assert(r.left.exists(_.message.contains("invalid regex")))
    assert(!ran)
  }

  // node_test.go:267-381: re-adding a node under the same key overrides
  // the previous registration (last-write-wins).
  test("node override is last-write-wins") {
    val b = new PipelineBuilder(spark)
    val src = b.addStart("src", s => { import s.implicits._; s.range(1, 4).as[Long] })
    b.addMiddle("stage", (ds: Dataset[Long]) => ds.map(_ + 100))
    val stage2 = b.addMiddle("stage", (ds: Dataset[Long]) => ds.map(_ + 1000)) // overrides
    val buf = new ConcurrentLinkedQueue[Long]()
    val sink = b.addFinal("sink", (ds: Dataset[Long]) => ds.collect().foreach(buf.add))
    b.sendTo(src, stage2); b.sendTo(stage2, sink)
    b.build().fold(e => fail(e.message), _.run())
    assert(buf.asScala.toSet === Set(1001L, 1002L, 1003L))
  }

  // bypass_test.go:224-259 / node_test.go:225-251: an ignored start drops
  // its exclusive subtree; the rest of the graph still drains.
  test("ignored start drops its subtree; live branch unaffected") {
    val b = new PipelineBuilder(spark)
    val live = b.addStart("live", s => { import s.implicits._; s.range(1, 4).as[Long] })
    val dead = b.addStartProvider[Long]("dead", () => Right(None))
    val deadOnly = b.addMiddle("deadOnly", (ds: Dataset[Long]) => ds.map(_ * 2))
    val buf = new ConcurrentLinkedQueue[Long]()
    val liveSink = b.addFinal("liveSink", (ds: Dataset[Long]) => ds.collect().foreach(buf.add))
    var deadRan = false
    val deadSink = b.addFinal("deadSink", (_: Dataset[Long]) => { deadRan = true })
    b.sendTo(live, liveSink)
    b.sendTo(dead, deadOnly); b.sendTo(deadOnly, deadSink)
    b.build().fold(e => fail(e.message), _.run())
    assert(buf.asScala.toSet === Set(1L, 2L, 3L))
    assert(!deadRan)
  }

  // Fan-in from two typed sources (the Joiner refcount close of
  // connectors.go:8-41 ≈ union job completing when all children do).
  test("fan-in merges all senders' elements") {
    val b = new PipelineBuilder(spark)
    val s1 = b.addStart("s1", s => { import s.implicits._; s.range(1, 4).as[Long] })
    val s2 = b.addStart("s2", s => { import s.implicits._; s.range(6, 9).as[Long] })
    val buf = new ConcurrentLinkedQueue[Long]()
    val sink = b.addFinal("sink", (ds: Dataset[Long]) => ds.collect().foreach(buf.add))
    b.sendTo(s1, sink); b.sendTo(s2, sink)
    b.build().fold(e => fail(e.message), _.run())
    assert(buf.asScala.toSet === Set(1L, 2L, 3L, 6L, 7L, 8L))
  }

  // Cycle detection (the reference lists this as future work, TODO.md:4).
  test("cyclic wiring is a build error") {
    val b = new PipelineBuilder(spark)
    val src = b.addStart("src", s => { import s.implicits._; s.range(1, 4).as[Long] })
    val m1 = b.addMiddle("m1", (ds: Dataset[Long]) => ds.map(_ + 1))
    val m2 = b.addMiddle("m2", (ds: Dataset[Long]) => ds.map(_ + 1))
    b.sendTo(src, m1); b.sendTo(m1, m2); b.sendTo(m2, m1)
    val r = b.build()
    assert(r.isLeft)
    assert(r.left.exists(_.message.contains("cycle")))
  }

  // The minigrep whole-program shape (tutorial/minigrep/minigrep.go:
  // 117-144) through the DSL, with build-time pattern validation.
  test("minigrep pipeline through the DSL") {
    import org.apache.spark.sql.functions._
    val pattern = "spark"
    val b = new PipelineBuilder(spark)
    val files = b.addStart("files",
      s => s.read.parquet(s"$sfDir/documents.parquet").selectExpr("text").as[String])
    // Provider validates the regex at build time (MatchFilterProvider,
    // minigrep.go:91-105).
    val matcher = b.addMiddleProvider[String, String]("matcher", () =>
      scala.util.Try(java.util.regex.Pattern.compile(pattern)).toEither
        .map(_ => Some((ds: Dataset[String]) => ds.filter(col("text").rlike(pattern)))))
    val (buf, sink) = collector()
    val printer = b.addFinal("printer", sink)
    b.sendTo(files, matcher); b.sendTo(matcher, printer)
    b.build().fold(e => fail(e.message), _.run())
    assert(buf.asScala.nonEmpty)
    assert(buf.asScala.forall(_.contains("spark")))
  }

  // FileFinder's permissive source semantics (minigrep.go:47-61): an
  // unreadable input is skipped and every readable file's matches still
  // arrive (E6 fidelity — open-error does not kill the pipeline).
  test("minigrep keeps going past a corrupt input file") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_minigrep_").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
    docs.limit(10).coalesce(1).write.mode("append").parquet(dir)
    docs.coalesce(1).write.mode("append").parquet(dir)
    // One garbage file that parquet cannot open.
    Files.write(Paths.get(dir, "part-corrupt.snappy.parquet"),
      "this is not a parquet file".getBytes)
    val expected = docs.filter(org.apache.spark.sql.functions.col("text").rlike("the")).count() +
      docs.limit(10).filter(org.apache.spark.sql.functions.col("text").rlike("the")).count()
    val got = MiniGrep.runFiles(spark, dir, "the")
    assert(got.count() === expected)
    // Sanity: without the permissive option the corrupt file is fatal.
    intercept[Throwable] {
      spark.read.parquet(dir).filter("text rlike 'the'").count()
    }
  }

  // F11 ChannelBufferLen analog (pipe/options.go:3-22): buffer length 1
  // on a streaming file start = one file per micro-batch; batch plans
  // ignore the option (documented no-op).
  test("ChannelBufferLen bounds files per micro-batch on streaming starts") {
    import java.nio.file.{Files, StandardCopyOption}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_f11_").toFile
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    (0 until 3).foreach { i =>
      val tmp = new java.io.File(dir, s"_stage_$i")
      docs.filter(s"doc_id % 3 = $i").coalesce(1).write.parquet(tmp.toString)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, new java.io.File(dir, s"f$i.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    val b = new PipelineBuilder(spark, Pipes.ChannelBufferLen(1))
    assert(b.channelBufferLen === Some(1))
    val src = b.addFileStreamStart("src", dir.toString, docs.schema, "*.parquet")
    @volatile var batches = 0
    val sink = b.addFinal[Row]("sink", ds => {
      val q = ds.writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      batches = q.recentProgress.count(_.numInputRows > 0)
    })
    b.sendTo(src, sink)
    b.build().fold(e => fail(e.message), _.run())
    assert(batches === 3, s"expected 3 one-file micro-batches, got $batches")
  }

  // In-flight pipeline observability: a MiddleFn attaches Dataset.observe
  // (a CollectMetrics node — metrics ride the normal execution, no second
  // scan), and the metrics are available at the F10 run boundary. The
  // production use is a data-quality circuit breaker: a curation run
  // checks the observed drop-rate after run() and aborts the downstream
  // launch if the filter ate too much.
  test("a stage can observe in-flight metrics, read at the run boundary") {
    import org.apache.spark.sql.{Observation, functions => F}
    val obs = new Observation("gate")
    val b = new PipelineBuilder(spark)
    val src = b.addStart("src", s => { import s.implicits._; s.range(0, 100).as[Long] })
    val gate = b.addMiddle("gate", (ds: Dataset[Long]) =>
      ds.observe(obs, F.count(F.lit(1)).as("rows_in"),
          F.sum(F.when(F.col("id") % 5 === 0, 1L).otherwise(0L)).as("kept"))
        .filter(F.col("id") % 5 === 0))
    val (buf, sink) = collector()
    val coll = b.addFinal("collector", (ds: Dataset[Long]) =>
      sink(ds.map(_.toString)))
    b.sendTo(src, gate); b.sendTo(gate, coll)
    b.build().fold(e => fail(e.message), _.run())
    val m = obs.get
    assert(m("rows_in") === 100L, s"observed $m")
    assert(m("kept") === 20L, s"observed $m")
    assert(buf.size === 20)
  }
}
