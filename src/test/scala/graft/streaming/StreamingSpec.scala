package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.sql.Timestamp

/** Watermark / event-time semantics the oracle can't express: late-data
  * dropping, window assignment — tested with MemoryStream, the analog of
  * the reference's in-memory channel fixtures (SURVEY.md §5 pattern 1). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermark drops late rows beyond the delay") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val agg = mem.toDS().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(sum(col("v")).as("total"))
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("total"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    // Batch 1: rows at 10:00-10:04 and 10:31 → watermark advances to 10:21.
    mem.addData((ts(0), 1L), (ts(4), 2L), (ts(31), 10L))
    q.processAllAvailable()
    // Batch 2: a row at 10:02 is >10min behind the watermark → dropped;
    // a row at 10:33 lands in the open 10:30 window.
    mem.addData((ts(2), 100L), (ts(33), 20L))
    q.processAllAvailable()
    // Batch 3: advance watermark past 10:35 to close the 10:30 window.
    mem.addData((ts(50), 1L))
    q.processAllAvailable()
    q.stop()
    val out = try spark.table("wm_test").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    finally spark.catalog.dropTempView("wm_test")
    assert(out("10:00") === 3L)   // 1+2; the late 100 was dropped
    assert(out("10:30") === 30L)  // 10+20
  }

  // F4 fan-out in streaming form (SURVEY §2.1): one stream feeding two
  // sinks through foreachBatch; every sink sees every element exactly
  // once (the reference's broadcast guarantee, connectors.go:76-85).
  test("foreachBatch fans one stream out to two sinks, both complete") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val sinkA = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val sinkB = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = mem.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], _: Long) =>
        val rows = batch.collect() // materialize once, then fan out
        rows.foreach(sinkA.add)
        rows.foreach(sinkB.add)
      }
      .start()
    mem.addData(1L, 2L, 3L)
    q.processAllAvailable()
    mem.addData(4L, 5L)
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(sinkA.asScala.toSet === Set(1L, 2L, 3L, 4L, 5L))
    assert(sinkB.asScala.toSet === Set(1L, 2L, 3L, 4L, 5L))
  }

  // Spark-4 arbitrary-state API: per-key ValueState persists across
  // micro-batches on the RocksDB store (the provider transformWithState
  // requires — and the one that scales state past executor heap).
  test("transformWithState keeps per-key state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String)]
      val out = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new DistinctTypesProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF("user_id", "n_types").writeStream.format("memory")
        .queryName("tws_test").outputMode(OutputMode.Update()).start()
      mem.addData((1L, "a"), (1L, "b"), (2L, "a"))
      q.processAllAvailable()
      // "a" was already seen for key 1 in batch 1 → only "c" is new.
      mem.addData((1L, "a"), (1L, "c"), (2L, "b"))
      q.processAllAvailable()
      q.stop()
      val rows = try spark.table("tws_test").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      finally spark.catalog.dropTempView("tws_test")
      assert(rows === Set((1L, 2), (2L, 1), (1L, 3), (2L, 2)))
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("AvailableNow streaming equals batch on the events fixture") {
    val streamed = Streams.queries("st01_stream_tumbling")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Relational.queries("q27_event_tumbling")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  // st31: the streaming serving leg must reproduce batch scoring with
  // the SAME trained model — union over micro-batches equals scoring
  // the whole corpus in one pass (a doc's score is row-pure).
  test("st31 streaming classifier scoring equals batch serve") {
    val streamed = Streams.queries("st31_stream_classifier_score")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val w = graft.operators.TextAnalysis.trainClassifier(spark, sfDir)._2
    val batch = graft.operators.TextAnalysis.classifierServe(
      graft.sources.Tables.documents(spark, sfDir), w)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  // st32: the streaming funnel's per-doc attribution, rolled up, must
  // equal pl08's batch rollup — the same verdicts through inverted join
  // directions (artifact-scan + batch-broadcast vs corpus shuffle-hash).
  test("st32 streaming funnel rolls up to pl08's batch audit") {
    val streamed = Streams.queries("st32_stream_funnel")(spark, sfDir)
      .groupBy(col("lang"), col("stage")).count()
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Curation.queries("pl08_funnel_audit")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  // st33: streaming decode union equals the batch decode (row-pure).
  test("st33 streaming blob decode equals mm02's batch decode") {
    val streamed = Streams.queries("st33_stream_blob_decode")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Multimodal.queries("mm02_decode_meta")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  // st34: the streamed bucket-sketch bounds must CONTAIN the exact
  // quantile dq10's engine computes over the same column — the
  // sketch-with-guarantees contract between the two family members.
  test("st34 bucket bounds contain the exact quantiles") {
    val bounds = Streams.queries("st34_stream_quantile_monitor")(spark, sfDir)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(2), if (r.isNullAt(3)) Long.MaxValue else r.getLong(3))).toMap
    assert(bounds.keySet == Set(50, 90, 99))
    val exact = graft.operators.Profile.exactQuantiles(spark,
      graft.sources.Tables.documents(spark, sfDir)
        .select(col("n_chars").as("c")),
      Seq(50, 90, 99))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    exact.foreach { case (p, v) =>
      val (lo, hi) = bounds(p)
      assert(v >= lo && v <= hi, s"p$p: exact $v outside [$lo, $hi]")
    }
  }

  // Fault-tolerance: a checkpointed query stopped and restarted must
  // resume from its state store — the restart processes ONLY the new
  // file (numInputRows proves no re-read), yet the final aggregation
  // covers the whole input (state restored, nothing double-counted).
  // This is the exactly-once recovery contract a 100 TB pipeline relies
  // on after executor loss or planned redeploys.
  test("checkpointed restart resumes exactly-once from the state store") {
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt")
      .toFile.getAbsolutePath
    val in = s"$base/in"; val ck = s"$base/ck"; val out = s"$base/out"
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"))
    ev.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite").json(in)
    def run(): Long = {
      val q = spark.readStream
        .schema("event_id BIGINT, event_type STRING").json(in)
        .groupBy(col("event_type")).count()
        .writeStream.option("checkpointLocation", ck)
        .outputMode(OutputMode.Complete())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(out)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    run()
    val oddRows = ev.filter(col("event_id") % 2 === 1)
    oddRows.coalesce(1).write.mode("append").json(in)
    val secondRunInput = run()
    assert(secondRunInput === oddRows.count(),
      s"restart re-read old files: $secondRunInput input rows")
    val got = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = ev.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exp, "resumed aggregation diverges from batch truth")
  }

  // st25: the composed lifecycle must (a) leave a live index in which
  // every vector is visible EXACTLY once despite mid-stream compaction
  // (compaction writes to a different dir than the raw deltas it
  // collapses, so no reader ever sees a cell twice), (b) actually hold
  // the mixed base+delta layout the operator claims to serve from, and
  // (c) answer byte-identically to ss02's batch probe.
  test("st25 lifecycle: exactly-once visibility over base+delta, parity with ss02") {
    val got = graft.SparkEntry.queries("st25_stream_lifecycle")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val liveDir = graft.sources.Scratch.dir(spark, sfDir, "st25_live")
    val live = spark.read.parquet(liveDir)
    val n = live.count()
    assert(n == live.select("vec_id").distinct().count(),
      "a vector is visible more than once in the live index")
    assert(n == graft.sources.Tables.embeddings(spark, sfDir).count(),
      "live index is missing vectors")
    // Mixed layout: at least one cell dir holds both the compacted base
    // file and a later delta append (file count >= 2).
    val cells = new java.io.File(liveDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("label="))
    assert(cells.nonEmpty, "live index is not cell-partitioned")
    assert(cells.exists(_.listFiles().count(_.getName.endsWith(".parquet")) >= 2),
      "no cell shows the base+delta layout the lifecycle claims")
    val exp = graft.SparkEntry.queries("ss02_ivf_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === exp, "lifecycle serving diverges from the batch probe")
  }

  // st21: complete-mode sort+limit on a streaming aggregate must emit
  // exactly the batch top-10 (deterministic tie-break on user_id).
  test("streaming complete-mode top-k equals the batch leaderboard") {
    val got = graft.SparkEntry.queries("st21_stream_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        sum(expr("cast(round(value * 1e6) as bigint)")).as("spend_micro"))
      .orderBy(col("spend_micro").desc, col("user_id"))
      .limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exp, "streaming top-k diverges from batch")
  }

  // The memory sink registers a temp view of the query name on the run's
  // session. runToTable resolves its frame from that view and drops it,
  // so the memoized tuned session accumulates neither views nor the sink
  // rows they hold, and the frames already returned keep their rows.
  test("bounded memory-sink runs leave no temp view in the tuned session") {
    val st02 = Streams.queries("st02_stream_dedup")
    val first = st02(spark, sfDir)
    val second = st02(spark, sfDir)
    val pp02 = graft.SparkEntry.queries("pp02_stream_diamond")(spark, sfDir)
    val views = Streams.stateTuned(spark).catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name)
      .filter(n => n.startsWith("graft_stream_") || n.startsWith("graft_pp_sink_"))
    assert(views.isEmpty, s"temp views left behind: ${views.mkString(", ")}")
    val ev = graft.sources.Tables.events(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val dedup = rows(ev.select(col("user_id"), col("event_type")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_users")))
    assert(rows(first) === dedup)
    assert(rows(second) === dedup)
    def agg(k: org.apache.spark.sql.Column, metric: String) =
      ev.groupBy(k.cast("string").as("k"))
        .agg(count(lit(1)).as("n"), sum(graft.Exprs.cents(col("value"))).as("v"))
        .select(lit(metric).as("metric"), col("k"), col("n"), col("v"))
    assert(rows(pp02) ===
      rows(agg(col("event_type"), "by_type").unionByName(agg(col("user_id"), "by_user"))))
  }

  // One bounded runner: Streams.run owns the only writeStream/start in
  // the library, so checkpoint, trigger and state-store policy cannot
  // drift between hand-rolled copies again.
  test("every bounded stream is started by Streams.run") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    def text(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val sources = walk(root).filter(_.getName.endsWith(".scala"))
    val (streams, others) =
      sources.partition(_.getPath.endsWith("graft/streaming/Streams.scala"))
    assert(streams.size === 1)
    val offenders = others.filter(f => text(f).contains(".writeStream"))
    assert(offenders.isEmpty,
      "run bounded streams through graft.streaming.Streams instead: " +
        offenders.mkString(", "))
    val starts = text(streams.head).split(java.util.regex.Pattern.quote(".start()"), -1)
      .length - 1
    assert(starts === 1, s"Streams.scala has $starts .start() calls; route them through run")
  }

  // Every bounded run goes through a session that (a) keeps checkpoint
  // files on the fork-free manager and (b) runs its tasks on the
  // executor's default classloader, so CodeGenerator's cache (keyed by
  // classloader) serves a repeated run instead of recompiling it.
  test("repeated bounded runs compile no generated class again") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val sessions = Seq(Streams.stateTuned(spark), Streams.callerWidth(spark),
      Streams.rocksSession(spark))
    sessions.foreach { s =>
      assert(s.conf.get(LocalCheckpointFileManager.ConfKey) ===
        classOf[LocalCheckpointFileManager].getName)
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    }
    // Each query runs twice in a row: the three together generate about
    // 90 classes, enough to evict from the cache's 100 entries (Guava
    // evicts per segment) and make the guard depend on test order.
    def compiled(n: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      graft.SparkEntry.queries(n)(spark, sfDir).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val again = Seq("st02_stream_dedup", "st12_transform_with_state", "pp02_stream_diamond")
      .map { n => compiled(n); n -> compiled(n) }
    assert(again.forall(_._2 == 0), s"classes compiled on the second run: $again")
  }

  test("a bounded run refuses a session the streaming factory did not make") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val e = intercept[IllegalArgumentException](
      Streams.runToTable(mem.toDS(), OutputMode.Append()))
    assert(e.getMessage.contains("Streams' factory"))
    assert(spark.streams.active.isEmpty)
  }
}
