package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.atomic.AtomicInteger
import graft.sources.Scratch
import org.apache.spark.sql.graft.CatalystBridge.materialized

/** st12 (transformWithState) processor: per-user distinct event-type
  * count held in a ValueState. The Spark-4 arbitrary-state API —
  * successor to mapGroupsWithState: typed per-key state handles
  * (value/list/map), timers, TTL — running on the RocksDB state store
  * provider (the only provider transformWithState supports, and the one
  * a 100 TB/day feed needs: state spills to disk instead of executor
  * heap). Emits the running count per key per batch; n_types is
  * monotone, so the final state is the per-key max (st03's selection). */
final class DistinctTypesProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), (Long, Int)] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}
  import implicits._
  @transient private var seen: ValueState[Seq[String]] = _
  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Seq[String]]("seen", TTLConfig.NONE)
  override def handleInputRows(
      key: Long, rows: Iterator[(Long, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Int)] = {
    val prev = if (seen.exists()) seen.get() else Seq.empty[String]
    val next = (prev ++ rows.map(_._2)).distinct
    seen.update(next)
    Iterator.single((key, next.size))
  }
}

/** st13 (transformWithState) processor: each user's 3 most-recent
  * (ts, event_id) events in a ListState (bounded per-key state — the
  * "recent activity" pattern), plus a ValueState event counter. Each
  * batch re-emits the current top-3 tagged with the monotone seen-count,
  * so the final rows per key are selectable after any batch split. */
final class LastEventsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, Long, Int, Long)] {
  import org.apache.spark.sql.streaming.{ListState, OutputMode => OM, TimeMode, TTLConfig, ValueState}
  import implicits._
  @transient private var top: ListState[(Long, Long)] = _
  @transient private var seen: ValueState[Long] = _
  override def init(outputMode: OM, timeMode: TimeMode): Unit = {
    top = getHandle.getListState[(Long, Long)]("top", TTLConfig.NONE)
    seen = getHandle.getValueState[Long]("seen", TTLConfig.NONE)
  }
  override def handleInputRows(
      key: Long, rows: Iterator[(Long, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Int, Long)] = {
    val incoming = rows.map(r => (r._2, r._3)).toSeq
    val prev = if (top.exists()) top.get().toSeq else Seq.empty
    val n = (if (seen.exists()) seen.get() else 0L) + incoming.size
    // Keep only the 3 latest by (ts, event_id) — state stays O(k) per key.
    val next = (prev ++ incoming).sortBy(p => (-p._1, -p._2)).take(3)
    top.put(next.toArray)
    seen.update(n)
    next.iterator.zipWithIndex.map { case ((_, eid), i) => (key, n, i + 1, eid) }
  }
}

/** Per-user running aggregate state for st03 (mapGroupsWithState). */
final case class UserAgg(n_events: Long, value_cents: Long)
final case class UserAggOut(user_id: Long, n_events: Long, value_cents: Long)
/** Input row shape for st03 — cents pre-rounded by a Spark expression
  * so engine rounding semantics (HALF_UP) stay identical to the batch
  * queries (math.round would differ on negative half-cents). */
final case class EventRow(user_id: Long, cents: Long)

/** Structured Streaming operators (SURVEY.md §2.4 streaming rows).
  *
  * The reference's streams are unbounded Go channels with close-cascade
  * termination (/root/reference/pipe/node.go:12-13,
  * /root/reference/pipe/internal/connect/connectors.go:36-41). Spark-first,
  * a bounded run of an unbounded pipeline is `Trigger.AvailableNow`:
  * process everything available, then stop — the analog of "all sources
  * returned, close cascade drains the graph". Every bounded run goes
  * through one helper, [[Streams.run]]: its start is the reference's
  * `Runner.Start()` and its blocking wait is `Runner.Done()`.
  *
  * Each query here builds a *streaming* plan over the same events parquet
  * the batch queries read, runs it to completion, and returns the result
  * table — so the driver's DuckDB oracle checks stream/batch parity.
  * The memory sink is test-scale only; production sinks are parquet/Kafka
  * through the same helper. The stateful shapes (windowed agg,
  * streaming dedup, mapGroupsWithState) shuffle by key into state-store
  * partitions exactly as a cluster run would.
  *
  * st12/st13 need a non-default state-store provider (RocksDB); they run
  * on an isolated `SparkSession.newSession()` (own SQL conf + catalog
  * over the shared context), so no query here mutates the caller's
  * session and the registry is safe under a concurrent runner.
  */
object Streams {

  private val nameSeq = new AtomicInteger(0)

  /** State-store shard count: SPARK_GRAFT_STATE_SHARDS (default 4). */
  private lazy val stateShards = sys.env.getOrElse("SPARK_GRAFT_STATE_SHARDS", "4").toInt

  /** Stateful streaming queries run on a shared ISOLATED session with
    * `spark.sql.shuffle.partitions` tuned down to [[stateShards]].
    * State-store shard count is a STATE-SIZE knob, not a
    * CPU knob: every shard pays per-micro-batch store load + delta-
    * commit IO (a stream-stream join keeps 4 stores per shard per
    * side), so 32 shards over fixture-sized state spend more wall-clock
    * in state-store lifecycle than in the join itself — measured on
    * this harness: st16+st08 ~29 s → ~13 s at 8 shards (round 9), and
    * at 4 shards st16 taskRun 17 s → 5.4 s / st08 9.5 s → 3.5 s (round
    * 13, tmpfs checkpoints). The same principle scales up, not just
    * down: on a real cluster you size shards to state volume (hundreds
    * for a TB-scale join buffer) independent of executor count, then
    * let many executors each own a few shards; the env knob is that
    * sizing parameter. Memoized per root session so a multi-leg query
    * (st08's click/view self-join) binds every leg to the SAME session
    * — cross-session Dataset joins are illegal — and so the conf
    * mutation never touches the caller's session (the st12/st13
    * isolation discipline, applied registry-wide).
    *
    * Micro-batch-width discipline: the stateless foreachBatch queries
    * run here too, because their per-trigger relations are batch-bounded
    * (probes, broadcasts, pruned artifact scans). Their exchanges run at
    * the state-shard width, where a CPU-width exchange over a fixture-
    * sized batch is per-task fixed overhead (measured ~24 ms deserialize
    * alone), not parallelism; CPU-heavy passes keep their scan width or
    * repartition explicitly (phashStep's decode, st18's tokenize). */
  private[graft] def stateTuned(s0: SparkSession): SparkSession = owned(s0, tuned = true)

  /** [[stateTuned]]'s sibling at the caller's shuffle width, for runs with
    * corpus-scale triggers (st28's serving, the st35/st37–st39 builds). */
  private[graft] def callerWidth(s0: SparkSession): SparkSession = owned(s0, tuned = false)

  private val ownedSessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Boolean), SparkSession]()
  private def owned(s0: SparkSession, tuned: Boolean): SparkSession =
    ownedSessions.computeIfAbsent((s0, tuned), _ => streamingSession(s0,
      if (tuned) stateShards.toString else s0.conf.get("spark.sql.shuffle.partitions")))

  /** Every session a bounded run uses is made here ([[run]] refuses any
    * other). Its checkpoint files go through [[LocalCheckpointFileManager]]
    * (no forked `chmod`/`readlink`), and artifact isolation is off (it
    * counts only if set before first use; graft adds no artifacts), so a
    * query's tasks run on the executor's default classloader and hit
    * `CodeGenerator`'s classloader-keyed cache instead of recompiling. */
  private def streamingSession(s0: SparkSession, width: String): SparkSession = {
    val s = s0.newSession()
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    s.conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    s.conf.set("spark.sql.shuffle.partitions", width)
    s
  }

  /** st12/st13's session: a fresh isolated `newSession()` per call on
    * the RocksDB state-store provider (the only one transformWithState
    * supports), so the provider swap never leaks into a concurrently
    * planning query — nothing to restore, the session is discarded.
    * Same [[stateShards]] width as [[stateTuned]]: each shard is one
    * RocksDB instance load and commit per micro-batch. The ~0.5 s of
    * task time once measured per shard included forks (st12: 189 per
    * run, 153 under the checkpoint manager) and 25–30 recompiled
    * classes per run, on tmpfs too, until [[streamingSession]]. */
  private[graft] def rocksSession(s0: SparkSession): SparkSession = {
    val s = streamingSession(s0, stateShards.toString)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  /** Events as a *stream*: schema from the fixture's footer (schema
    * inference is off in production streaming), ts normalized to
    * TIMESTAMP exactly like the batch loader — `Tables.normalizeEventTs`
    * branches on the loaded type so both fixture vintages (nanos-as-long,
    * micros/NTZ) work. */
  private def eventStream(s: SparkSession, d: String): DataFrame = {
    val schema = graft.sources.Tables.schemaOf(s, s"$d/events.parquet")
    // The file-stream source lists a *directory*; the fixture is a single
    // file, so stream the parent dir with a glob filter on the file name.
    graft.sources.Tables.normalizeEventTs(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
  }

  /** Checkpoint root for every bounded run ([[run]]).
    * These checkpoints are EPHEMERAL by design (Spark's own temporary-
    * checkpoint path deletes them after a clean run); a RAM-backed root
    * (tmpfs) keeps them off the disk without changing semantics — the
    * lifecycle stays create-run-delete inside one call. st16's "21 s
    * of task runtime with 2 s of CPU" was not disk I/O: its runs waited
    * on forked processes, a `chmod` per checkpoint file and dir and two
    * `readlink` per rename (1,513 per st16 run at sf0.01), and compiled
    * their generated classes again. Both occur on tmpfs too, and
    * [[streamingSession]] removes them. Production durable
    * checkpoints live on real storage and are configured explicitly;
    * SPARK_GRAFT_CKPT_DIR overrides (e.g. for hosts without /dev/shm). */
  private[graft] lazy val ckptRoot: String = {
    val base = sys.env.get("SPARK_GRAFT_CKPT_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm") else None
    }.getOrElse(Scratch.tmpRoot.getPath)
    base
  }

  private val runLock = new Object
  private var inFlight = 0 // bounded runs started and not finished; under runLock

  /** THE bounded streaming run — every `writeStream` in the library. It
    * starts `ds` under a unique query name with an ephemeral checkpoint
    * under [[ckptRoot]], lets `sink` choose the sink, drains everything
    * available (`Trigger.AvailableNow`), blocks until the query stops,
    * and deletes the checkpoint. Then it releases the state stores (a
    * stream-stream join buffers the whole watermark window; a JVM running
    * many bounded queries would otherwise hold all of it). The unload is
    * JVM-wide, so only the last run in flight performs it (pp02 drains
    * two queries at once). Refuses a session not made by
    * [[streamingSession]]. Returns the query name. */
  private def run[T](ds: Dataset[T], mode: OutputMode, prefix: String)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): String = {
    require(ds.sparkSession.conf.getOption(LocalCheckpointFileManager.ConfKey)
        .contains(classOf[LocalCheckpointFileManager].getName),
      "bounded runs need a session from Streams' factory (stateTuned or its siblings)")
    val name = s"${prefix}_${nameSeq.incrementAndGet()}"
    val ckpt = new java.io.File(ckptRoot,
      s"graft_ckpt_${ds.sparkSession.sparkContext.applicationId}_$name")
    runLock.synchronized(inFlight += 1)
    try sink(ds.writeStream.queryName(name)
        .option("checkpointLocation", ckpt.getPath).outputMode(mode))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally {
      Scratch.deleteRec(ckpt)
      runLock.synchronized {
        inFlight -= 1
        if (inFlight == 0)
          org.apache.spark.sql.graft.CatalystBridge.unloadStateStores()
      }
    }
    name
  }

  /** [[run]] into a memory sink; returns the drained table. Complete
    * mode: the sink holds the final state of the aggregation, independent
    * of how AvailableNow batched the input. The memory sink registers a
    * temp view of the query name on the run's session; the returned frame
    * is resolved from it and the view is dropped, so the session keeps
    * no view (and no sink rows) past the frame's life. */
  private[graft] def runToTable[T](ds: Dataset[T], mode: OutputMode): DataFrame = {
    val name = run(ds, mode, "graft_stream")(_.format("memory"))
    val s = ds.sparkSession
    try s.table(name) finally s.catalog.dropTempView(name): Unit
  }

  /** [[run]] through `foreachBatch`: `f` gets each micro-batch and its id. */
  private def runEach(ds: DataFrame, mode: OutputMode = OutputMode.Append())(
      f: (DataFrame, Long) => Unit): Unit =
    run(ds, mode, "graft_batch")(_.foreachBatch(f)): Unit

  /** A staged feed (dir, schema) as a stream: one file per micro-batch,
    * in the modification-time order [[stageFeedFile]] pins. */
  private def feed(s: SparkSession, staged: (java.io.File, StructType)): DataFrame =
    s.readStream.schema(staged._2)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(staged._1.toString)

  import graft.Exprs.cents // shared exact-integer-cents helper

  /** Stage one parquet file into a multi-batch feed dir (st06/st14):
    * write via a scratch dir, move the single part file to a FIXED name
    * (REPLACE_EXISTING — nothing accumulates across runs), and pin the
    * mtime so `maxFilesPerTrigger=1` + modtime ordering makes each file
    * one deterministic micro-batch. */
  private def stageFeedFile(
      feed: java.io.File, df: DataFrame, name: String, mtime: Long): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = new java.io.File(feed, s"_stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(feed, name)
    Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    dst.setLastModified(mtime)
  }

  /** st17's per-batch partial dedup — extracted pure so the replay-
    * idempotence claim is spec-testable (StreamingReplaySpec). */
  private[graft] def exactDedupPartial(batch: DataFrame, bid: Long): DataFrame =
    batch.groupBy(md5(lower(trim(col("text")))).as("content_key"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
      .withColumn("batch_id", lit(bid))

  /** st17's merge-on-read over appended partials. Replay collapse first:
    * a re-run batch writes byte-identical partials under the same
    * batch_id, and min/max over them is the value itself; the cross-
    * batch merge is then min of mins / sum of per-batch counts. */
  private[graft] def exactDedupMerge(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("content_key"), col("batch_id"))
      .agg(min(col("doc_id")).as("doc_id"), max(col("n")).as("n"))
      .groupBy(col("content_key"))
      .agg(min(col("doc_id")).as("doc_id"), sum(col("n")).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** st24's per-batch index delta: norm the arriving vectors (batch-
    * local, cheap) and append them into the cell directories — the
    * ledger-append write shape. Extracted pure so replay/split
    * invariance is spec-testable (StreamingReplaySpec). */
  private[graft] def indexIngestBatch(batch: DataFrame, idxDir: String): Unit =
    batch
      .select(col("vec_id"), col("embedding").as("e"),
        graft.functions.VectorFunctions
          .vecDot(col("embedding"), col("embedding")).as("nrm"),
        col("label"))
      .write.mode("append").partitionBy("label").parquet(idxDir)

  /** st24's compaction: one pass that (a) collapses at-least-once
    * replays — a re-run batch appended byte-identical vector rows, and
    * an index keyed by vec_id keeps exactly one — and (b) rewrites each
    * cell under a per-file row budget (ss12's [[graft.operators
    * .Similarity.compactCells]]: write parallelism scales with cell
    * size instead of one task per cell; fixture cells degenerate to
    * one file each). */
  private[graft] def indexCompact(
      s: SparkSession, idxDir: String, dest: String): Unit =
    graft.operators.Similarity.compactCells(
      s.read.parquet(idxDir).dropDuplicates("vec_id"), dest)

  // Per-fixture STAGED stream feeds — the multi-batch chronological
  // file sets the bounded harness streams read, staged through
  // Scratch.staged under a "feed_" tag. Feed content is pure fixture
  // scaffolding (production's feed is the arriving data itself);
  // [[prepareFeeds]] lets the bench construct them before the clock
  // starts so timed runs measure the streaming OPERATOR, not feed
  // construction. st17/st19/pl04 share ONE documents feed (identical
  // odd/even split).

  private def st06Feed(s: SparkSession, d: String) = {
    val sel = graft.sources.Tables.events(s, d)
      .select(col("ts"), col("event_type"), col("value"))
    val feed = Scratch.staged(s, d, "feed_st06") { f =>
      val ev = materialized(sel)
      // One driver-side scalar (the global max event time) places the
      // cutoffs — the streaming plan itself stays fully distributed.
      val mx = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      val cutoff = lit(mx) - expr("INTERVAL 130 MINUTES")
      val fresh = lit(mx) - expr("INTERVAL 10 MINUTES")
      val t0 = System.currentTimeMillis() - 180000
      stageFeedFile(f, ev.filter(col("ts") > cutoff && col("ts") <= fresh),
        "b1.parquet", t0)
      stageFeedFile(f, ev.filter(col("ts") > fresh), "b2.parquet", t0 + 60000)
      stageFeedFile(f, ev.filter(col("ts") <= cutoff), "b3.parquet", t0 + 120000)
    }
    (feed, sel.schema)
  }

  /** Shared by st14 (fixed gap) and st23 (dynamic gap — needs
    * event_type; st14 simply ignores the extra column). */
  private def st14Feed(s: SparkSession, d: String) = {
    val sel = graft.sources.Tables.events(s, d)
      .select(col("ts"), col("user_id"), col("event_type"))
    val feed = Scratch.staged(s, d, "feed_st14") { f =>
      val ev = materialized(sel)
      val mx = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      val split = lit(mx) - expr("INTERVAL 60 MINUTES")
      val t0 = System.currentTimeMillis() - 180000
      stageFeedFile(f, ev.filter(col("ts") <= split), "b1.parquet", t0)
      stageFeedFile(f, ev.filter(col("ts") > split), "b2.parquet", t0 + 60000)
    }
    (feed, sel.schema)
  }

  private def st16Feed(s: SparkSession, d: String) = {
    val sel = graft.sources.Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val feed = Scratch.staged(s, d, "feed_st16") { f =>
      val ev = materialized(sel)
      val mx = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      val t0 = System.currentTimeMillis() - 180000
      stageFeedFile(f, ev, "b1.parquet", t0)
      // TWO sentinel batches: watermark advancement is computed from the
      // PREVIOUS batch's max event time, and state eviction happens while
      // processing a batch — so b2 raises the watermark past every real
      // click and b3 is the batch that runs WITH that watermark and
      // flushes the tail of the unmatched state (the final real click
      // would otherwise sit in state when AvailableNow terminates).
      def sentinels(off: String) = s.range(2).select(
        lit(-1L).as("event_id"),
        (lit(mx) + expr(s"INTERVAL $off HOURS")).as("ts"),
        lit(-1L).as("user_id"),
        when(col("id") === 0, "click").otherwise("view").as("event_type"))
      stageFeedFile(f, sentinels("3"), "b2.parquet", t0 + 60000)
      stageFeedFile(f, sentinels("6"), "b3.parquet", t0 + 120000)
    }
    (feed, sel.schema)
  }

  /** Shared by st17/st19/pl04: documents split odd/even into two
    * chronological files, so duplicate/near-dup groups straddle
    * micro-batches in every consumer. */
  private def docsFeed(s: SparkSession, d: String) = {
    val docs = graft.sources.Tables.documents(s, d)
    val feed = Scratch.staged(s, d, "feed_docs2") { f =>
      val dd = materialized(docs)
      val t0 = System.currentTimeMillis() - 180000
      stageFeedFile(f, dd.filter(col("doc_id") % 2 === 0), "b1.parquet", t0)
      stageFeedFile(f, dd.filter(col("doc_id") % 2 =!= 0), "b2.parquet", t0 + 60000)
    }
    (feed, docs.schema)
  }

  private def embFeed(s: SparkSession, d: String) = {
    val emb = graft.sources.Tables.embeddings(s, d)
    val feed = Scratch.staged(s, d, "feed_emb2") { f =>
      val ee = materialized(emb)
      val t0 = System.currentTimeMillis() - 180000
      stageFeedFile(f, ee.filter(col("vec_id") % 2 === 0), "b1.parquet", t0)
      stageFeedFile(f, ee.filter(col("vec_id") % 2 =!= 0), "b2.parquet", t0 + 60000)
    }
    (feed, emb.schema)
  }

  /** st35's feed: pl11's two delta shards arriving as two files — one
    * crawl shard per micro-batch, the nightly-drop-becomes-a-stream
    * shape. */
  private def pl11DeltaFeed(s: SparkSession, d: String) = {
    import graft.operators.Incremental
    val docs = graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
    val P = Incremental.Parts
    val feed = Scratch.staged(s, d, "feed_pl11d") { f =>
      val dd = materialized(docs)
      val t0 = System.currentTimeMillis() - 180000
      stageFeedFile(f,
        dd.filter(pmod(col("doc_id"), lit(P.toLong)) === P - 2), "b1.parquet", t0)
      stageFeedFile(f,
        dd.filter(pmod(col("doc_id"), lit(P.toLong)) === P - 1), "b2.parquet", t0 + 60000)
    }
    (feed, docs.schema)
  }

  /** st35's build — STREAMING INCREMENTAL CURATION: pl11's nightly
    * machinery driven by arriving micro-batches instead of a batch
    * runner. Base shards are built once pre-stream; each trigger then
    * lands one crawl shard and runs the full O(delta + affected) night
    * (ledger appends, additive df merge, crossing diff, affected-shard
    * closure, shard rewrite) against the artifacts the PREVIOUS
    * trigger's night refreshed. foreachBatch is at-least-once and a
    * night's appends are NOT self-collapsing, so each night runs behind
    * its per-shard done-marker (Incremental.nightIdempotent) — a
    * replayed trigger is a no-op, which IncrementalSpec pins directly.
    * Memoized per (app, fixture) like pl11's batch run: the nightly
    * build is one-time fixture state; the query measures the read-back
    * a consumer pays. Oracle: pl11's — the full from-scratch recompute
    * over the final corpus, which the streamed nights must converge to
    * exactly. */
  private def pl11StreamRun(s0: SparkSession, d: String): graft.operators.Incremental.Dirs = {
    val s = callerWidth(s0)
    import graft.operators.Incremental
    val root = Scratch.dir(s, d, "st35_root")
    Scratch.memo(root) {
      Scratch.deleteRec(new java.io.File(root))
      val dirs = Incremental.Dirs(root)
      val P = Incremental.Parts
      val part = pmod(col("doc_id"), lit(P.toLong)).cast("int")
      Incremental.baseBuild(s, dirs,
        graft.sources.Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text"))
          .filter(part < P - 2))
      runEach(feed(s, pl11DeltaFeed(s, d))) { (batch, _) =>
        // Shards present in this trigger — a ≤Parts-int driver
        // scalar (st22's routing class); processed in shard order
        // so a combined trigger still applies nights in sequence.
        val parts = batch.select(part.as("p")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        parts.foreach { p =>
          Incremental.nightIdempotent(s, dirs,
            batch.filter(part === p), p)
          ()
        }
      }
      dirs
    }
  }

  /** st37's purge-request feed: two takedown batches (doc_id only),
    * landed as separate files so the SECOND purge night runs against
    * artifacts the first purge's rewrite already refreshed (the
    * stale-side-artifact rot point, exercised not assumed). The two
    * predicates are shard-confined to DIFFERENT crawl shards
    * (doc_id%16 = 5 → shard 5, doc_id%16 = 9 → shard 1). */
  private def st37PurgeFeed(s: SparkSession, d: String) = {
    val ids = graft.sources.Tables.documents(s, d).select(col("doc_id"))
    val feed = Scratch.staged(s, d, "feed_st37p") { f =>
      val t0 = System.currentTimeMillis() - 180000
      stageFeedFile(f, ids.filter(pmod(col("doc_id"), lit(16L)) === 5),
        "p1.parquet", t0)
      stageFeedFile(f, ids.filter(pmod(col("doc_id"), lit(16L)) === 9),
        "p2.parquet", t0 + 60000)
    }
    (feed, ids.schema)
  }

  /** st37's build — STREAMING TAKEDOWN: pl12's purge night driven by
    * arriving delete-request micro-batches (the GDPR/licensing queue a
    * production corpus actually consumes) instead of a batch runner.
    * The full corpus is built once pre-stream; each trigger lands one
    * takedown batch and runs the complete O(purge + affected) DELETE
    * night (negative df merge, downward crossings, re-canonicalization,
    * physical removal) under the night commit protocol, behind a
    * CONTENT-DERIVED purge marker (Incremental.purgeIdempotent — the
    * batch's doc_id%16 remainder names the night, so an at-least-once
    * replay maps to the same marker and is a structural no-op).
    * Memoized per (app, fixture); oracle = the funnel recompute over
    * the survivors of BOTH purges. */
  private def st37StreamRun(s0: SparkSession, d: String): graft.operators.Incremental.Dirs = {
    val s = callerWidth(s0)
    import graft.operators.Incremental
    val root = Scratch.dir(s, d, "st37_root")
    Scratch.memo(root) {
      Scratch.deleteRec(new java.io.File(root))
      val dirs = Incremental.Dirs(root)
      Incremental.baseBuild(s, dirs,
        graft.sources.Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text")))
      val rem = pmod(col("doc_id"), lit(16L)).cast("int")
      runEach(feed(s, st37PurgeFeed(s, d))) { (batch, _) =>
        // Purge groups present in this trigger — a bounded driver
        // scalar (st22's routing class); processed in remainder
        // order so a combined trigger applies purges in sequence.
        val rems = batch.select(rem.as("r")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        rems.foreach { r =>
          Incremental.purgeIdempotent(s, dirs,
            batch.filter(rem === r), s"purge_r$r")
          ()
        }
      }
      dirs
    }
  }

  /** st39's build — STREAMING ESTATE TAKEDOWN: the missing streaming
    * leg of the delete matrix (text batch pl12 / stream st37; vector
    * batch ss15 / stream st38; ESTATE batch pl15 / stream THIS). The
    * full estate (doc-serve lookup, shingle/band ledgers, gram index,
    * perceptual bands, cluster labels) is built once pre-stream; each
    * trigger lands one delete-request batch (st37's queue, reused
    * verbatim) and runs the complete estate purge night — pruned
    * survivor rewrites, affected-component-only relabeling — under the
    * commit protocol behind CONTENT-DERIVED tags
    * (Incremental.estatePurgeIdempotent: the batch's doc_id%16
    * remainder names the night, so an at-least-once replay is a
    * structural no-op; the second trigger purges artifacts the first
    * already rewrote — the stale-side-artifact rot point). Memoized
    * per (app, fixture); oracle = every artifact REBUILT over the
    * survivors of BOTH purges. */
  private def st39StreamRun(s0: SparkSession, d: String): String = {
    val s = callerWidth(s0)
    import graft.operators.Incremental
    val root = Scratch.dir(s, d, "st39_root")
    Scratch.memo(root) {
      Scratch.deleteRec(new java.io.File(root))
      Incremental.estateBuild(s, root,
        graft.sources.Tables.documents(s, d)
          .select(col("doc_id"), col("text")))
      val rem = pmod(col("doc_id"), lit(16L)).cast("int")
      runEach(feed(s, st37PurgeFeed(s, d))) { (batch, _) =>
        val rems = batch.select(rem.as("r")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        rems.foreach { r =>
          Incremental.estatePurgeIdempotent(s, root,
            batch.filter(rem === r), s"estate_purge_r$r")
          ()
        }
      }
      root
    }
  }

  /** st38's tombstone feed: two vector-delete batches (vec_id + the
    * cell routing key the production delete queue carries), mirroring
    * st37's text-side predicates. */
  private def st38TombFeed(s: SparkSession, d: String) = {
    val ids = graft.sources.Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"))
    val feed = Scratch.staged(s, d, "feed_st38t") { f =>
      val t0 = System.currentTimeMillis() - 180000
      stageFeedFile(f, ids.filter(pmod(col("vec_id"), lit(16L)) === 5),
        "t1.parquet", t0)
      stageFeedFile(f, ids.filter(pmod(col("vec_id"), lit(16L)) === 9),
        "t2.parquet", t0 + 60000)
    }
    (feed, ids.schema)
  }

  /** st38's per-trigger step, extracted pure for the replay spec:
    * append the arriving tombstones to the cell-partitioned pending
    * ledger (O(deletes)), then DELETE-COMPACT every pending tombstone
    * into the live index (Similarity.deleteCompactCells — the staged-
    * swap kernel ss15 uses) and retire the ledger. Unlike the text
    * nights, NO done-marker is needed: deletes are naturally
    * self-collapsing — a replayed batch re-appends ids that are
    * already gone from the index, the anti-join removes nothing, and
    * the retire empties the ledger again (the spec replays a middle
    * batch and pins byte-level convergence). A crash between compact
    * and retire re-compacts as a no-op on restart; a crash mid-swap is
    * covered by the kernel's staged-swap idempotence. */
  private[graft] def vecTombStep(
      batch: DataFrame, liveDir: String, tombDir: String): Unit = {
    import graft.operators.Similarity
    val ss = batch.sparkSession
    // Ledger layout is deliberately FLAT (no label partition dirs): the
    // empty bootstrap/retire writes have no partition values to create
    // dirs from, and a mixed flat+partitioned directory breaks parquet
    // partition discovery. The ledger is tiny (pending deletes between
    // compactions); production buckets it by cell the way ss15's
    // nonempty batch ledger is.
    batch.select(col("vec_id"), col("label"))
      .write.mode("append").parquet(tombDir)
    val pending = ss.read.parquet(tombDir)
      .select(col("vec_id"), col("label")).localCheckpoint()
    Similarity.deleteCompactCells(ss, liveDir, pending)
    // Retire the compacted ledger: overwrite with an empty, correctly
    // typed relation (neardupSeed's bootstrap discipline) so the next
    // trigger's read-back and the final merge-on-read probe stay valid.
    pending.filter(lit(false))
      .write.mode("overwrite").parquet(tombDir)
  }

  /** st38's build — STREAMING VECTOR TOMBSTONE INGEST: the vector-side
    * twin of st37 (batch: ss15 / pl13; stream: this): delete requests
    * arrive as micro-batches, each trigger lands its tombstones in the
    * pending ledger and delete-compacts them into the live index —
    * trigger 2's compaction rewrites cells trigger 1 already swapped
    * (the stale-artifact exercise). Serving always goes through
    * MERGE-ON-READ against the pending ledger ([[graft.operators
    * .Similarity.probeWithTombstones]]), so deletes are visible even
    * between a ledger append and its compaction. Memoized per (app,
    * fixture); oracle = ss02's exact probe over the survivors. */
  private[graft] def st38StreamRun(s0: SparkSession, d: String): (String, String) = {
    val s = callerWidth(s0)
    import graft.operators.Similarity
    val live = Scratch.dir(s, d, "st38_live")
    val tombDir = Scratch.dir(s, d, "st38_tomb")
    Scratch.memo(live) {
      val vecsAll = Similarity.vecs(s, d)
        .select(col("vec_id"), col("e"), col("nrm"), col("label"))
      vecsAll.write.mode("overwrite").partitionBy("label").parquet(live)
      graft.sources.Pinned.commit(new java.io.File(live)): Unit
      vecsAll.filter(lit(false)).select(col("vec_id"), col("label"))
        .write.mode("overwrite").parquet(tombDir)
      runEach(feed(s, st38TombFeed(s, d))) { (batch, _) =>
        vecTombStep(batch, live, tombDir)
      }
      (live, tombDir)
    }
  }

  /** Bench-setup hook: build every staged feed for fixture `d` so the
    * timed streaming queries measure the operator, not the scaffold. */
  def prepareFeeds(s: SparkSession, d: String): Unit = {
    st06Feed(s, d); st14Feed(s, d); st16Feed(s, d)
    docsFeed(s, d); embFeed(s, d); pl11DeltaFeed(s, d); st37PurgeFeed(s, d)
    st38TombFeed(s, d)
    ()
  }

  /** Bench-setup hook: run st35's/st37's/st38's one-time streamed
    * builds pre-clock (pl11Run's discipline — the timed query measures
    * the read-back). */
  def prepareIncrementalStream(s: SparkSession, d: String): Unit = {
    st37StreamRun(s, d)
    st38StreamRun(s, d)
    st39StreamRun(s, d)
    pl11StreamRun(s, d)
    ()
  }

  /** pl04's per-batch curation partial — extracted pure (like
    * [[exactDedupPartial]]) so the split/replay invariance of the
    * whole streamed curation stack is spec-testable: quality (ta03),
    * bench-gram contamination flag, batch-local min-id canonical per
    * content key with attributes riding the min-struct. */
  private[graft] def curationPartial(
      batch: DataFrame, bid: Long, bench: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val b = batch.filter(col("doc_id") % 10 =!= 0)
    // ta03's quality formula IN-ROW (cleanedScoredOf's discipline): pl04
    // only consumes the composite `quality`, and its two terms are
    // size(tk) / size(array_distinct(tk)) — the same exact integers
    // qualityOf derives by explode + two token-keyed shuffles, which a
    // per-TRIGGER evaluation cannot afford (two exchanges of the token
    // stream per micro-batch, guide §2.4). qualityOf keeps the exploded
    // shape for ta03, whose max_tf term needs per-token counts.
    // qualityOf's explode emits no row for a token-less doc and the
    // original join was inner, so the size(tk) > 0 filter is the same
    // membership.
    val toks = "filter(split(text, ' '), x -> x <> '')"
    val scored = b
      .select(col("doc_id"), col("lang"),
        md5(lower(trim(col("text")))).as("content_key"),
        expr(s"size($toks)").cast("double").as("n"),
        expr(s"size(array_distinct($toks))").cast("double").as("u"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("lang"), col("content_key"),
        round(least(col("n") / 100d, lit(1d)) * 0.5 + (col("u") / col("n")) * 0.5,
          6).as("quality"))
    // No pre-join distinct on the gram stream: the broadcast-hash probe
    // needs no exchange, and the post-join doc_id distinct already
    // collapses multiplicity — the dropped distinct was a full shuffle
    // of the batch's gram stream every trigger (guide §2.4).
    val cont = Dedup.gramHashesOf(b, 8)
      .join(broadcast(bench), "gh")
      .select(col("doc_id")).distinct()
    scored
      .join(cont.withColumn("cflag", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("content_key"))
      .agg(min(struct(col("doc_id"), col("lang"), col("quality"),
        coalesce(col("cflag"), lit(0)).as("contaminated"))).as("m"))
      .withColumn("batch_id", lit(bid))
      .select(col("content_key"), col("batch_id"), col("m"))
  }

  /** pl04's merge-on-read: replay collapse per (key, batch), then the
    * cross-batch canonical election, then the gate on the CANONICAL
    * doc's attributes. min-of-min-structs is associative/idempotent, so
    * any batch split and any replay elect the same winners. */
  private[graft] def curationMerge(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("content_key"), col("batch_id"))
      .agg(min(col("m")).as("m"))
      .groupBy(col("content_key"))
      .agg(min(col("m")).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.lang").as("lang"),
        col("m.quality").as("quality"), col("m.contaminated").as("contaminated"))
      .filter(col("quality") >= 0.5 && col("contaminated") === 0)
      .select(col("doc_id"), col("lang"), col("quality"))

  // ------------------------------------------------------------------
  // Dedup-ledger compaction (io07/st24's small-file discipline applied
  // to st19/st36's signature ledgers — the round-9 verdict's growth
  // item: every trigger appends one parquet delta per write task and
  // every probe reads the accumulating file set forever).
  //
  // CONTENT RETENTION: compaction bounds the FILE count; ledger ROWS
  // are intentionally retained forever — that is what makes cross-
  // batch near-dup detection correct (a dup of a year-old doc must
  // still match). Rows leave the ledger only through the ESTATE PURGE
  // (Incremental.estatePurge — pl15): a takedown anti-joins the purged
  // ids out of exactly these ledger shapes (the `sets`/`bands`/`phash`
  // estate legs) under the night commit protocol, which is the one
  // retention story a compliance regime actually needs. A time-based
  // TTL would be WRONG here — it silently re-admits old duplicates.
  // ------------------------------------------------------------------

  private def ledgerDataFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  private def deleteRecDir(f: java.io.File): Unit =
    Scratch.deleteRec(f)

  /** Complete (or discard) a ledger compaction a crash interrupted:
    * the swap below is live → `_old`, `_compacting` → live, drop
    * `_old`; the only window where the live dir is missing has a fully
    * written (`_SUCCESS`-marked) `_compacting` to promote. Any other
    * leftover side dir is a dead attempt — the live ledger is intact,
    * discard them. Called at step entry so an at-least-once replay of
    * the surrounding trigger always probes a complete ledger. */
  private[graft] def ledgerRecover(dir: String): Unit = {
    val live = new java.io.File(dir)
    val tmp = new java.io.File(dir + "_compacting")
    val old = new java.io.File(dir + "_old")
    if (!live.exists() && new java.io.File(tmp, "_SUCCESS").exists()) {
      require(tmp.renameTo(live), s"ledger recover: promote $tmp failed")
      deleteRecDir(old)
    } else {
      deleteRecDir(tmp)
      deleteRecDir(old)
    }
  }

  /** When the accumulated delta-file count passes `maxDeltas`, collapse
    * the ledger into ceil(rows / rowsPerFile) files hash-bucketed by
    * `keys` (equal band keys co-locate — the bucketed-table shape the
    * probe's shuffle-hash join wants), staged aside and swapped in with
    * two renames so readers never see a half-written ledger. Content-
    * preserving by construction — the st19/st36 oracles and the replay
    * spec run THROUGH compactions unchanged. Production sizes
    * `maxDeltas` well above the per-trigger task count so the O(ledger)
    * rewrite amortizes (io07's record-budget discipline); the fixture
    * default is low so the path is exercised live, not just in specs.
    * Returns whether a compaction ran. */
  private[graft] def ledgerCompact(dir: String, keys: Seq[Column],
      maxDeltas: Int = 16, rowsPerFile: Long = 4000000L): Boolean = {
    if (ledgerDataFiles(dir).size <= maxDeltas) false
    else {
      val ss = SparkSession.active
      val live = new java.io.File(dir)
      val tmp = new java.io.File(dir + "_compacting")
      val old = new java.io.File(dir + "_old")
      deleteRecDir(tmp)
      val src = ss.read.parquet(dir)
      val width = math.max(1L,
        math.ceil(src.count().toDouble / rowsPerFile).toLong).toInt
      src.repartition(width, hash(keys: _*))
        .write.mode("overwrite").parquet(tmp.getPath)
      deleteRecDir(old)
      require(live.renameTo(old), s"ledger compact: stash $live failed")
      require(tmp.renameTo(live), s"ledger compact: promote $tmp failed")
      deleteRecDir(old)
      true
    }
  }

  /** st19's ledger bootstrap: seed each ledger/sink with an EMPTY
    * correctly-typed relation so batch 0 probes a valid (empty) ledger
    * and the read-back never hits a missing path. */
  private[graft] def neardupSeed(emptyDocs: DataFrame,
      bandsDir: String, setsDir: String, outDir: String): Unit = {
    import graft.operators.Dedup
    val seedSets = Dedup.shingleSetsOf(emptyDocs)
    Seq(
      bandsDir -> Dedup.bandKeysOf(Dedup.minhashWideOf(seedSets, 8)),
      setsDir  -> seedSets,
      outDir   -> Dedup.verifyPairs(
        seedSets.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b")),
        seedSets, 0.5)
    ).foreach { case (dir, df) => df.write.mode("overwrite").parquet(dir) }
  }

  /** st19's per-batch incremental LSH step: probe the signature ledger
    * (intra-batch band self-join ∪ new-vs-ledger band join), verify
    * exact jaccard against the shingle ledger, append confirmed pairs,
    * then append this batch's signatures/shingles. Extracted so the
    * split-invariance and replay-idempotence claims are spec-testable. */
  private[graft] def neardupStep(batch: DataFrame,
      bandsDir: String, setsDir: String, outDir: String,
      maxDeltas: Int = 16): Unit = {
    import graft.operators.Dedup
    val ss = batch.sparkSession
    ledgerRecover(bandsDir)
    ledgerRecover(setsDir)
    // Ledger-append FILE COUNT tracks the micro-batch's INPUT size (its
    // scan split count), not the session's shuffle width: appending one
    // near-empty file per shuffle partition per trigger (32/trigger)
    // blows past maxDeltas every trigger and turns the threshold-gated
    // compaction into an every-trigger O(ledger) rewrite — measured as
    // the bulk of st19's 870 tasks/run. Guide §6's output-sizing rule:
    // a trigger that ingested k scan splits appends ~k ledger files.
    val k = math.max(1, batch.rdd.getNumPartitions)
    val sets = materialized(Dedup.shingleSetsOf(
      batch.repartition(ss.sparkContext.defaultParallelism, col("doc_id"))))
    val bands = materialized(Dedup.bandKeysOf(Dedup.minhashWideOf(sets, 8)))
    val intra = bands.as("a")
      .join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val oldBands = ss.read.parquet(bandsDir)
    val cross = bands.as("n")
      .join(oldBands.as("o"),
        col("n.bk") === col("o.bk") && col("n.doc_id") =!= col("o.doc_id"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
              greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
    val cand = intra.union(cross).distinct()
    val lookup = sets.union(ss.read.parquet(setsDir))
    Dedup.verifyPairs(cand, lookup, 0.5)
      .coalesce(k).write.mode("append").parquet(outDir)
    // Ledger append AFTER the probe: this batch's docs must not
    // cross-match themselves (intra already covered in-batch).
    // coalesce(k) on the MATERIALIZED frames is a narrow merge of cached
    // partitions — no recompute, no extra exchange.
    bands.coalesce(k).write.mode("append").parquet(bandsDir)
    sets.coalesce(k).write.mode("append").parquet(setsDir)
    // Threshold-gated small-file collapse: the signature ledger buckets
    // by band key (the probe's join key), the shingle ledger by doc_id
    // (the verify's lookup key).
    ledgerCompact(bandsDir, Seq(col("bk")), maxDeltas)
    ledgerCompact(setsDir, Seq(col("doc_id")), maxDeltas)
    ()
  }

  /** st36's ledger bootstrap (neardupSeed's discipline): seed the band
    * ledger and the pair sink with EMPTY correctly-typed relations. */
  private[graft] def phashSeed(emptyDocs: DataFrame,
      bandsDir: String, outDir: String): Unit = {
    import graft.operators.Multimodal
    val bands = Multimodal.phashBands(Multimodal.phashWideOf(emptyDocs),
      Multimodal.WideHashBits, 2, 15)
    bands.write.mode("overwrite").parquet(bandsDir)
    bands.as("a").join(bands.as("b"), col("a.band") === col("b.band"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("cast(bit_count(a.phash ^ b.phash) as int)").as("hamming"))
      .write.mode("overwrite").parquet(outDir)
  }

  /** st36's per-batch incremental step — st19's signature-ledger
    * discipline applied to the MULTIMODAL column: decode+hash the
    * batch's blobs (mm10's wide raster path), band with the
    * entropy-parametric layout, probe the PHASH LEDGER (intra-batch
    * band self-join ∪ new-vs-ledger band join — candidates bounded by
    * band-bucket occupancy, which the 2^20-bucket bands keep linear),
    * and append the hamming-verified pairs plus this batch's banded
    * hashes. Simpler than st19 in one structural way: the 60-bit hash
    * RIDES the band rows, so the verify is in-row arithmetic — no side
    * lookup relation at all. Every pair lands at least once (intra if
    * the blobs share a batch, else when the later blob arrives);
    * replays append byte-identical pairs collapsed by the read-back
    * distinct. At 100 TB the ledger is a parquet table bucketed by
    * (band, bv). */
  private[graft] def phashStep(batch: DataFrame,
      bandsDir: String, outDir: String, maxDeltas: Int = 16): Unit = {
    import graft.operators.Multimodal
    val ss = batch.sparkSession
    ledgerRecover(bandsDir)
    // Input-split-derived append width (neardupStep's rule): the decode
    // stays at full parallelism (blob hashing is CPU-bound at every
    // batch size), only the ledger/pair APPENDS collapse to ~one file
    // per ingested scan split.
    val k = math.max(1, batch.rdd.getNumPartitions)
    val bands = materialized(Multimodal.phashBands(
      Multimodal.phashWideOf(
        batch.repartition(ss.sparkContext.defaultParallelism, col("doc_id"))),
      Multimodal.WideHashBits, 2, 15))
    val intra = bands.as("a").hint("shuffle_hash")
      .join(bands.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("cast(bit_count(a.phash ^ b.phash) as int)").as("hamming"))
    val cross = bands.as("n").hint("shuffle_hash")
      .join(ss.read.parquet(bandsDir).as("o").hint("shuffle_hash"),
        col("n.band") === col("o.band") && col("n.bv") === col("o.bv") &&
        col("n.doc_id") =!= col("o.doc_id"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
              greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"),
        expr("cast(bit_count(n.phash ^ o.phash) as int)").as("hamming"))
    intra.union(cross).distinct()
      .filter(col("hamming") <= 2)
      .coalesce(k).write.mode("append").parquet(outDir)
    // Ledger append AFTER the probe (intra already covered in-batch).
    bands.coalesce(k).write.mode("append").parquet(bandsDir)
    // Threshold-gated small-file collapse, bucketed by the probe's
    // (band, bv) join key.
    ledgerCompact(bandsDir, Seq(col("band"), col("bv")), maxDeltas)
    ()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- Streaming tumbling-window aggregation; same oracle as the batch
    //    q27 — stream/batch parity is the assertion.
    "st01_stream_tumbling" -> ((s0, d) => {
      val s = stateTuned(s0)
      val agg = eventStream(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"), col("n"), col("value_cents"))
      runToTable(agg, OutputMode.Complete())
    }),

    // -- Streaming dedup (dropDuplicates state) feeding an aggregation:
    //    distinct (user, event_type) pairs counted per type.
    "st02_stream_dedup" -> ((s0, d) => {
      val s = stateTuned(s0)
      val agg = eventStream(s, d)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
      runToTable(agg, OutputMode.Complete())
    }),

    // -- Custom state via mapGroupsWithState — the faithful analog of the
    //    reference's "stateful MiddleFunc" (SURVEY.md §2.3): per-user
    //    running count + cents sum held in a typed state store. Update
    //    mode emits one row per key per batch; n_events is monotone, so
    //    the final state per key is the max-n_events row — selected with
    //    a deterministic argmax, robust to AvailableNow batch splits.
    "st03_stateful_running" -> ((s0, d) => {
      val s = stateTuned(s0)
      import s.implicits._
      val updates = eventStream(s, d)
        .select(col("user_id"), cents(col("value")).as("cents")).as[EventRow]
        .groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[EventRow], state: GroupState[UserAgg]) =>
            val prev = state.getOption.getOrElse(UserAgg(0L, 0L))
            var n = prev.n_events
            var cents = prev.value_cents
            rows.foreach { r =>
              n += 1
              cents += r.cents
            }
            val next = UserAgg(n, cents)
            state.update(next)
            UserAggOut(uid, next.n_events, next.value_cents)
        }
      val emitted = runToTable(updates, OutputMode.Update())
      // Final state per key = the monotone-max emission.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      emitted.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_events"), col("value_cents"))
    }),

    // -- flatMapGroupsWithState — the fully general stateful MiddleFunc
    //    analog (0..n outputs per key per batch, SURVEY §7.3): emits one
    //    row per (user, event_type) the first time that type is seen for
    //    the user, holding the seen-set in typed state. Equivalent to a
    //    distinct — which is exactly what the oracle computes.
    "st05_first_seen" -> ((s0, d) => {
      val s = stateTuned(s0)
      import s.implicits._
      val out = eventStream(s, d)
        .select(col("user_id"), col("event_type")).as[(Long, String)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, String)], state: GroupState[Set[String]]) =>
            val seen = state.getOption.getOrElse(Set.empty[String])
            val fresh = rows.map(_._2).toSeq.distinct.filterNot(seen)
            state.update(seen ++ fresh)
            fresh.iterator.map(t => (uid, t))
        }
        .toDF("user_id", "event_type")
      runToTable(out, OutputMode.Append())
    }),

    // -- Watermarked append-mode aggregation with REAL late-data drop:
    //    the feed is three files processed as three micro-batches
    //    (maxFilesPerTrigger=1, modtime order). Batch 1 holds the rows in
    //    (max-130min, max-10min] and advances the watermark; batch 2 (the
    //    newest rows, > max-10min) is a spacer that is never late and
    //    pushes the committed watermark to max(ts) - 10 min — needed
    //    because Spark filters batch N's late rows with the watermark
    //    committed from batch N-2's data (measured: a two-file feed drops
    //    nothing). Batch 3 holds only rows ≥ 2h10m old, so each lands in
    //    an already-closed window behind either candidate watermark and
    //    is dropped (numRowsDroppedByWatermark > 0). Append mode then
    //    emits exactly the recent windows whose end ≤ the final
    //    watermark — a closed form the DuckDB oracle recomputes.
    "st06_watermark_late" -> ((s0, d) => {
      val s = stateTuned(s0)
      val agg = feed(s, st06Feed(s, d))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"), col("n"), col("value_cents"))
      runToTable(agg, OutputMode.Append())
    }),

    // -- Production sink shape, driver-checked: Update-mode tumbling agg
    //    through foreachBatch → parquet APPEND (each micro-batch writes
    //    only its changed windows, distributed — no memory sink, no
    //    Complete-mode driver materialization). Read-back picks the last
    //    emission per window (batch_id argmax), the same monotone-state
    //    selection st03 uses; same oracle as st01 = stream/batch parity.
    "st07_foreachbatch_sink" -> ((s0, d) => {
      val s = stateTuned(s0)
      // Deterministic scratch dir, cleared up front: the sink appends,
      // so stale batches from a previous harness run must not survive.
      val outDir = Scratch.fresh(s, d, "st07_out")
      val agg = eventStream(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"), col("n"), col("value_cents"))
      runEach(agg, OutputMode.Update()) { (batch, batchId) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hour"), col("event_type"))
        .orderBy(col("batch_id").desc)
      s.read.parquet(outDir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("hour"), col("event_type"), col("n"), col("value_cents"))
    }),

    // -- DSv2 source as a STREAM: io06's generator read through its
    //    MicroBatchStream leg (admission control caps each trigger at
    //    rowsPerBatch ids — the external-queue shape: offsets are
    //    positions, batches are offset ranges, replayable from any
    //    offset). AvailableNow drains 10000 ids in exactly 4 batches of
    //    2500; foreachBatch stamps each batch's per-group aggregate with
    //    its batch_id, so the output pins WHERE the batch boundaries
    //    fell — the oracle recomputes them as id div 2500. A restart
    //    spec (SourcesSpec) proves offset recovery mid-stream.
    "st15_dsv2_stream" -> ((s0, d) => {
      val s = stateTuned(s0)
      val outDir = Scratch.fresh(s, d, "st15_out")
      val stream = s.readStream.format("graft.sources.GenSource")
        .option("rows", "10000").option("partitions", "4")
        .option("rowsPerBatch", "2500").load()
      runEach(stream) { (batch, batchId) =>
        batch.groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"),
               min(col("id")).as("min_id"), max(col("id")).as("max_id"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).select(col("batch_id"), col("grp"),
        col("n"), col("sum_val"), col("min_id"), col("max_id"))
    }),

    // -- Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    //    evicts seen-keys older than the watermark, so state is bounded
    //    by the watermark window — st02's dropDuplicates keeps every key
    //    forever, which a 100 TB/day feed cannot. Single-batch
    //    AvailableNow over the fixture dedups everything, so the oracle
    //    is the plain distinct.
    "st10_dedup_within_watermark" -> ((s0, d) => {
      val s = stateTuned(s0)
      val out = eventStream(s, d)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      runToTable(out, OutputMode.Append())
    }),

    // -- Stream-stream interval join: clicks joined to the views that
    //    follow within 5 minutes, both sides watermarked (bounds the
    //    join state — without watermarks the buffers grow forever at
    //    100 TB/day). Inner join in Append mode; with AvailableNow over
    //    the fixture the result equals the batch interval join, which is
    //    exactly what the oracle computes (q31's shape, pair-level).
    "st08_stream_stream_join" -> ((s0, d) => {
      val s = stateTuned(s0)
      val clicks = eventStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
        .withWatermark("cts", "1 hour")
      val views = eventStream(s, d)
        .filter(col("event_type") === "view")
        .select(col("user_id").as("vuser"), col("ts").as("vts"),
          col("event_id").as("view_id"))
        .withWatermark("vts", "1 hour")
      val joined = clicks.join(views,
        expr("user_id = vuser AND vts > cts AND vts <= cts + interval 5 minutes"))
        .select(col("click_id"), col("view_id"), col("user_id"))
      runToTable(joined, OutputMode.Append())
    }),

    // -- Stream-static join: the unbounded event stream enriched with a
    //    bounded dimension (customer) — the static side broadcasts per
    //    micro-batch, no stream state at all. The standard shape for
    //    dimension enrichment in a 100 TB/day feed.
    "st09_stream_static_join" -> ((s0, d) => {
      val s = stateTuned(s0)
      val users = graft.sources.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val enriched = eventStream(s, d)
        .join(broadcast(users), col("user_id") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToTable(enriched, OutputMode.Complete())
    }),

    // -- Sliding event-time windows: 1-hour windows every 30 minutes —
    //    each event lands in exactly 2 overlapping windows. Same
    //    Complete-mode parity harness as st01; the oracle reconstructs
    //    the two epoch-aligned window starts per event in closed form.
    "st11_sliding_window" -> ((s0, d) => {
      val s = stateTuned(s0)
      val agg = eventStream(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("n"), col("value_cents"))
      runToTable(agg, OutputMode.Complete())
    }),

    // -- transformWithState (Spark 4 arbitrary-state API) on the RocksDB
    //    state store: per-user distinct-type count in a ValueState —
    //    see DistinctTypesProcessor, on [[rocksSession]].
    "st12_transform_with_state" -> ((s0, d) => {
      val s = rocksSession(s0)
      import s.implicits._
      val out = eventStream(s, d)
        .select(col("user_id"), col("event_type")).as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new DistinctTypesProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_types")
      val emitted = runToTable(out, OutputMode.Update())
      // Final state per key = the monotone-max emission (st03 pattern).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_types").desc)
      emitted.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_types"))
    }),

    // -- transformWithState with LIST state: per-user 3 most-recent
    //    events (see LastEventsProcessor), on [[rocksSession]] as in
    //    st12; final rows = the emission tagged with the per-key max
    //    seen-count.
    "st13_list_state_recent" -> ((s0, d) => {
      val s = rocksSession(s0)
      import s.implicits._
      val out = eventStream(s, d)
        .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new LastEventsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_seen", "rank", "event_id")
      val emitted = runToTable(out, OutputMode.Update())
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      emitted.withColumn("mx", max(col("n_seen")).over(w))
        .filter(col("n_seen") === col("mx"))
        .select(col("user_id"), col("rank"), col("event_id"))
    }),

    // -- Streaming sessionization: session_window gap-merges per user in
    //    the state store; same session semantics as the batch q28, and
    //    the oracle recomputes it with a pure-SQL gap-and-island
    //    formulation — three implementations, one answer.
    // -- PRODUCTION-shape sessionization: session_window + watermark in
    //    APPEND mode over a multi-batch feed — sessions close and emit
    //    incrementally as the watermark passes their end (last event +
    //    gap), instead of st04's Complete-mode full re-emission (which a
    //    100 TB/day feed cannot afford). The feed is two chronologically
    //    split files (st06's staged-file harness, maxFilesPerTrigger=1):
    //    the split is chronological, so no row is ever late and the
    //    result is the closed form the oracle recomputes — every
    //    gap-and-island session whose (last_ts + 30 min) end is at or
    //    before the final watermark (max ts - 10 min). Sessions spanning
    //    the batch boundary exercise the state-store merge.
    "st14_session_append" -> ((s0, d) => {
      val s = stateTuned(s0)
      val agg = feed(s, st14Feed(s, d))
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start_us"),
          unix_micros(col("session_window.end")).as("sess_end_us"),
          col("n_events"))
      runToTable(agg, OutputMode.Append())
    }),

    // -- APPEND-mode DYNAMIC-GAP sessionization — q64's per-event-type
    //    engagement model (clicks time out in 5 minutes, everything else
    //    in 30) running in st14's production harness: session_window
    //    with a CalendarInterval gap EXPRESSION + watermark, sessions
    //    emitted incrementally as the watermark passes their end (the
    //    running MAX of member `ts + gap(event)` ends). The feed is
    //    st14's chronological two-file split, so no row is late and the
    //    closed form is exact: every q64-style gaps-and-islands session
    //    whose merged end is at or before the final watermark
    //    (max ts − 10 min); sessions spanning the batch boundary
    //    exercise the dynamic-gap state-store merge. Same scale shape
    //    as st14: state is per-open-session, bounded by the watermark.
    "st23_dynamic_session_append" -> ((s0, d) => {
      val s = stateTuned(s0)
      // make_interval: session_window's gap expression must be
      // CalendarIntervalType (q64's discipline).
      val gap = when(col("event_type") === "click",
          expr("make_interval(0, 0, 0, 0, 0, 5, 0)"))
        .otherwise(expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
      val agg = feed(s, st14Feed(s, d))
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start_us"),
          unix_micros(col("session_window.end")).as("sess_end_us"),
          col("n_events"))
      runToTable(agg, OutputMode.Append())
    }),

    // -- STREAMING ANN SERVING — the retrieval-service deployment shape
    //    (the reference model is unbounded-first,
    //    /root/reference/pipe/node.go:12-13): a query stream probes the
    //    PERSISTED IVF artifact per micro-batch. st09's stream-static
    //    join shape applied to ss02's stored inverted file: the index is
    //    built ONCE (outside the stream — [[graft.operators.Similarity
    //    .ivfIndex]]), each arriving batch of query vectors norms
    //    itself batch-locally and runs the SAME probe plan fragment ss02
    //    runs (`ivfServePartial` — shared code, not parallel code), and
    //    each query's complete top-3 appends to the sink. Stream state
    //    is ZERO (the index is the state, on disk); replays append
    //    byte-identical rows, erased by the read-back distinct — st17's
    //    sink-as-state discipline. Each query lands in exactly one
    //    micro-batch and probes the full static index, so the union over
    //    batches IS ss02's batch answer: the oracle is ss02's verbatim.
    //    At 100 TB the artifact is cell-partitioned on disk, so a
    //    micro-batch touching few cells reads few directories.
    "st22_stream_ann_serve" -> ((s0, d) => {
      val s = stateTuned(s0)
      import graft.operators.Similarity
      val idx = Similarity.ivfIndex(s, d)
      val outDir = Scratch.fresh(s, d, "st22_out")
      runEach(feed(s, embFeed(s, d))) { (batch, _) =>
        Similarity.ivfServePartial(batch, idx)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- STREAMING INDEX INGEST — the WRITE side of the index lifecycle
    //    (ss12 is the batch refresh, st22 the read-side serving; this is
    //    the arrival path): each micro-batch of vectors norms itself and
    //    APPENDS a delta file set into the cell directories of a fresh
    //    index ([[indexIngestBatch]] — st19's ledger-append applied to
    //    the inverted file; no stream state, no rewrite, readers see
    //    base+delta immediately). After the feed drains, one
    //    [[indexCompact]] pass collapses the accumulated per-batch
    //    small files under a per-file row budget AND collapses at-least-once
    //    replays (a re-run batch appends byte-identical vector rows;
    //    dropDuplicates on vec_id is the merge-on-read discipline moved
    //    to compaction time, where a real ingest pays it). The streamed-
    //    in index then serves ss02's exact probe: oracle = ss02's
    //    verbatim — an index built from a stream answers identically to
    //    one built in batch.
    "st24_stream_index_ingest" -> ((s0, d) => {
      val s = stateTuned(s0)
      import graft.operators.Similarity
      val idxDir = Scratch.fresh(s, d, "st24_idx")
      val compactDir = Scratch.fresh(s, d, "st24_idxc")
      runEach(feed(s, embFeed(s, d))) { (batch, _) =>
        indexIngestBatch(batch, idxDir)
      }
      indexCompact(s, idxDir, compactDir)
      Similarity.ivfServePartial(
        graft.sources.Tables.embeddings(s, d), s.read.parquet(compactDir))
    }),

    // -- INDEX LIFECYCLE END-TO-END — st24's ingest and st22's serving
    //    COMPOSED in one pipeline, with compaction landing MID-STREAM:
    //    batch 0 appends into a raw delta dir and is immediately
    //    compacted into the live dir; batch 1 appends its delta
    //    STRAIGHT into the live dir's cell directories. The serving
    //    stream then probes the live dir — a BASE+DELTA layout (each
    //    cell holds compacted base files plus fresh append files), the
    //    state every real index serves from most of the time.
    //    Compaction writes to a DIFFERENT directory than the raw
    //    deltas it collapses, so a reader of the live dir can never
    //    see a vector twice mid-compaction (StreamingSpec pins
    //    exactly-once visibility + the mixed layout). Each query lands
    //    in one serving micro-batch and probes the complete index, so
    //    the union over batches IS ss02's batch answer — the oracle is
    //    ss02's verbatim.
    "st25_stream_lifecycle" -> ((s0, d) => {
      val s = stateTuned(s0)
      import graft.operators.Similarity
      val rawDir = Scratch.fresh(s, d, "st25_raw")
      val liveDir = Scratch.fresh(s, d, "st25_live")
      val outDir = Scratch.fresh(s, d, "st25_out")
      val staged = embFeed(s, d)
      def feedStream = feed(s, staged)
      // Phase A: ingest, compacting after the first delta lands.
      runEach(feedStream) { (batch, bid) =>
        if (bid == 0L) {
          indexIngestBatch(batch, rawDir)
          indexCompact(s, rawDir, liveDir)
        } else indexIngestBatch(batch, liveDir)
      }
      // Phase B: serve every query batch against the base+delta index.
      val idx = s.read.parquet(liveDir)
      runEach(feedStream) { (batch, _) =>
        Similarity.ivfServePartial(batch, idx)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- STREAMING BPE encode — the serving leg of ta26 (as st18 is of
    //    dd08): documents arriving on the feed are tokenized and
    //    resolved against the TRAINED dict artifact (ta29's staged
    //    parquet — train once, encode forever: the deployment shape of
    //    every production tokenizer) per micro-batch, with ZERO stream
    //    state. The per-batch step is ta26's extracted
    //    [[graft.operators.Bpe.subwordsPartial]]: a doc is one row and
    //    never straddles batches, so each doc appends exactly one
    //    self-contained stats row; replays append byte-identical rows,
    //    collapsed by the read-back distinct. The dict join stays
    //    SHUFFLE-HASH inside the batch (vocab grows Heaps-law with the
    //    training corpus — the no-broadcast class). Oracle = ta26's:
    //    stream/batch encode parity is the claim.
    "st26_stream_bpe_encode" -> ((s0, d) => {
      val s = stateTuned(s0)
      // wbkt rides along: the batchLocal encode routes each trigger's
      // word buckets into the dict scan (pruned artifact read).
      val dict = graft.operators.Bpe.bpeDict(s, d)
        .select(col("word"), col("s"), col("wbkt"))
      val outDir = Scratch.fresh(s, d, "st26_out")
      runEach(feed(s, docsFeed(s, d))) { (batch, _) =>
        graft.operators.Bpe.subwordsPartial(batch, dict, batchLocal = true)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- STREAMING DRIFT MONITOR — dq08 at ingest (the dq family's
    //    streaming leg): a production corpus feed is watched for
    //    population drift AS IT ARRIVES, not in a nightly batch. Each
    //    micro-batch runs dq08's extracted counting stage (driftBuckets
    //    — per-bucket exact integer counts, map-side combined) and
    //    appends its partial under its batch_id; bucket counts are
    //    ADDITIVE, so merge-on-read is sum-per-bucket — but sums are
    //    not replay-idempotent, so the read-back collapses (bucket,
    //    batch_id) duplicates FIRST (a replayed batch appends
    //    byte-identical rows; max over them is the value — st17's
    //    discipline) before summing and scoring with the same finalize
    //    stage dq08 runs. ZERO stream state; the sink is the state.
    //    Oracle = dq08's: the monitor's final scores over the full
    //    feed equal the batch audit.
    "st29_stream_drift_monitor" -> ((s0, d) => {
      val s = stateTuned(s0)
      val outDir = Scratch.fresh(s, d, "st29_out")
      runEach(feed(s, docsFeed(s, d))) { (batch, bid) =>
        graft.operators.Profile
          .driftBuckets(batch.select(col("doc_id"), col("n_chars")))
          .withColumn("batch_id", lit(bid))
          .write.mode("append").parquet(outDir)
      }
      val merged = s.read.parquet(outDir)
        .groupBy(col("bucket"), col("batch_id"))
        .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"))
      graft.operators.Profile.driftFinalize(
        merged.select(col("bucket"), col("n_ref"), col("n_cur")))
    }),

    // -- STREAMING DIVERSITY SAMPLING — pl07 at ingest: vectors arrive
    //    on the feed; each micro-batch assigns its rows to k-means
    //    cells (broadcast centroid MODEL — fixed-size, never corpus-
    //    derived), flags quality back from the STAGED corpus relation
    //    (batch side broadcasts — bounded by batch size), keeps the
    //    batch-local per-cell top-5 via the native bounded-heap
    //    operator, and appends the partial. Per-cell top-5 is an
    //    ASSOCIATIVE merge (top-5 of a union ⊆ union of per-batch
    //    top-5s) but not replay-idempotent, so the read-back collapses
    //    byte-identical replayed rows with distinct FIRST (st17's
    //    discipline), then runs the SAME operator over the union.
    //    ZERO stream state; oracle = pl07's verbatim.
    "st30_stream_diverse_sample" -> ((s0, d) => {
      val s = stateTuned(s0)
      import graft.operators.{Curation, Similarity, TextAnalysis}
      val outDir = Scratch.fresh(s, d, "st30_out")
      val ctr = Similarity.kmeansCentroids(s, d)
      // bkt rides along: diversePartial routes each trigger's doc_id
      // buckets into the quality-artifact scan (pruned read).
      val qual = TextAnalysis.stagedQuality(s, d)
        .select(col("doc_id"), col("quality"), col("bkt"))
      runEach(feed(s, embFeed(s, d))) { (batch, _) =>
        Curation.diversePartial(batch, ctr, qual)
          .write.mode("append").parquet(outDir)
      }
      graft.plans.TopK.topKPerGroup(
        s.read.parquet(outDir).distinct(),
        keys = Seq(col("cid")),
        order = Seq(col("quality").desc, col("doc_id").asc),
        k = 5)
    }),

    // -- STREAMING CLASSIFIER SCORING — ta36's serving leg: the trained
    //    quality model (4 fixed-point longs, memoized per fixture by
    //    trainClassifier — train once, serve forever) scores each
    //    arriving document per micro-batch with the shared
    //    classifierServe fragment: features in-row, integer sigmoid,
    //    keep verdict. The model is a bounded 4-long closure constant —
    //    the legitimate broadcast class — so the batch plan is one
    //    narrow codegen'd pass, ZERO exchanges and ZERO stream state;
    //    a doc's score is a pure function of its row, so union over
    //    batches ≡ batch scoring under any split, and replays append
    //    byte-identical rows collapsed by the read-back distinct.
    //    Oracle: every doc scored against the unrolled training's
    //    round-3 weights (c36w3) — the train→serve contract end-to-end.
    "st31_stream_classifier_score" -> ((s0, d) => {
      val s = stateTuned(s0)
      import graft.operators.TextAnalysis
      val w = TextAnalysis.trainClassifier(s, d)._2
      val outDir = Scratch.fresh(s, d, "st31_out")
      runEach(feed(s, docsFeed(s, d))) { (batch, _) =>
        TextAnalysis.classifierServe(batch, w)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- STREAMING FUNNEL MONITOR — pl08 at ingest: every arriving
    //    document is attributed to its first failing curation gate per
    //    micro-batch, against the STAGED drop-set and canonical-map
    //    artifacts (the nightly corpus-wide relations; recomputing them
    //    per trigger would be a corpus pass per batch). Join direction
    //    is the serving inversion (funnelPartial): artifacts are never
    //    broadcast and never reshuffled per trigger — the batch-derived
    //    probe sides broadcast into artifact scans. A doc's stage is a
    //    pure function of (its row, the static artifacts), so union
    //    over batches ≡ pl08's per-doc attribution (the oracle), and
    //    replays collapse under the read-back distinct. ZERO stream
    //    state.
    "st32_stream_funnel" -> ((s0, d) => {
      import graft.operators.Curation
      val s = stateTuned(s0)
      val dropSet = Curation.stagedDropSet(s, d)
      val canon = Curation.stagedCanon(s, d)
      val outDir = Scratch.fresh(s, d, "st32_out")
      runEach(feed(s, docsFeed(s, d))) { (batch, _) =>
        Curation.funnelPartial(batch, dropSet, canon)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- STREAMING BLOB DECODE — the multimodal family's streaming leg:
    //    container blobs arrive with the feed and each micro-batch runs
    //    mm02's exact decode shape (typed mapPartitions byte parse —
    //    constant memory, scales with partition count; the deployment
    //    slot where a media library's decoder drops in). Decode is
    //    row-pure → union over batches ≡ mm02's batch decode (mm02's
    //    closed-form oracle verbatim), replays collapse under the
    //    read-back distinct. ZERO stream state, zero exchanges.
    "st33_stream_blob_decode" -> ((s0, d) => {
      val s = stateTuned(s0)
      val outDir = Scratch.fresh(s, d, "st33_out")
      runEach(feed(s, docsFeed(s, d))) { (batch, _) =>
        graft.operators.Multimodal.decodePartial(batch)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- STREAMING QUANTILE MONITOR — the streaming leg of dq10's
    //    family: a feed cannot afford dq10's iterative refinement
    //    (every round re-scans history), but bucket COUNTS over a
    //    static 256-bucket contract domain are additive — so each
    //    micro-batch appends its exact per-bucket partial (st29's
    //    sink-as-state discipline: replays append byte-identical
    //    (bucket, batch_id) rows, collapsed by max before summing),
    //    and the finalize walks the merged histogram to each
    //    percentile's rank, emitting the bucket's deterministic value
    //    BOUNDS. dq10's exact value provably lies within them (the
    //    spec pins it) — sketch-with-guarantees, the mergeable shape
    //    a 100 TB feed needs. ZERO stream state.
    "st34_stream_quantile_monitor" -> ((s0, d) => {
      val s = stateTuned(s0)
      val outDir = Scratch.fresh(s, d, "st34_out")
      runEach(feed(s, docsFeed(s, d))) { (batch, bid) =>
        graft.operators.Profile.charBuckets(batch)
          .withColumn("batch_id", lit(bid))
          .write.mode("append").parquet(outDir)
      }
      graft.operators.Profile.quantileBucketFinalize(
        s.read.parquet(outDir)
          .groupBy(col("bucket"), col("batch_id"))
          .agg(max(col("cnt")).as("cnt")), // replay collapse (st29's rule)
        Seq(50, 90, 99))
    }),

    // -- STREAMING INCREMENTAL CURATION — pl11's nightly machinery
    //    composed with the stream: each trigger lands one crawl shard
    //    and runs the whole O(delta + affected) night against the
    //    artifacts the previous trigger refreshed (ledger appends,
    //    additive df merge, crossing diff from the merged counts,
    //    affected-shard closure, pruned-canon shard rewrite). Nights
    //    run behind per-shard done-markers — foreachBatch replays are
    //    no-ops (nightIdempotent; a night's additive appends are not
    //    self-collapsing, unlike the sink-as-state partials). The
    //    streamed nights must converge to EXACTLY the from-scratch
    //    batch answer over the final corpus — pl11's own oracle.
    "st35_stream_incremental_curation" -> ((s, d) => {
      val dirs = pl11StreamRun(s, d)
      s.read.parquet(dirs.table)
        .select(col("doc_id"), col("lang"), col("stage"), col("part"))
    }),

    // -- STREAMING TAKEDOWN — pl12's DELETE night driven by arriving
    //    delete-request micro-batches (the GDPR/licensing queue): each
    //    trigger runs the full purge night (negative df merge, downward
    //    crossings resurfacing paragraphs, re-canonicalization where a
    //    group minimum departs, physical removal from every ledger)
    //    against artifacts the previous purge already rewrote, under
    //    the night commit protocol behind CONTENT-DERIVED purge markers
    //    (purgeIdempotent — replays are structural no-ops). The result
    //    must converge to the funnel recompute over the survivors of
    //    BOTH purges.
    "st37_stream_takedown" -> ((s, d) => {
      val dirs = st37StreamRun(s, d)
      s.read.parquet(dirs.table)
        .select(col("doc_id"), col("lang"), col("stage"), col("part"))
    }),

    // -- STREAMING VECTOR TOMBSTONE INGEST — st37's vector-side twin:
    //    delete requests stream in, each trigger appends to the pending
    //    cell-partitioned ledger and delete-compacts it into the live
    //    index (ss15's staged-swap kernel); serving merges-on-read
    //    against whatever is still pending. Replay-idempotent with NO
    //    markers — deletes are self-collapsing. Oracle: ss02's exact
    //    probe over the surviving vectors.
    "st38_stream_vector_takedown" -> ((s, d) => {
      val (live, tombDir) = st38StreamRun(s, d)
      // The serving probe reads the MUTATING live index through its
      // pinned snapshot (each compaction commits one), so a probe
      // racing a compaction's cell swaps can never see a torn mix.
      graft.operators.Similarity.probeWithTombstones(
        graft.operators.Similarity.vecs(s, d).filter(col("vec_id") % 50 === 0),
        graft.sources.Pinned.read(s, new java.io.File(live)),
        s.read.parquet(tombDir))
    }),

    // -- STREAMING ESTATE TAKEDOWN — pl15's estate purge driven by
    //    arriving delete-request micro-batches (st37's queue): each
    //    trigger runs the full estate night (pruned survivor rewrites,
    //    affected-component-only relabeling) against artifacts the
    //    previous trigger already rewrote, under the commit protocol
    //    behind content-derived tags. Result = the zero-residue audit;
    //    oracle rebuilds every artifact over the survivors of BOTH
    //    purge batches.
    "st39_stream_estate_takedown" -> ((s, d) => {
      val root = st39StreamRun(s, d)
      graft.operators.Incremental.estateAuditRows(s, root,
        purgedOf = c => pmod(c, lit(16L)).isin(5L, 9L))
    }),

    // -- STREAMING RAG SERVING — the full retrieval path as a stream
    //    (st22 serves the PROBE; this serves the whole pl06 pipeline):
    //    query vectors arrive on the feed, each micro-batch probes the
    //    staged IVF index via the shared ivfServePartial (cell-routed
    //    partition pruning), resolves neighbors against the STAGED
    //    bucket-partitioned per-doc BPE stats + doc-text artifacts
    //    (re-tokenizing the corpus per trigger would be a corpus scan
    //    per batch; ragAssembleLocal broadcasts the batch probe into
    //    bucket-PRUNED artifact scans — zero corpus-sized exchanges
    //    per trigger), and packs each query's context with the SAME
    //    ragPack tail pl06's batch ragAssemble runs. A
    //    query's top-3 and budget packing are self-contained (static
    //    index, static docs), so its context row is identical in
    //    whichever batch it arrives — union over batches ≡ pl06's
    //    batch answer (the oracle), replays append byte-identical rows
    //    collapsed by the read-back distinct. ZERO stream state.
    "st28_stream_rag_serve" -> ((s0, d) => {
      import graft.operators.{Bpe, Curation, Similarity}
      val s = callerWidth(s0)
      val idx = Similarity.ivfIndex(s, d)
      // The doc-resolve lookup artifact (doc_id → (n_subwords, text))
      // is bucket-partitioned by doc_id; ragAssembleLocal routes each
      // trigger's neighbor buckets into the scan and broadcasts the
      // batch probe — zero corpus-sized exchanges per trigger (the
      // batch leg's shuffle-hash resolves would re-exchange the
      // artifact every micro-batch).
      val docServe = Curation.stagedDocServe(s, d)
      val outDir = Scratch.fresh(s, d, "st28_out")
      runEach(feed(s, embFeed(s, d))) { (batch, _) =>
        val topk = Similarity.ivfServePartial(batch, idx)
          .select(col("query_id"), col("neighbor_id"), col("rnk"))
        // ragAssembleLocal materializes the probe internally (it is
        // referenced several times in the per-batch plan).
        Curation.ragAssembleLocal(topk, docServe)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- STREAMING CHUNKING — ta31's window rule applied at ingest (the
    //    RAG pipeline chunks documents AS THEY ARRIVE, upstream of the
    //    embed step): per micro-batch the extracted chunksOf runs the
    //    same zero-exchange in-row pass the batch op uses. Chunking is
    //    per-doc and a doc never straddles batches, so each doc's chunk
    //    rows are self-contained; replays append byte-identical rows,
    //    collapsed by the read-back distinct. ZERO stream state and
    //    zero exchanges inside the batch plan — the cheapest possible
    //    streaming operator shape. Oracle = ta31's verbatim.
    "st27_stream_chunking" -> ((s0, d) => {
      val s = stateTuned(s0)
      val outDir = Scratch.fresh(s, d, "st27_out")
      runEach(feed(s, docsFeed(s, d))) { (batch, _) =>
        graft.operators.TextAnalysis.chunksOf(batch)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- LEFT-OUTER stream-stream join — the hard half of st08: matched
    //    (click, view) pairs emit as inner results on arrival, and a
    //    click with NO view within 5 minutes emits with a NULL view_id
    //    only once the watermark proves no match can still arrive (state
    //    eviction — the piece an inner join never exercises). Both sides
    //    read the same staged feed; a second file carries two sentinel
    //    rows (user_id = -1, ts = max + 3 h, one per side) whose only
    //    job is to advance BOTH sides' watermarks past every real click
    //    so all unmatched state flushes before AvailableNow terminates
    //    (the no-data micro-batch emits it); sentinels are filtered
    //    AFTER the join, so they never reach the result. Oracle: the
    //    plain batch LEFT JOIN with the same interval predicate.
    "st16_outer_join" -> ((s0, d) => {
      val s = stateTuned(s0)
      val staged = st16Feed(s, d)
      def feedStream = feed(s, staged)
      val clicks = feedStream.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
        .withWatermark("cts", "1 hour")
      val views = feedStream.filter(col("event_type") === "view")
        .select(col("user_id").as("vuser"), col("ts").as("vts"),
          col("event_id").as("view_id"))
        .withWatermark("vts", "1 hour")
      val joined = clicks.join(views,
          expr("user_id = vuser AND vts > cts AND vts <= cts + interval 5 minutes"),
          "left_outer")
        .select(col("click_id"), col("view_id"), col("user_id"))
      // Sentinels are filtered on the MATERIALIZED result, not in the
      // streaming plan: an in-plan filter on user_id gets pushed below
      // the EventTimeWatermark node (it doesn't reference the watermark
      // column), which would strip the sentinel clicks before they can
      // advance the click-side watermark — min(click WM, view WM) would
      // then freeze 1 h behind and the final unmatched clicks would
      // never evict.
      runToTable(joined, OutputMode.Append())
        .filter(col("user_id") >= 0)
    }),

    // -- STREAMING exact dedup — the ingest leg of dd01 (the reference's
    //    model is unbounded-stream-first: every node consumes a channel,
    //    /root/reference/pipe/node.go:12-13). A production corpus feed
    //    dedups inside the stream, not in a nightly batch: each
    //    micro-batch partial-dedups (groupBy content hash, min doc_id,
    //    count — map-side combined, distributed) and APPENDS its partial
    //    to the sink; the merge is an idempotent groupBy on read (min of
    //    mins, sum of counts — both re-associable, so batch boundaries
    //    and replays never change the answer). The two-file feed forces
    //    duplicate groups to STRADDLE micro-batches, so the cross-batch
    //    merge is actually exercised. State is ZERO: no dropDuplicates
    //    key set to grow forever — the sink itself is the state, which
    //    is what lets this run on a 100 TB/day feed. foreachBatch is
    //    AT-LEAST-ONCE: a replayed batch appends its partial AGAIN, so
    //    partials carry their batch_id and the read-back collapses
    //    (key, batch_id) duplicates BEFORE the cross-batch merge —
    //    replays change nothing (st07's last-emission discipline).
    //    Oracle = dd01's: stream/batch parity for the dedup relation.
    "st17_stream_exact_dedup" -> ((s0, d) => {
      val s = stateTuned(s0)
      val outDir = Scratch.fresh(s, d, "st17_out")
      runEach(feed(s, docsFeed(s, d))) { (batch, bid) =>
        exactDedupPartial(batch, bid).write.mode("append").parquet(outDir)
      }
      exactDedupMerge(s.read.parquet(outDir))
    }),

    // -- STREAMING decontamination — the ingest leg of dd08: incoming
    //    training documents checked against the held-out benchmark gram
    //    set as they arrive. The bench set is STATIC (built once from
    //    the staged gram index) and broadcast per micro-batch — a
    //    stream-static probe with ZERO stream state. The gram pipeline
    //    runs inside foreachBatch, i.e. with full BATCH semantics per
    //    micro-batch: codegen'd explode+md5 (Dedup.gramHashesOf), batch
    //    distinct, broadcast join, per-doc counts — legal because a
    //    document is one row and never straddles micro-batches, so each
    //    doc contributes exactly one partial and the read-back MAX per
    //    doc is the identity — and, unlike a sum, stays correct when an
    //    at-least-once foreachBatch replay appends the partial twice.
    //    At scale the bench set outgrows a broadcast → swap in dd12's
    //    Bloom probe; the plumbing is identical.
    "st18_stream_decontaminate" -> ((s0, d) => {
      val s = stateTuned(s0)
      val bench = graft.operators.Dedup.benchGramSet(s, d)
      val schema = graft.sources.Tables.schemaOf(s, s"$d/documents.parquet")
      val outDir = Scratch.fresh(s, d, "st18_out")
      runEach(s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(d)) { (batch, _) =>
        // Single-file fixture arrives as 1-2 input partitions;
        // redistribute the raw doc rows so every core tokenizes
        // (a many-file production feed never needs this).
        val docs = batch.repartition(
          batch.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
        graft.operators.Dedup.gramHashesOf(docs, 8)
          .filter(col("doc_id") % 10 =!= 0)
          .distinct()
          .join(broadcast(bench), "gh")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir)
        .groupBy(col("doc_id"))
        .agg(max(col("n_shared")).as("n_shared_grams"))
    }),

    // -- STREAMING MinHash-LSH near-dup detection — the hard streaming
    //    dedup leg: fuzzy matching needs CROSS-BATCH candidate joins,
    //    which no bounded stream state can hold at corpus scale. The
    //    production shape is a persisted SIGNATURE LEDGER: each
    //    micro-batch (a) computes its docs' shingle sets, MinHash
    //    signatures and band keys (Dedup's exact pipeline, relation-
    //    parametric); (b) generates candidates as intra-batch band
    //    self-join ∪ new-vs-LEDGER band join; (c) verifies exact
    //    jaccard ≥ 0.5 against the shingle ledger and appends confirmed
    //    pairs; (d) appends its own signatures/shingles to the ledger.
    //    Every pair lands exactly once modulo replays — intra-batch if
    //    the docs share a batch, else when the later doc arrives — so
    //    the union over batches IS dd03's all-pairs result, which is the
    //    oracle. Replay-idempotent throughout: duplicate ledger rows and
    //    re-probes only produce duplicate identical pairs, collapsed by
    //    the read-back distinct; self-matches are excluded by id order.
    //    Ledger joins are band-key equi-joins (the LSH bound on
    //    candidates) and id-keyed shingle lookups — at 100 TB the ledger
    //    is a parquet table bucketed by band key.
    "st19_stream_neardup" -> ((s0, d) => {
      val s = stateTuned(s0)
      val (bandsDir, setsDir, outDir) = (
        Scratch.dir(s, d, "st19_bands"),
        Scratch.dir(s, d, "st19_sets"),
        Scratch.dir(s, d, "st19_out"))
      // Seed each ledger/sink with an EMPTY correctly-typed relation so
      // batch 0 probes a valid (empty) ledger and the read-back never
      // hits a missing path.
      neardupSeed(graft.sources.Tables.documents(s, d).limit(0),
        bandsDir, setsDir, outDir)
      runEach(feed(s, docsFeed(s, d))) { (batch, _) =>
        neardupStep(batch, bandsDir, setsDir, outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- STREAMING PERCEPTUAL NEAR-DUP — st19's cross-batch ledger leg
    //    for the MULTIMODAL column (blobs get the same streaming dedup
    //    a text corpus gets): per micro-batch, decode+hash arriving
    //    blobs (mm10's wide raster path), probe the persisted banded-
    //    hash ledger, append hamming-verified pairs and the batch's own
    //    band rows. The hash rides the band rows so the verify is
    //    in-row — no side lookup ledger. Union over batches ≡ mm10's
    //    batch all-pairs result (the oracle); replay-idempotent via the
    //    read-back distinct.
    "st36_stream_phash_neardup" -> ((s0, d) => {
      val s = stateTuned(s0)
      val (bandsDir, outDir) = (
        Scratch.dir(s, d, "st36_bands"),
        Scratch.dir(s, d, "st36_out"))
      phashSeed(graft.sources.Tables.documents(s, d).limit(0),
        bandsDir, outDir)
      runEach(feed(s, docsFeed(s, d))) { (batch, _) =>
        phashStep(batch, bandsDir, outDir)
      }
      s.read.parquet(outDir).distinct()
    }),

    // -- STREAMING embedding-space decontamination — the stream leg of
    //    dd17 (as st18 is of dd08): incoming vectors are probed per
    //    micro-batch against the BROADCAST held-out eval set (stream-
    //    static, benchmark-sized — no stream state at all); matches
    //    append (vec_id, eval_id, cos) to the sink and the read-back
    //    distinct+rollup makes replays invisible (a re-run batch
    //    appends byte-identical pairs). Two chronological feed files
    //    force the probe to span micro-batches. At 100 TB this is the
    //    ingest-time semantic contamination gate: map-side cell-local
    //    cosine, corpus never shuffles, sink bucketable by vec_id.
    "st20_stream_embed_decontaminate" -> ((s0, d) => {
      val s = stateTuned(s0)
      val bucket = expr(
        "cast(conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint) % 100")
      val v = graft.sources.Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").as("e"))
        .withColumn("nrm",
          graft.functions.VectorFunctions.vecDot(col("e"), col("e")))
        .withColumn("b", bucket)
      val evalSide = v.filter(col("b") >= 90)
        .select(col("label"), col("vec_id").as("eval_id"),
          col("e").as("ee"), col("nrm").as("enrm"))
      val outDir = Scratch.fresh(s, d, "st20_out")
      runEach(feed(s, embFeed(s, d))) { (batch, _) =>
        batch
          .select(col("vec_id"), col("label"), col("embedding").as("e"))
          .withColumn("nrm",
            graft.functions.VectorFunctions.vecDot(col("e"), col("e")))
          .withColumn("b", bucket)
          .filter(col("b") < 90)
          .join(broadcast(evalSide), Seq("label"))
          .select(col("vec_id"), col("eval_id"),
            round(graft.functions.VectorFunctions.vecDot(col("e"), col("ee"))
              / sqrt(col("nrm") * col("enrm")), 6).as("cos"))
          .filter(col("cos") >= 0.4)
          .write.mode("append").parquet(outDir)
      }
      s.read.parquet(outDir).distinct()
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_eval_matches"), max(col("cos")).as("max_cos"))
    }),

    "st04_stream_sessions" -> ((s0, d) => {
      val s = stateTuned(s0)
      // The session merge is the streaming-stateful part; the per-user
      // rollup happens in batch over the materialized session table
      // (chaining two stateful aggs in one streaming plan trips Spark's
      // global-watermark correctness check, rightly).
      val sessions = runToTable(
        eventStream(s, d)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events")),
        OutputMode.Complete())
      sessions.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
    }),

    // -- Streaming GLOBAL TOP-K: complete-mode aggregate → sort → limit
    //    (Spark permits sort/limit on a streaming Dataset only after an
    //    aggregation in Complete mode — this query pins that capability).
    //    The per-trigger cost is a re-sort of the AGGREGATE state (one
    //    row per user — thousands, not the corpus), so the leaderboard
    //    stays cheap even when the event stream is unbounded; the
    //    shuffle into the agg is the only corpus-sized exchange. Spend
    //    is an exact micro-unit integer sum (order-free → deterministic
    //    across retriggers), ties at the k boundary broken by user_id
    //    so the emitted SET is unique.
    "st21_stream_topk" -> ((s0, d) => {
      val s = stateTuned(s0)
      runToTable(
        eventStream(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("cast(round(value * 1e6) as bigint)")).as("spend_micro"))
          .orderBy(col("spend_micro").desc, col("user_id"))
          .limit(10),
        OutputMode.Complete())
    }),

    // -- STREAMING end-to-end curation — pl01's job as an INGEST
    //    pipeline (the reference's stream-first model applied to the
    //    whole curation stack, not one stage): documents arrive in
    //    micro-batches; each batch is quality-scored (ta03's exact
    //    pipeline — per-doc, so batch-local), decontaminated against
    //    the static benchmark gram set (st18's zero-state broadcast
    //    probe), exact-dedup-keyed, and appended to the sink as a
    //    PARTIAL: one row per (content_key, batch) carrying the batch's
    //    min-id candidate WITH its attributes inside the min-struct —
    //    min is idempotent, so replays collapse and the cross-batch
    //    merge (min of min-structs per key) elects the same canonical
    //    doc any batch split would (spec'd replay/split invariance is
    //    inherited from st17's merge shape). Benchmark members
    //    (doc_id%10=0) never enter training. The final gate filters the
    //    CANONICAL doc's quality/contamination — the policy pl01 uses.
    //    At 100 TB: the sink partial is content-key-bucketable, the
    //    merge is one key-shuffle with map-side combine, and the bench
    //    set swaps to dd12's Bloom when it outgrows a broadcast.
    "pl04_stream_curation" -> ((s0, d) => {
      val s = stateTuned(s0)
      import graft.operators.Dedup
      val bench = Dedup.benchGramSet(s, d)
      val outDir = Scratch.fresh(s, d, "pl04_out")
      runEach(feed(s, docsFeed(s, d))) { (batch0, bid) =>
        val batch = materialized(batch0
          .repartition(batch0.sparkSession.sparkContext.defaultParallelism,
            col("doc_id")))
        curationPartial(batch, bid, bench)
          .write.mode("append").parquet(outDir)
      }
      curationMerge(s.read.parquet(outDir))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "st01_stream_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
         event_type, count(*) AS n,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2""",
    "st02_stream_dedup" ->
      """SELECT event_type, count(*) AS n_users FROM (
           SELECT DISTINCT user_id, event_type FROM events)
         GROUP BY event_type""",
    "st21_stream_topk" ->
      """SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS spend_micro
         FROM events GROUP BY user_id
         ORDER BY spend_micro DESC, user_id LIMIT 10""",
    // Batch restatement of the streamed curation: same quality pipeline
    // (ta03's oracle as a CTE), same bench gram set, min-id canonical
    // election over the non-benchmark universe, gate on the canonical
    // doc's attributes.
    "pl04_stream_curation" -> {
      val dq = graft.operators.TextAnalysis.oracleSql("ta03_quality_score")
      val dtoks = "list_filter(string_split(text, ' '), x -> x <> '')"
      val g8 = (1 to 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
      s"""WITH q AS ($dq),
          g AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(g8), 1, 15)) AS BIGINT) AS gh
            FROM (
              SELECT doc_id, unnest(list_transform(range(len(tk) - 7),
                i -> $g8)) AS g8
              FROM (SELECT doc_id, $dtoks AS tk FROM documents
                    WHERE len($dtoks) >= 8))),
          bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0),
          cont AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gh)
                   WHERE g.doc_id % 10 <> 0),
          u AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
          canon AS (SELECT min(doc_id) AS doc_id FROM u
                    GROUP BY md5(lower(trim(text))))
          SELECT c.doc_id, d.lang, q.quality
          FROM canon c
          JOIN u d ON d.doc_id = c.doc_id
          JOIN q ON q.doc_id = c.doc_id
          LEFT JOIN cont ON cont.doc_id = c.doc_id
          WHERE q.quality >= 0.5 AND cont.doc_id IS NULL"""
    },
    // Stream/batch parity with dd01: the streamed, batch-split,
    // merge-on-read dedup must equal the one-shot batch dedup.
    "st17_stream_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY md5(lower(trim(text)))""",
    // Stream/batch parity with dd03: the incremental ledger union over
    // batches must equal the batch all-pairs LSH result exactly.
    "st19_stream_neardup" ->
      graft.operators.Dedup.oracleSql("dd03_minhash_lsh_pairs"),
    // Stream/batch parity with dd17: the union of per-batch broadcast
    // probes must equal the batch semantic-decontamination result.
    "st20_stream_embed_decontaminate" ->
      graft.operators.Dedup.oracleSql("dd17_embedding_decontamination"),
    // Stream/batch parity with dd08: same gram pipeline, same bench set.
    "st18_stream_decontaminate" -> {
      val dtoks = "list_filter(string_split(text, ' '), x -> x <> '')"
      val g8 = (1 to 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
      s"""WITH g AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(g8), 1, 15)) AS BIGINT) AS gh
            FROM (
              SELECT doc_id, unnest(list_transform(range(len(tk) - 7),
                i -> $g8)) AS g8
              FROM (SELECT doc_id, $dtoks AS tk FROM documents
                    WHERE len($dtoks) >= 8))),
          bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0)
          SELECT doc_id, count(DISTINCT gh) AS n_shared_grams
          FROM g JOIN bench USING (gh)
          WHERE doc_id % 10 <> 0
          GROUP BY doc_id"""
    },
    "st03_stateful_running" ->
      """SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY user_id""",
    "st05_first_seen" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // Closed-form late-data semantics: batch-1 rows (ts within 130 min of
    // max) aggregated per hour window, keeping only windows whose end is
    // at or before the final watermark (max ts - 10 min). Batch-2 rows
    // are all late-and-closed, hence absent by construction.
    "st06_watermark_late" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events)
         SELECT hour, event_type, n, value_cents FROM (
           SELECT date_trunc('hour', ts) AS h,
                  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
                  event_type, count(*) AS n,
                  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
           FROM events, m
           WHERE ts > mx - INTERVAL 130 MINUTE
           GROUP BY 1, 2, 3)
         JOIN m ON h + INTERVAL 1 HOUR <= mx - INTERVAL 10 MINUTE""",
    "st10_dedup_within_watermark" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "st08_stream_stream_join" ->
      """SELECT c.event_id AS click_id, e.event_id AS view_id, c.user_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         JOIN (SELECT * FROM events WHERE event_type = 'view') e
           ON c.user_id = e.user_id
          AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE""",
    "st09_stream_static_join" ->
      """SELECT c_nationkey, event_type, count(*) AS n
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2""",
    // Batch LEFT JOIN parity: matched pairs identical to st08, plus one
    // NULL-view row per never-matched click (the watermark-evicted
    // outer results).
    "st16_outer_join" ->
      """SELECT c.event_id AS click_id, e.event_id AS view_id, c.user_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') e
           ON c.user_id = e.user_id
          AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE""",
    // Same oracle as st01: the foreachBatch→parquet sink must reproduce
    // the batch aggregation exactly.
    "st07_foreachbatch_sink" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
         event_type, count(*) AS n,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2""",
    // Closed-form sliding windows: each event belongs to the two
    // epoch-aligned 30-min-grid window starts covering it.
    "st11_sliding_window" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, event_type,
         count(*) AS n,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM (SELECT event_type, value,
                 time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
                   - CAST(t.k AS INT) * INTERVAL 30 MINUTE AS ws
               FROM events, range(2) t(k))
         GROUP BY 1, 2""",
    "st12_transform_with_state" ->
      """SELECT user_id, CAST(count(DISTINCT event_type) AS INT) AS n_types
         FROM events GROUP BY user_id""",
    // The ListState top-3 must equal the batch per-user latest-3 ranking
    // (ts then event_id, both descending — the processor's sort key).
    "st13_list_state_recent" ->
      """SELECT user_id, CAST(rank AS INT) AS rank, event_id FROM (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rank
           FROM events) WHERE rank <= 3""",
    // Batch boundaries are the admission-control contract: id div 2500.
    "st15_dsv2_stream" ->
      """SELECT CAST(id // 2500 AS BIGINT) AS batch_id, CAST(id % 10 AS INT) AS grp,
         count(*) AS n, CAST(sum((id * 2654435761) % 1000000) AS BIGINT) AS sum_val,
         min(id) AS min_id, max(id) AS max_id
         FROM (SELECT range AS id FROM range(0, 10000))
         GROUP BY 1, 2""",
    // Closed-form append-mode session semantics: gap-and-island sessions
    // (30-min gap), session window end = last event + gap, emitted iff
    // the end is at or before the final watermark (max ts - 10 min).
    // The chronological feed split guarantees no late drops, so the
    // emitted set is exactly this filter.
    "st14_session_append" ->
      """WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
         e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
         marks AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess,
             event_id
           FROM e),
         sess AS (
           SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM marks),
         agg AS (
           SELECT user_id, min(ts) AS st, max(ts) AS en, count(*) AS n_events
           FROM sess GROUP BY user_id, sid)
         SELECT user_id,
           CAST(epoch_us(st) AS BIGINT) AS sess_start_us,
           CAST(epoch_us(en + INTERVAL 30 MINUTE) AS BIGINT) AS sess_end_us,
           CAST(n_events AS BIGINT) AS n_events
         FROM agg, m
         WHERE en + INTERVAL 30 MINUTE <= mx - INTERVAL 10 MINUTE""",
    // st14's watermark-closure form × q64's dynamic-gap running-max
    // islands: per-event end = ts + gap(event_type), session end = the
    // running MAX of member ends, island break STRICT (ts > prev_end —
    // the spec-pinned boundary semantics), and only sessions whose
    // merged end is at or before the final watermark (max ts − 10 min)
    // have been emitted when AvailableNow terminates.
    "st23_dynamic_session_append" ->
      """WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
         e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                 CAST(ts AS TIMESTAMP) + CASE WHEN event_type = 'click'
                      THEN INTERVAL 5 MINUTE
                      ELSE INTERVAL 30 MINUTE END AS w_end
               FROM events),
         pe AS (SELECT user_id, ts, event_id, w_end,
                  max(w_end) OVER (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_end
                FROM e),
         marks AS (SELECT user_id, ts, event_id, w_end,
                     CASE WHEN prev_end IS NULL OR ts > prev_end
                          THEN 1 ELSE 0 END AS new_sess
                   FROM pe),
         sess AS (SELECT user_id, ts, w_end,
                    sum(new_sess) OVER (PARTITION BY user_id
                      ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                  FROM marks),
         agg AS (SELECT user_id, min(ts) AS st, max(w_end) AS en,
                   count(*) AS n_events
                 FROM sess GROUP BY user_id, sid)
         SELECT user_id,
           CAST(epoch_us(st) AS BIGINT) AS sess_start_us,
           CAST(epoch_us(en) AS BIGINT) AS sess_end_us,
           CAST(n_events AS BIGINT) AS n_events
         FROM agg, m
         WHERE en <= mx - INTERVAL 10 MINUTE""",
    // st22 unions per-micro-batch probes of the static stored index —
    // exactly ss02's batch answer, so the oracle is ss02's verbatim.
    "st22_stream_ann_serve" -> graft.operators.Similarity.dIvfTopk,
    // st25's ingest→compact→delta-append→serve lifecycle answers ss02
    "st25_stream_lifecycle" -> graft.operators.Similarity.dIvfTopk,
    // st24's streamed-in, compacted index answers ss02's probe
    // identically — the oracle is ss02's verbatim again.
    "st24_stream_index_ingest" -> graft.operators.Similarity.dIvfTopk,
    // st26 unions per-micro-batch encodes against the staged dict —
    // exactly ta26's batch answer, so the oracle is ta26's verbatim.
    "st26_stream_bpe_encode" ->
      graft.operators.Bpe.oracleSql("ta26_bpe_tokenize"),
    // st27 unions per-micro-batch chunk rows — exactly ta31's batch
    // answer, so the oracle is ta31's verbatim.
    "st27_stream_chunking" ->
      graft.operators.TextAnalysis.oracleSql("ta31_doc_chunks"),
    // st28 unions per-micro-batch probe+assembly — exactly pl06's
    // batch answer, so the oracle is pl06's verbatim.
    "st28_stream_rag_serve" ->
      graft.operators.Curation.oracleSql("pl06_rag_context"),
    // st29's merged partials score exactly dq08's batch audit — the
    // oracle is dq08's verbatim.
    "st29_stream_drift_monitor" ->
      graft.operators.Profile.oracleSql("dq08_distribution_drift"),
    // st30's merged per-cell top-5 partials reproduce pl07's batch
    // sample — the oracle is pl07's verbatim.
    "st30_stream_diverse_sample" ->
      graft.operators.Curation.oracleSql("pl07_diverse_sample"),
    // st31 scores with the round-3 trained weights — the oracle unrolls
    // the training and scores every doc (the train→serve contract).
    "st31_stream_classifier_score" ->
      graft.operators.TextAnalysis.st31Sql,
    // st32 attributes each doc to its first failing gate — the oracle is
    // pl08's per-doc CTE chain before the rollup.
    "st32_stream_funnel" ->
      graft.operators.Curation.funnelRowsSql,
    // st33 decodes per micro-batch; decode is row-pure, so the oracle is
    // mm02's closed-form header recomputation verbatim.
    "st33_stream_blob_decode" ->
      graft.operators.Multimodal.oracleSql("mm02_decode_meta"),
    // st36: stream/batch parity with mm10 — the ledger union over
    // batches must equal the batch banded all-pairs result exactly.
    "st36_stream_phash_neardup" ->
      graft.operators.Multimodal.oracleSql("mm10_phash_wide_neardup"),
    // st35: the streamed nights must converge to the from-scratch batch
    // recompute over the final corpus — pl11's oracle verbatim.
    "st35_stream_incremental_curation" ->
      graft.operators.Incremental.oracleSql("pl11_incremental_snapshot"),
    // st37: the streamed purges must converge to the funnel recompute
    // over the world in which BOTH takedown batches never existed.
    "st37_stream_takedown" ->
      graft.operators.Incremental
        .purgedFunnelSql("doc_id % 16 NOT IN (5, 9)"),
    // st38: ss02's exact probe over the survivors of both streamed
    // tombstone batches.
    "st38_stream_vector_takedown" ->
      graft.operators.Similarity
        .dIvfTopkExcluding("b.vec_id % 16 IN (5, 9)"),
    // st39: every estate artifact rebuilt over the survivors of BOTH
    // streamed purge batches — pl15's oracle builder at the two-batch
    // predicate.
    "st39_stream_estate_takedown" ->
      graft.operators.Incremental.estateOracleSql(
        "doc_id % 16 NOT IN (5, 9)", c => s"$c % 16 IN (5, 9)"),
    // st34: bucket counts are additive, so the whole-table histogram +
    // rank walk is the exact twin of the merged micro-batch partials.
    "st34_stream_quantile_monitor" ->
      """WITH b34 AS (
           SELECT CAST(least(greatest(n_chars, 0) // 16, 255) AS INT) AS bucket,
             count(*) AS cnt
           FROM documents GROUP BY 1),
         t34 AS (SELECT sum(cnt) AS n_total FROM b34),
         c34 AS (SELECT bucket, cnt,
             sum(cnt) OVER (ORDER BY bucket) AS cum FROM b34)
         SELECT CAST(p.p AS INT) AS p_pct, bucket,
           CAST(bucket * 16 AS BIGINT) AS lo_bound,
           CASE WHEN bucket < 255 THEN CAST(bucket * 16 + 15 AS BIGINT)
             END AS hi_bound,
           CAST(cnt AS BIGINT) AS n_in_bucket
         FROM c34, t34, (VALUES (50), (90), (99)) p(p)
         WHERE cum >= greatest(1, (p.p * n_total + 99) // 100)
           AND cum - cnt < greatest(1, (p.p * n_total + 99) // 100)""",
    "st04_stream_sessions" ->
      """SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events FROM (
           SELECT user_id, sess, count(*) AS n_events FROM (
             SELECT user_id, sum(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
             FROM (
               SELECT user_id, ts, event_id,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_sess
               FROM events))
           GROUP BY user_id, sess)
         GROUP BY user_id"""
  )
}
