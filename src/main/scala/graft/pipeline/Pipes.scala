package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.CatalystBridge
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.collection.mutable

/** The pipes-shaped Layer-1 DSL (SURVEY.md §7.1): the reference's typed
  * dataflow-graph API re-expressed over Spark Datasets.
  *
  * Semantics preserved from /root/reference (cited per member):
  *   - typed stage functions Start/Middle/Final (pipe/node.go:14-23)
  *   - compile-time edge typing via generics (pipe/node.go:26-29) — here
  *     `Sender[O].sendTo(Receiver[O])` only unifies on matching O
  *   - fan-out broadcast: every receiver sees every element
  *     (pipe/internal/connect/connectors.go:49-104) — multi-consumer
  *     batch outputs are materialized once so all subtrees observe
  *     identical data even for non-deterministic sources (SURVEY.md §7.4)
  *   - fan-in merge: N senders into one receiver = union
  *     (pipe/internal/connect/connectors.go:8-41)
  *   - last-write-wins node override by key (pipe/builder.go:21-28)
  *   - fallible providers abort build() with the first error
  *     (pipe/builder.go:69-95; pipe/builder_test.go:24-61)
  *   - bypass: a disabled Middle[T,T] adds NOTHING to the plan — the
  *     upstream Dataset object passes through untouched
  *     (pipe/bypass.go:23-33); unlike the reference, In==Out is enforced
  *     at compile time, not at Build()
  *   - ignorable endpoints: a None start/final drops its dead subtree
  *     (pipe/bypass.go:5-21, pipe/node.go:163-169)
  *   - lifecycle: nothing executes before build(); build() forces
  *     Catalyst analysis (the reference's construction-time type check);
  *     Runner.start() launches every sink action concurrently;
  *     Runner.done() blocks until all complete (pipe/runner.go:8-36)
  *
  * Intentional divergence (SURVEY.md §7.4): no per-element rendezvous —
  * Spark pipelines at stage granularity (whole-stage codegen), which is
  * strictly more efficient. F11's ChannelBufferLen survives only as the
  * [[Pipes.ChannelBufferLen]] option below: meaningful for streaming
  * starts (files per micro-batch), a documented no-op for batch plans.
  */
object Pipes {
  type StartFn[O]     = SparkSession => Dataset[O]
  type MiddleFn[I, O] = Dataset[I] => Dataset[O]
  type FinalFn[I]     = Dataset[I] => Unit

  /** The reference's `Bypass[T]()` (pipe/bypass.go:13-15): an optional
    * stage that is disabled contributes zero plan nodes. */
  def bypass[T]: MiddleFn[T, T] = identity[Dataset[T]]

  /** Builder construction option (reference pipe/options.go:12-14). */
  sealed trait PipeOption

  /** F11 analog (reference pipe/options.go:3-22): bounds how much data a
    * producer hands downstream at a time. Spark batch plans have no
    * per-element channels — stages pipeline through whole-stage codegen,
    * so for batch this is a documented no-op. For *streaming* file
    * starts created with [[PipelineBuilder.addFileStreamStart]] the
    * bound maps to `maxFilesPerTrigger` — files per micro-batch, which
    * is precisely the producer→consumer buffering granularity
    * Structured Streaming exposes. */
  final case class ChannelBufferLen(length: Int) extends PipeOption

  final case class BuildError(message: String, cause: Option[Throwable] = None)
    extends RuntimeException(message, cause.orNull)
}

import Pipes._

sealed trait Sender[O] { private[pipeline] def key: String }
sealed trait Receiver[I] { private[pipeline] def key: String }

final class StartHandle[O] private[pipeline] (private[pipeline] val key: String)
  extends Sender[O]
final class MiddleHandle[I, O] private[pipeline] (private[pipeline] val key: String)
  extends Sender[O] with Receiver[I]
final class FinalHandle[I] private[pipeline] (private[pipeline] val key: String)
  extends Receiver[I]

/** Graph assembly — the reference's Builder + NodesMap (pipe/builder.go:
  * 17-48, pipe/providers.go:106-185). Nodes are keyed by name; re-adding
  * a key overrides the previous node (last-write-wins). Wiring happens
  * through `sendTo`, then `build()` validates and materializes the DAG.
  */
final class PipelineBuilder(spark: SparkSession, options: PipeOption*) {

  /** ChannelBufferLen if supplied. The reference's 0 means "unbuffered"
    * — its DEFAULT (pipe/options.go:8-10) — so 0 (and below) maps to
    * "option absent" here rather than to maxFilesPerTrigger=0, which
    * Spark would reject at stream start. */
  val channelBufferLen: Option[Int] =
    options.collectFirst { case ChannelBufferLen(n) if n > 0 => n }

  /** Streaming file-source start node honoring [[Pipes.ChannelBufferLen]]
    * as `maxFilesPerTrigger` — the one hop where Spark exposes a
    * channel-buffer-like knob. Without the option, Spark's default
    * (all available files per batch) applies. */
  def addFileStreamStart(key: String, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      glob: String = "*"): StartHandle[org.apache.spark.sql.Row] =
    addStart(key, s => {
      val r = s.readStream.schema(schema).option("pathGlobFilter", glob)
      channelBufferLen.foreach(n => r.option("maxFilesPerTrigger", n))
      r.parquet(dir)
    })

  private sealed trait NodeDef
  private case class StartDef(p: () => Either[Throwable, Option[StartFn[Any]]]) extends NodeDef
  private case class MiddleDef(p: () => Either[Throwable, Option[MiddleFn[Any, Any]]]) extends NodeDef
  private case class FinalDef(p: () => Either[Throwable, Option[FinalFn[Any]]]) extends NodeDef

  private val nodes = mutable.LinkedHashMap.empty[String, NodeDef]
  private val edges = mutable.ArrayBuffer.empty[(String, String)] // sender -> receiver

  // ---- direct registration (pipe/providers.go:157-185) ----
  def addStart[O](key: String, fn: StartFn[O]): StartHandle[O] =
    addStartProvider(key, () => Right(Some(fn)))
  def addMiddle[I, O](key: String, fn: MiddleFn[I, O]): MiddleHandle[I, O] =
    addMiddleProvider(key, () => Right(Some(fn)))
  def addFinal[I](key: String, fn: FinalFn[I]): FinalHandle[I] =
    addFinalProvider(key, () => Right(Some(fn)))

  // ---- provider registration (pipe/providers.go:106-152): deferred,
  //      fallible, optional (None = Ignore/Bypass) ----
  def addStartProvider[O](key: String,
      p: () => Either[Throwable, Option[StartFn[O]]]): StartHandle[O] = {
    nodes(key) = StartDef(() => p().map(_.map(f => f.asInstanceOf[StartFn[Any]])))
    new StartHandle[O](key)
  }
  /** A None from a middle provider is a bypass — only expressible for
    * I == O, enforced here at compile time (the reference checks this at
    * Build(), pipe/builder.go:79-87). */
  def addMiddleProvider[I, O](key: String,
      p: () => Either[Throwable, Some[MiddleFn[I, O]]]): MiddleHandle[I, O] = {
    nodes(key) = MiddleDef(() => p().map(s => Some(s.value.asInstanceOf[MiddleFn[Any, Any]])))
    new MiddleHandle[I, O](key)
  }
  def addBypassableMiddleProvider[T](key: String,
      p: () => Either[Throwable, Option[MiddleFn[T, T]]]): MiddleHandle[T, T] = {
    nodes(key) = MiddleDef(() => p().map(_.map(f => f.asInstanceOf[MiddleFn[Any, Any]])))
    new MiddleHandle[T, T](key)
  }
  def addFinalProvider[I](key: String,
      p: () => Either[Throwable, Option[FinalFn[I]]]): FinalHandle[I] = {
    nodes(key) = FinalDef(() => p().map(_.map(f => f.asInstanceOf[FinalFn[Any]])))
    new FinalHandle[I](key)
  }

  /** Typed edge wiring (pipe/node.go:26-29): compiles only when the
    * sender's element type matches every receiver's. Repeated calls on
    * the same sender accumulate receivers = broadcast fan-out (F4);
    * multiple senders naming one receiver = fan-in merge (F5). */
  def sendTo[T](from: Sender[T], to: Receiver[T]*): this.type = {
    to.foreach(r => edges += ((from.key, r.key)))
    this
  }

  /** Instantiate providers, resolve bypass/ignore, validate the wired
    * graph, and force Catalyst analysis of every edge — the reference's
    * Build() (pipe/builder.go:98-141). No job runs here. */
  def build(): Either[BuildError, Runner] = {
    // 1. Run providers; first error aborts (pipe/builder.go:110-135).
    val resolved = mutable.LinkedHashMap.empty[String, Option[NodeDef]]
    for ((key, defn) <- nodes) {
      val r: Either[Throwable, Option[NodeDef]] = defn match {
        case StartDef(p)  => p().map(_.map(f => StartDef(() => Right(Some(f)))))
        case MiddleDef(p) => p().map(_.map(f => MiddleDef(() => Right(Some(f)))))
        case FinalDef(p)  => p().map(_.map(f => FinalDef(() => Right(Some(f)))))
      }
      r match {
        case Left(err) => return Left(BuildError(s"provider for node '$key' failed: ${err.getMessage}", Some(err)))
        case Right(v)  => resolved(key) = v
      }
    }
    for ((from, to) <- edges) {
      if (!nodes.contains(from)) return Left(BuildError(s"edge from unknown node '$from'"))
      if (!nodes.contains(to)) return Left(BuildError(s"edge to unknown node '$to'"))
    }

    // 2. Effective edges: bypassed middles splice upstream to downstream
    //    (pipe/bypass.go:23-33 — transitive, zero plan cost).
    val bypassed = resolved.collect {
      case (k, None) if nodes(k).isInstanceOf[MiddleDef] => k
    }.toSet
    val ignored = resolved.collect {
      case (k, None) if !nodes(k).isInstanceOf[MiddleDef] => k
    }.toSet
    def resolveTargets(k: String, seen: Set[String]): Seq[String] =
      if (seen.contains(k)) Seq.empty // cycle through bypass: caught below anyway
      else if (bypassed.contains(k))
        edges.filter(_._1 == k).flatMap(e => resolveTargets(e._2, seen + k)).toSeq
      else Seq(k)
    val effEdges = edges
      .filter { case (f, _) => !bypassed.contains(f) && !ignored.contains(f) }
      .flatMap { case (f, t) => resolveTargets(t, Set.empty).map(f -> _) }
      .filter { case (_, t) => !ignored.contains(t) }
      .distinct

    // 3. Liveness: a node runs iff it is a live start or has ≥1 live
    //    input (ignored starts drop their exclusive subtree — F7).
    val liveKeys = mutable.Set.empty[String]
    resolved.foreach {
      case (k, Some(_: StartDef)) => liveKeys += k
      case _ =>
    }
    var changed = true
    while (changed) {
      changed = false
      for ((f, t) <- effEdges if liveKeys.contains(f) && !liveKeys.contains(t)) {
        liveKeys += t; changed = true
      }
    }

    // 4. Topological order + cycle check (reference lists cycle detection
    //    as future work, /root/reference/TODO.md:4 — we do it).
    val liveEdges = effEdges.filter { case (f, t) => liveKeys(f) && liveKeys(t) }
    val inDeg = mutable.Map.empty[String, Int].withDefaultValue(0)
    liveEdges.foreach { case (_, t) => inDeg(t) += 1 }
    val order = mutable.ArrayBuffer.empty[String]
    val q = mutable.Queue(liveKeys.toSeq.filter(inDeg(_) == 0).sorted: _*)
    while (q.nonEmpty) {
      val k = q.dequeue(); order += k
      liveEdges.filter(_._1 == k).foreach { case (_, t) =>
        inDeg(t) -= 1; if (inDeg(t) == 0) q += t
      }
    }
    if (order.size != liveKeys.size)
      return Left(BuildError(s"pipeline graph has a cycle among: ${(liveKeys -- order).mkString(", ")}"))

    // 5. Materialize the Dataset DAG in topo order. Multi-consumer
    //    BATCH outputs go through CatalystBridge.materialized (broadcast-
    //    fidelity rule, SURVEY.md §7.4): computed once by the first sink
    //    that reads them, shared by every receiver, released by the
    //    ContextCleaner once the Runner and its frames are unreachable.
    //    STREAMING outputs cannot be cached (caching a streaming Dataset
    //    is illegal) and don't need to be: each consumer's query replays the
    //    shared subtree from the replayable source — exactly-once source
    //    replay IS Structured Streaming's fan-out fidelity mechanism, so
    //    every receiver still observes every element (F4).
    //    Dataset construction is eager about analysis, so schema/type
    //    errors surface HERE, not at start() — the Build()-time check.
    val outs = mutable.Map.empty[String, Dataset[Any]]
    val sinks = mutable.ArrayBuffer.empty[(String, Dataset[Any], FinalFn[Any])]
    val fanout = liveEdges.groupBy(_._1).map { case (k, es) => k -> es.size }
    def shareOut(k: String, ds: Dataset[Any]): Dataset[Any] =
      if (fanout.getOrElse(k, 0) > 1 && !ds.isStreaming) CatalystBridge.materialized(ds)
      else ds
    try {
      for (k <- order) {
        val inputs = liveEdges.filter(_._2 == k).map(e => outs(e._1))
        resolved(k) match {
          case Some(StartDef(p)) =>
            outs(k) = shareOut(k, p().toOption.flatten.get.apply(spark))
          case Some(MiddleDef(p)) =>
            if (inputs.isEmpty) throw BuildError(s"middle node '$k' has no live inputs")
            outs(k) = shareOut(k, p().toOption.flatten.get.apply(inputs.reduce(_ union _)))
          case Some(FinalDef(p)) =>
            if (inputs.isEmpty) throw BuildError(s"final node '$k' has no live inputs")
            sinks += ((k, inputs.reduce(_ union _), p().toOption.flatten.get))
          case None => // ignored / bypassed — nothing to materialize
        }
      }
    } catch {
      case b: BuildError => return Left(b)
      case e: Throwable =>
        return Left(BuildError(s"analysis failed while wiring: ${e.getMessage}", Some(e)))
    }
    Right(new Runner(sinks.toSeq))
  }
}

/** Run lifecycle (pipe/runner.go:8-36): `start()` launches every sink
  * action concurrently (one Spark job each — the goroutine analog);
  * `done()` blocks until all drain. The runner holds no cache: a fan-out
  * relation lives as long as the sink frames that read it, and the
  * ContextCleaner drops its blocks once they are unreachable. */
final class Runner private[pipeline] (
    sinks: Seq[(String, Dataset[Any], FinalFn[Any])]) {

  private implicit val ec: ExecutionContext = ExecutionContext.global
  @volatile private var futures: Seq[Future[Unit]] = Seq.empty

  def start(): this.type = {
    futures = sinks.map { case (_, ds, fn) => Future(fn(ds)) }
    this
  }

  /** Blocks until every final node completes; first sink failure is
    * rethrown (the reference surfaces it by the pipeline never draining —
    * we fail fast instead). */
  def done(): Unit = {
    Await.result(Future.sequence(futures), Duration.Inf)
    ()
  }

  def run(): Unit = { start(); done() }
}
