package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

/** Scratch-directory discipline for every on-disk artifact the library
  * stages under java.io.tmpdir (io-query round-trip dirs, streaming
  * sink-as-state dirs, staged gram/feed/index artifacts). This object is
  * the only reader of java.io.tmpdir.
  *
  * Two rules, both learned the hard way:
  *
  *  1. **Every dir is scoped by (applicationId, fixture).** A fixed
  *     shared path (the old `graft_io10`) lets two concurrent processes
  *     interleave a static overwrite, a dynamic overwrite and the
  *     read-back into corrupt or cross-fixture results; the app id makes
  *     writers disjoint, the fixture slug keeps one JVM's runs at
  *     different scale factors disjoint.
  *
  *  2. **Stale dirs from dead runs are reaped at staging time.** Scoped
  *     dirs accumulate across JVMs (each run mints a new applicationId),
  *     so repeated bench/verify runs would grow /tmp without bound. The
  *     first staging call per JVM deletes `graft_*` entries that belong
  *     to a DIFFERENT application and have not been touched for an hour
  *     — old enough that a live concurrent process (whose artifacts are
  *     minutes old) is never raced.
  *
  * **Staging rule.** A write-once artifact (an index, dictionary, feed
  * or drop set written once per (application, fixture) and then probed
  * by many queries and micro-batches) is built only through [[staged]]
  * or [[stagedParquet]]:
  *   - scope: its dir is [[dir]]`(s, d, tag)`, named `graft_<tag>_…`;
  *   - reap: deriving that dir runs rule 2;
  *   - memo: one per-process [[memo]] runs the build at most once per
  *     (application, fixture, tag);
  *   - marker gate: `_SUCCESS` is written only after the build returns,
  *     and a dir without it is a crashed build, rebuilt from empty;
  *   - pinned commit: a parquet artifact's listing is committed with
  *     [[Pinned.commit]] before its marker, and queries read it only
  *     through [[Pinned.read]].
  * Artifacts consumed as directories (stream feeds, io09/io13's layout
  * demos) use [[staged]] alone.
  */
object Scratch {

  private val cleaned = new AtomicBoolean(false)
  private val StaleAfterMs = 60L * 60L * 1000L

  /** The scratch root (java.io.tmpdir). Paths under it come from [[dir]];
    * the root itself is for roots that carry their own scoping (the
    * streaming checkpoint fallback). */
  private[graft] def tmpRoot = new File(System.getProperty("java.io.tmpdir"))

  /** Recursive delete — THE shared file-tree removal helper (like
    * [[snapshotTree]], one definition for every staged-artifact
    * lifecycle: night staging, ledger compaction, cell swaps). */
  def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }

  /** Reap stale graft_* scratch dirs left by previous JVMs. Idempotent,
    * runs once per process; failures are non-fatal (a half-deleted
    * stale dir is still stale next run). */
  def cleanupStale(s: SparkSession): Unit =
    if (cleaned.compareAndSet(false, true)) {
      val appId = s.sparkContext.applicationId
      val cutoff = System.currentTimeMillis() - StaleAfterMs
      val entries = tmpRoot.listFiles()
      if (entries != null)
        entries.foreach { f =>
          if (f.getName.startsWith("graft_") && !f.getName.contains(appId) &&
              f.lastModified() < cutoff)
            try deleteRec(f)
            catch { case _: Exception => () }
        }
    }

  /** Scratch dir for `tag`, scoped by application and fixture. The
    * caller owns the lifecycle (overwrite / delete-then-append). */
  def dir(s: SparkSession, d: String, tag: String): String = {
    cleanupStale(s)
    new File(tmpRoot,
      s"graft_${tag}_" + s.sparkContext.applicationId + "_" +
        d.replaceAll("[^A-Za-z0-9]", "_")).getPath
  }

  /** [[dir]] for `tag`, emptied: the start of a sink the caller fills by
    * appending, so nothing from an earlier run survives. */
  private[graft] def fresh(s: SparkSession, d: String, tag: String): String = {
    val p = dir(s, d, tag)
    deleteRec(new File(p))
    p
  }

  /** A value computed at most once; a build that throws is retried by
    * the next caller. The thunk is dropped once it has run, so the memo
    * holds only results, never the plans the build closed over. */
  private final class Once(private var build: () => Any) {
    lazy val value: Any = { val v = build(); build = null; v }
  }
  private val memos = new ConcurrentHashMap[String, Once]()

  /** THE per-process memo for staged state keyed by a scratch dir path:
    * `build` runs at most once per key, concurrent callers of that key
    * wait for it, and callers of other keys never do. */
  def memo[T](key: String)(build: => T): T = {
    val fresh = new Once(() => build)
    val once = Option(memos.putIfAbsent(key, fresh)).getOrElse(fresh)
    once.value.asInstanceOf[T]
  }

  /** Stage a write-once artifact: `write` fills the (empty, existing)
    * dir once per (application, fixture, tag), then `_SUCCESS` marks it
    * complete. A failed `write` leaves no dir behind. */
  def staged(s: SparkSession, d: String, tag: String)(write: File => Unit): File = {
    val f = new File(dir(s, d, tag))
    memo(f.getPath) {
      val marker = new File(f, "_SUCCESS")
      if (!marker.exists()) {
        deleteRec(f)
        f.mkdirs()
        try write(f)
        catch { case e: Throwable => deleteRec(f); throw e }
        marker.createNewFile(): Unit
      }
      f
    }
  }

  /** [[staged]] for a parquet artifact: write `build` (partitioned by
    * `partCols`), commit its listing, and return the pinned read. */
  def stagedParquet(s: SparkSession, d: String, tag: String,
      partCols: Seq[String] = Nil)(build: => DataFrame): DataFrame =
    Pinned.read(s, staged(s, d, tag) { f =>
      build.write.mode("overwrite").partitionBy(partCols: _*).parquet(f.getPath)
      Pinned.commit(f): Unit
    })

  /** Bucket width for KEY-PARTITIONED staged serving artifacts (funnel
    * drop set / canonical map, BPE dict / doc stats, doc text, quality):
    * every artifact a per-micro-batch consumer probes is laid out
    * partitioned by a key-derived bucket so the probe prunes to the
    * directories its keys touch (the IVF cell layout's discipline
    * applied to point lookups — the KV-store shape every real serving
    * path uses). 32 at fixture scale; production sizes this to
    * thousands so a trigger's probe reads a corpus FRACTION. */
  val ServeBuckets = 32

  /** File-tree snapshot for rewrite AUDITS (pl11's night audit, ss15's
    * delete compaction): relative path → (length, mtime) for every data
    * file under `root`, hidden files and _SUCCESS markers excluded.
    * (length, mtime) is a REWRITE DETECTOR, not a byte-identity proof —
    * a rewrite that produced identical bytes within the same mtime
    * granularity would pass — which is the right strength for "this
    * partition directory was not touched" audits. */
  def snapshotTree(root: java.io.File): Map[String, (Long, Long)] = {
    // "_"-prefixed entries are PROTOCOL state (markers, _staging,
    // _snapshots listings, the done-log, the writer lease), not
    // artifact content — the audits compare data files only (snapshot
    // GC legitimately retires old listings mid-run).
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten
          .filterNot(k => k.isDirectory && k.getName.startsWith("_"))
          .flatMap(walk)
      else Seq(f)
    walk(root)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => f.getPath.stripPrefix(root.getPath) -> (f.length(), f.lastModified()))
      .toMap
  }

  /** Static bucket routing (st22's cell-routing discipline): restrict a
    * bucket-partitioned staged artifact to the buckets a BATCH-BOUNDED
    * probe touches. The collected bucket list is ≤ [[ServeBuckets]]
    * ints (the documented bounded-scalar class, like st22's cell list)
    * and becomes a static IN over the artifact's partition column —
    * planning-time directory pruning (PartitionFilters), so a trigger's
    * artifact read is O(touched buckets), never O(artifact). */
  def routeBuckets(artifact: org.apache.spark.sql.DataFrame, bktCol: String,
      probeBkts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val bkts = probeBkts.distinct().collect().map(_.getInt(0)).toSeq
    if (bkts.isEmpty) artifact.filter(lit(false))
    else artifact.filter(col(bktCol).isin(bkts: _*))
  }
}
