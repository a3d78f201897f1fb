package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge.materialized
import graft.sources.{Scratch, Tables}

/** pl11 — INCREMENTAL CORPUS-SNAPSHOT CURATION (SURVEY.md §2.5,
  * training-set construction family): the nightly production shape the
  * batch stack (pl05/pl08) deliberately does not have. pl05 recomputes
  * the world every run; at 100 TB the world is mostly UNCHANGED — the
  * right nightly job is "new crawl partition in, only affected output
  * partitions rewritten" (io10's dynamic partition overwrite + st19's
  * ledger-append, applied to the curation stack).
  *
  * Layout: documents are snapshotted into [[Parts]] crawl shards
  * (part = doc_id % Parts — production uses crawl day/shard). The
  * curated output is pl08's per-doc funnel attribution, written
  * PARTITIONED BY part. FIVE staged artifacts make a delta night
  * O(delta + affected) — the round-8 verdict's finding was that the
  * postings LEDGERS alone still forced three corpus-postings-scale
  * aggregations per night (crossed-hash distinct+groupBy, the full
  * drop-set rebuild, the full canonical-map groupBy); the two ADDITIVE
  * count/min artifacts below retire exactly those:
  *
  *   - docs/ (doc_id, lang, text)    PARTITIONED BY part — the snapshot
  *     itself (append-only); a rewrite reads ONLY affected shard dirs.
  *   - bh/   (doc_id, bh)            PARTITIONED BY bhbkt — block-hash
  *     postings (append-only); read ONLY for the inverse crossed-hash →
  *     containing-docs lookup, pruned to the crossed hashes' buckets.
  *   - df/   (bh, n)                 PARTITIONED BY bhbkt — per-hash
  *     document frequency, merged ADDITIVELY each night (counts only
  *     grow in an append-only corpus): the delta's partial counts
  *     full-outer-join the staged counts of the TOUCHED buckets only,
  *     and crossings fall out of the same merge (old < MinDf ≤ new) —
  *     never a postings re-aggregation. The drop set is df ≥ MinDf,
  *     read bucket-pruned to the hashes a rescore actually probes.
  *   - ck/   (doc_id, ck)            PARTITIONED BY (part, ckbkt) —
  *     each PASSING doc's content key; doc→ck lookups prune by part,
  *     ck→shard lookups prune by ckbkt.
  *   - cm/   (ck, part, min_id)      PARTITIONED BY (part, ckbkt) —
  *     per-(ck, shard) canonical-min partials. The global canonical id
  *     of a ck = min over its shard partials, so a rewrite recomputes
  *     ONLY its own shards' partials and min-merges them with the
  *     pruned unaffected partials — never a full ck-ledger groupBy.
  *     (A global (ck → min) scalar could not be maintained under
  *     rescoring — when the min doc LEAVES a group the new min is
  *     unknowable without the other members — which is exactly why the
  *     staged artifact is the per-shard partial, the associative form.)
  *
  * Ghost-partition rule (the round-8 advice's empty-shard hazard): a
  * rewritten partition that receives ZERO rows must actually LOSE its
  * directory — a shard whose rescore leaves no passing docs with a
  * surviving ck/cm partition makes later nights build canonical maps
  * from ghost postings and diverge from the full recompute
  * (IncrementalSpec pins this with a crafted fixture where a delta
  * night empties a shard). Under the commit protocol below this is the
  * manifest's `staged=false` replace: a delete-only publish action.
  *
  * NIGHT COMMIT PROTOCOL (the round-9 verdict's mid-night atomicity
  * boundary, closed): a night used to interleave live-dir mutations
  * (append docs → overwrite df → read it back → overwrite table →
  * delete+append ck/cm), so a crash between any two strands a
  * half-merged state only a lake-format transaction could fix. Now:
  *
  *   1. STAGE — the whole night computes against the PRE-state
  *      artifacts (plus in-memory views of the unpublished delta) and
  *      writes every output under `root/_staging/<night>/<artifact>`;
  *      the live tree is read-only throughout.
  *   2. COMMIT — a MANIFEST describing every publish action (partition
  *      replaces with a staged/delete-only flag, ledger appends) is
  *      written aside and atomically renamed into the staging dir.
  *      The rename is the commit point.
  *   3. PUBLISH — idempotent dir renames / file moves: a replace whose
  *      staged dir is gone was already applied (skip); a delete-only
  *      replace re-deletes a dir that is already absent (no-op); an
  *      append moves only the files still in staging. A crash anywhere
  *      in publish is completed by [[recoverPending]].
  *
  * Recovery rule: staging WITH a manifest = committed night — finish
  * the publish; staging WITHOUT = uncommitted attempt — discard it,
  * the live tree was never touched, the night simply reruns. The
  * crash-injection specs in IncrementalSpec kill a night at both
  * points and prove convergence to the full recompute after restart.
  *
  * Night 0 builds base shards; then TWO delta nights land in sequence —
  * the second night runs against artifacts the first night's rewrite
  * already refreshed, which is exactly where incremental systems rot
  * (stale side artifacts), so it is exercised, not assumed. Each delta
  * night:
  *   1. Appends the delta's docs + postings, merges its partial df
  *      counts into the touched buckets, and reads the CROSSED hashes
  *      (df reaching [[MinDf]] for the first time — df only grows in an
  *      append-only corpus, no downward flips) straight off the merge.
  *   2. Affected shard set: shards of docs containing a crossed hash
  *      (their cleaned text, quality and content key all change), plus
  *      shards sharing a content-key GROUP with any such doc or any
  *      delta doc (their kept/duplicate flag depends on the group's
  *      canonical id), plus the delta shard itself. Collected as a
  *      ≤Parts-int driver scalar (st22's routing class).
  *   3. Rewrites ONLY the affected shards (docs read partition-pruned
  *      from the snapshot) against the bucket-pruned drop set and the
  *      partial-merged canonical map, staging replacement content for
  *      exactly those table/ck/cm partitions. Untouched files in EVERY
  *      artifact are byte-identical across the night — IncrementalSpec
  *      audits the whole tree, not just the output table.
  *
  * The oracle is the FULL RECOMPUTE over the final corpus (pl08's
  * per-doc CTE chain at this operator's threshold): the incremental
  * path must converge to exactly the from-scratch answer, which is the
  * property that catches any missed dependency in step 2.
  *
  * MinDf = 2 here (the fixture's duplication density: its content
  * paragraphs top out at df 2, so C4's df ≥ 3 would make every night a
  * no-op); production runs the same code at ≥ 3.
  */
object Incremental {

  private[graft] val Parts = 8
  private[graft] val MinDf = 2

  /** Bucket widths for the hash-keyed artifacts (Scratch.ServeBuckets
    * discipline — production sizes these to thousands). bh buckets are
    * wider than ck buckets because the df-merge audit wants a sparse
    * delta to leave most buckets untouched even at fixture scale. */
  private[graft] val BhBuckets = 64
  private[graft] val CkBuckets = 32

  private def partOf(c: Column) = pmod(c, lit(Parts.toLong)).cast("int")
  private def bhBktOf(c: Column) = pmod(c, lit(BhBuckets.toLong)).cast("int")
  private def ckBktOf(c: Column) = pmod(hash(c), lit(CkBuckets)).cast("int")

  /** The artifact directory layout under one staged-run root. */
  private[graft] final case class Dirs(root: String) {
    val table = new java.io.File(root, "table").getPath
    val docs = new java.io.File(root, "docs").getPath
    val bh = new java.io.File(root, "bh").getPath
    val df = new java.io.File(root, "df").getPath
    val ck = new java.io.File(root, "ck").getPath
    val cm = new java.io.File(root, "cm").getPath
  }

  /** Per-doc scored relation (doc_id, lang, n_kept, txt, q, ck) from
    * precomputed extraction intermediates against an explicit drop
    * relation — pl08's stages 1–3 with both the blocks and the postings
    * supplied by the caller (they are computed ONCE per night and
    * shared between the df merge and the rescore). */
  private def scoredFromBh(
      blocksDf: DataFrame, bhPost: DataFrame, dropSet: DataFrame): DataFrame = {
    val kept = bhPost.hint("shuffle_hash")
      .join(dropSet.hint("shuffle_hash"), Seq("bh"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("kept_idx"))
    Curation.cleanedScoredOf(blocksDf, kept)
      .withColumn("ck", md5(col("txt")))
  }

  /** The drop set (bh with df ≥ MinDf) from a df RELATION, pruned to
    * the buckets a probe's hashes touch — an anti-join consumer only
    * ever needs the drop rows its own hashes could match, so the df
    * view is read O(touched buckets), never end-to-end. (Mid-night the
    * relation is the pre-state artifact outside the merged buckets
    * unioned with the in-memory merge — the staged df is not published
    * until the commit point.) */
  private def dropFrom(dfRel: DataFrame, probeBh: DataFrame): DataFrame =
    Scratch.routeBuckets(dfRel, "bhbkt", probeBh.select(bhBktOf(col("bh"))))
      .filter(col("n") >= MinDf).select(col("bh"))

  /** Funnel attribution of a scored relation against a canonical map. */
  private def stagesOf(scored: DataFrame, canon: DataFrame): DataFrame =
    scored.hint("shuffle_hash")
      .join(canon.hint("shuffle_hash"), Seq("ck"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("n_kept") === 0, "boilerplate_only")
          .when(col("q") < 0.5, "low_quality")
          .when(col("doc_id") =!= col("canon_id"), "duplicate")
          .otherwise("kept").as("stage"),
        partOf(col("doc_id")).as("part"))

  /** One delta night's audit: the arriving shard, which table shards
    * its rewrite touched, which df buckets its count-merge touched, and
    * file snapshots of the WHOLE artifact tree taken before/after —
    * everything outside the touched sets must be byte-identical, and
    * the append-only ledgers (docs/, bh/) must keep every pre-existing
    * file unchanged. */
  private[graft] final case class NightAudit(
    deltaPart: Int, affectedParts: Seq[Int], touchedDfBkts: Seq[Int],
    crossedBhBkts: Seq[Int],
    preFiles: Map[String, (Long, Long)], postFiles: Map[String, (Long, Long)])

  /** Build audit the spec consumes: the artifact dirs + per-night audits. */
  private[graft] final case class Pl11Audit(dirs: Dirs, nights: Seq[NightAudit])

  private def snapshotFiles(root: java.io.File): Map[String, (Long, Long)] =
    Scratch.snapshotTree(root)

  // ------------------------------------------------------------------
  // Night commit protocol: stage → manifest (commit point) → publish.
  //
  // ATOMICITY ASSUMPTIONS (object-store portability note): the commit
  // point is an ATOMIC_MOVE rename of the manifest, and every publish
  // step is a `File.renameTo` — both atomic only WITHIN one filesystem.
  // The staging tree lives under `root/_staging`, so same-filesystem
  // holds unless a mount point interposes; [[withWriterLock]] asserts
  // it once per root (the cheap canary). An object-store port (S3/GCS
  // have no atomic rename) replaces the renames with copy-then-
  // manifest-pointer-swap and readers with the manifest-pinned file
  // listings of [[graft.sources.Pinned]] — the protocol's commit-point
  // and recovery semantics carry over unchanged.
  //
  // SINGLE WRITER: nights assume one writer per artifact root. The
  // assumption is ENFORCED, not just documented — [[withWriterLock]]
  // takes a lease file under the root (atomic create; stale-holder
  // takeover by age) and a second concurrent night fails loud with
  // [[ConcurrentNightWriter]] instead of interleaving staging and
  // publishes. Completed nights are recorded in ONE append-only log
  // (`_nights.log` — [[recordDone]]/[[doneTags]]) rather than a
  // marker file per night, and the record is written by
  // [[publishManifest]] itself (an `M|tag` manifest action) BEFORE the
  // committed staging is destroyed — so there is no crash window in
  // which a published night looks unpublished to a replay.
  // ------------------------------------------------------------------

  /** Crash injected by the atomicity specs; scoped by artifact root so
    * parallel suites cannot trip each other's failpoints. Points:
    * "pre-manifest" (staging complete, commit not written — the whole
    * night must be discardable), "mid-publish" (one replace applied,
    * the rest pending — recovery must finish the publish),
    * "post-pointer" (copy strategy only: listings committed, stale
    * files not yet reaped — recovery must converge and readers must
    * never resolve the garbage), and "post-publish" (published and
    * done-log recorded, committed staging not yet destroyed — a
    * redelivery must recover without RERUNNING the night). */
  private[graft] final class InjectedNightCrash(point: String)
    extends RuntimeException(s"injected night crash at $point")
  @volatile private[graft] var failAt: Option[(String, String)] = None
  private def failIf(root: String, point: String): Unit =
    if (failAt.contains((root, point))) throw new InjectedNightCrash(point)

  private def deleteRec(f: java.io.File): Unit = Scratch.deleteRec(f)

  private def stageDirOf(d: Dirs, tag: String): java.io.File =
    new java.io.File(new java.io.File(d.root, "_staging"), tag)

  // ------------------------------------------------------------------
  // Writer mutual exclusion: one night at a time per artifact root.
  // ------------------------------------------------------------------

  /** A second writer raced an in-flight night on the same root — the
    * loser must fail LOUD (and rerun later), never interleave. */
  private[graft] final class ConcurrentNightWriter(msg: String)
    extends IllegalStateException(msg)

  /** In-process lease table: root → (owner thread, re-entry depth).
    * The file lease below excludes other PROCESSES; this excludes other
    * threads of this one and makes the lock re-entrant (the idempotent
    * wrappers hold it around recovery + the night body, which itself
    * acquires). */
  private val heldLeases = TrieMap.empty[String, (Thread, Int)]

  /** root → (token, lock file) of the ACTIVE file lease in this JVM —
    * the FENCING handle: rename-based FS leases cannot fully exclude a
    * takeover racing a stalled holder, so the irreversible actions
    * (the manifest commit point, the publish) re-verify ownership via
    * [[assertLeaseHeld]] immediately before acting. A superseded
    * holder fails loud there instead of publishing over the new
    * holder's night (the Chubby/ZK fencing discipline). */
  private val activeLeases = TrieMap.empty[String, (String, java.io.File)]

  /** Fence: the current lease holder's token must still be in the lock
    * file. No-op when no file lease is registered for the root (spec
    * hooks that drive recovery primitives directly). */
  private def assertLeaseHeld(d: Dirs): Unit =
    activeLeases.get(d.root).foreach { case (tok, lock) =>
      val held =
        try new String(java.nio.file.Files.readAllBytes(lock.toPath),
          java.nio.charset.StandardCharsets.UTF_8) == tok
        catch { case _: Exception => false }
      if (!held)
        throw new ConcurrentNightWriter(
          s"writer lease for ${d.root} was lost (superseded by a stale-" +
            "lease takeover) — fencing the commit point; this night must " +
            "rerun under a fresh lease")
    }

  /** Single-writer lease for a night root: `_WRITER.lock` under the
    * root, atomically created (`Files.createFile`) and then stamped
    * with this holder's unique token — heartbeat touches and the
    * release delete verify the token first, so a stalled holder that
    * resumes after an age-based takeover can neither keep the new
    * holder's lock alive nor delete it on exit. A live lock from
    * another writer fails loud; a STALE lock (holder died without
    * release — age over `staleMs` with no heartbeat touch) is taken
    * over by ATOMIC RENAME to a per-claimant name — the rename
    * succeeds for exactly one claimant (delete+recreate could
    * interleave as A.delete → A.create → B.delete(A's fresh lock) →
    * B.create, leaving two holders), after which the create re-races
    * atomically with any fresh acquirers. Also runs the
    * same-filesystem canary once — the rename-atomicity assumption
    * the commit protocol stands on. */
  private[graft] def withWriterLock[T](d: Dirs,
      staleMs: Long = 10L * 60L * 1000L)(body: => T): T = {
    val me = Thread.currentThread()
    heldLeases.get(d.root) match {
      case Some((t, n)) if t eq me =>
        heldLeases.update(d.root, (me, n + 1))
        try body
        finally heldLeases.update(d.root, (me, n))
      case Some(_) =>
        throw new ConcurrentNightWriter(
          s"another night holds the writer lease for ${d.root} (this JVM)")
      case None =>
        if (heldLeases.putIfAbsent(d.root, (me, 1)).isDefined)
          throw new ConcurrentNightWriter(
            s"another night holds the writer lease for ${d.root} (this JVM)")
        val root = new java.io.File(d.root)
        root.mkdirs()
        sameFileStore(root): Unit // warms the strategy probe (and _staging)
        val lock = new java.io.File(root, "_WRITER.lock")
        val token = java.util.UUID.randomUUID().toString
        def tryCreate(): Boolean =
          try {
            java.nio.file.Files.createFile(lock.toPath)
            // The create is the atomic claim; the token write follows
            // non-atomically, but nothing reads it earlier than a
            // takeover probe (≥ staleMs later) or our own heartbeat.
            try java.nio.file.Files.write(lock.toPath,
              token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            catch { case e: Throwable =>
              // A failed token write must not strand an ownerless lock
              // that blocks every writer for staleMs.
              lock.delete(); throw e
            }
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
        def ownsLock(): Boolean =
          try new String(java.nio.file.Files.readAllBytes(lock.toPath),
            java.nio.charset.StandardCharsets.UTF_8) == token
          catch { case _: Exception => false }
        try {
          def readToken(f: java.io.File): String =
            try new String(java.nio.file.Files.readAllBytes(f.toPath),
              java.nio.charset.StandardCharsets.UTF_8)
            catch { case _: Exception => "" }
          // Reap AGED claim/tombstone corpses (a claimant that crashed
          // between its rename and the delete/restore): both kinds are
          // private per-token files held for microseconds, so one older
          // than staleMs belongs to a dead process — left alone they
          // accrete one per crash forever (the marker-file census
          // mistake).
          Option(root.listFiles()).toSeq.flatten
            .filter(f => f.isFile &&
              (f.getName.startsWith("_WRITER.lock.stale.") ||
                f.getName.startsWith("_WRITER.lock.release.")) &&
              System.currentTimeMillis() - f.lastModified() > staleMs)
            .foreach(_.delete(): Unit)
          var acquired = tryCreate()
          val observedT = if (acquired) "" else readToken(lock)
          if (!acquired &&
              System.currentTimeMillis() - lock.lastModified() > staleMs) {
            // Stale takeover: rename wins for exactly one claimant, and
            // the claim is VERIFIED after the rename — token AND mtime
            // must still be the stale state we probed. Between the
            // probe and the rename a racing claimant can complete its
            // own takeover and create a FRESH lock at this path;
            // seizing that would admit two holders. A stolen fresh
            // lock is restored WITHOUT clobbering (a plain move — if a
            // third claimant occupied the path meanwhile, the stolen
            // holder is demoted instead: its token checks stop its
            // heartbeat/release, and [[assertLeaseHeld]] fences its
            // commit points, so it can no longer publish).
            val claim = new java.io.File(root, s"_WRITER.lock.stale.$token")
            if (lock.renameTo(claim)) {
              if (readToken(claim) == observedT &&
                  System.currentTimeMillis() - claim.lastModified() > staleMs) {
                claim.delete(): Unit
                acquired = tryCreate()
              } else {
                try java.nio.file.Files.move(claim.toPath, lock.toPath): Unit
                catch { case _: Exception => claim.delete(): Unit }
              }
            } else acquired = tryCreate()
          }
          if (!acquired)
            throw new ConcurrentNightWriter(
              s"writer lease $lock is held by another process " +
                s"(age ${System.currentTimeMillis() - lock.lastModified()} ms)")
          // RELEASE is rename-to-tombstone, not check-then-delete:
          // `if (ownsLock()) lock.delete()` has a window where a
          // takeover renames the lock away and a successor recreates a
          // fresh one between the ownership read and the delete — the
          // stalled holder would then delete the SUCCESSOR'S live
          // lock. The rename claims the file atomically; the token
          // check then decides delete-vs-restore on a private
          // tombstone no other claimant races (the same discipline as
          // the stale-takeover claim above).
          def releaseLock(): Unit = {
            val tomb = new java.io.File(root, s"_WRITER.lock.release.$token")
            if (lock.renameTo(tomb)) {
              if (readToken(tomb) == token) tomb.delete(): Unit
              else {
                // We renamed a successor's LIVE lock — restore without
                // clobbering; if a third claimant occupied the path
                // meanwhile, the demoted successor is fenced by its own
                // token checks (heartbeat/release/assertLeaseHeld).
                try java.nio.file.Files.move(tomb.toPath, lock.toPath): Unit
                catch { case _: Exception => tomb.delete(): Unit }
              }
            } // rename failed: lock already removed/claimed — nothing held
          }
          // EVERYTHING after acquisition runs under the release's
          // try/finally — the legacy fold can fail loud (corrupt
          // done-log header), and a throw before the body must not
          // strand an ownerless lock that blocks every writer for
          // staleMs.
          var beat: Thread = null
          try {
            // One-time legacy-marker fold, HERE because this is the one
            // gate every writer passes: folding from unlocked read
            // paths (doneTags) would append to _nights.log outside the
            // single-writer regime its no-interleave argument needs.
            foldLegacyMarkers(d)
            // HEARTBEAT: a night longer than staleMs must not look
            // stale to a takeover probe — a daemon touches the lease
            // while the body runs (ownership-checked, see above), so
            // age-based takeover only ever fires on a lease whose
            // holder died.
            beat = new Thread(() =>
              try while (!Thread.currentThread().isInterrupted) {
                Thread.sleep(math.max(1000L, staleMs / 3))
                if (ownsLock())
                  lock.setLastModified(System.currentTimeMillis()): Unit
              } catch { case _: InterruptedException => () })
            beat.setDaemon(true)
            beat.start()
            activeLeases.put(d.root, (token, lock)): Unit
            body
          } finally {
            activeLeases.remove(d.root): Unit
            if (beat != null) beat.interrupt()
            releaseLock()
          }
        } finally { heldLeases.remove(d.root): Unit }
    }
  }

  /** Publish STRATEGY switch (the round-11 canary, demoted from a
    * hard require): dir renames are atomic only within one FileStore,
    * so when the staging tree and the live root share one, publish is
    * the rename sequence ([[publishManifest]]'s fast path); when they
    * do not — the object-store shape: S3/GCS have no atomic rename at
    * all — publish switches to COPY + SNAPSHOT-POINTER
    * ([[publishByCopy]]), where visibility moves at the committed
    * listing instead of at renames. Checked once per root per
    * process; `forceCopyPublish` lets the protocol specs exercise the
    * copy strategy without a second mounted FileStore. */
  @volatile private[graft] var forceCopyPublish: Set[String] = Set.empty
  private val fsChecked = TrieMap.empty[String, Boolean]
  private def sameFileStore(root: java.io.File): Boolean =
    fsChecked.getOrElseUpdate(root.getPath, {
      val staging = new java.io.File(root, "_staging")
      staging.mkdirs()
      java.nio.file.Files.getFileStore(root.toPath) ==
        java.nio.file.Files.getFileStore(staging.toPath)
    })
  private def copyStrategy(root: java.io.File): Boolean =
    forceCopyPublish.contains(root.getPath) || !sameFileStore(root)

  // ------------------------------------------------------------------
  // Completed-night log: ONE append-only file instead of a marker file
  // per night (the marker-file census grew one file per night forever).
  // ------------------------------------------------------------------

  private def nightLog(d: Dirs) = new java.io.File(d.root, "_nights.log")

  /** Record `tag` as published. Called by [[publishManifest]] for
    * manifest `M|` actions — i.e. BEFORE the committed staging dir is
    * deleted, so a crash can never destroy the staging of a night that
    * has not yet been recorded (the round-10 advice's residual window).
    * Single-writer (the lease) ⇒ appends never interleave. The write
    * LEADS with "\n" to self-heal a torn final line: a crash mid-append
    * can leave a partial tag with no terminator, and appending `tag\n`
    * directly would GLUE the recovery re-append onto it
    * ("nighnight_7") — then doneTags misses the tag and the idempotent
    * wrapper re-runs a published night, double-appending its additive
    * ledgers. With the leading newline the torn fragment stays its own
    * line, and the TERMINATOR SENTINEL ("|end") makes torn lines
    * unambiguous: a fragment can be a PREFIX of a valid tag ("night_1"
    * torn out of "night_13" — nights publish in arrival order, so the
    * shorter tag may genuinely still be pending), and only a line
    * carrying the full sentinel is trusted. Blank lines are filtered
    * by [[doneTags]]; tags are '|'-free by the manifest's own "M|tag"
    * framing. */
  private val DoneEnd = "|end"
  /** First line of a sentinel-format log. It is what disambiguates a
    * LEGACY plain-tag line (pre-sentinel format — must be migrated and
    * trusted) from a NEW-format torn fragment (must be ignored): both
    * are '|'-free, so only the log's own version marker can tell the
    * formats apart. */
  private val LogHeader = "#v2"
  private def recordDone(d: Dirs, tag: String): Unit = {
    require(!tag.contains("|"), s"done tag may not contain '|': $tag")
    val log = nightLog(d)
    val hdrTmp = new java.io.File(d.root, "_nights.log.hdr.tmp")
    if (!log.exists()) {
      // The initial header is written tmp + ATOMIC RENAME: a crash
      // mid-write of a direct header write could leave a PARTIAL
      // header ("#v"), which would make the v2 log re-parse as legacy
      // on the next lease entry and bless torn fragments as done tags
      // (migrateDoneLog fails loud on such a header, but it must also
      // never be producible from this path).
      java.nio.file.Files.write(hdrTmp.toPath, (LogHeader + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(hdrTmp.toPath, log.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    } else if (hdrTmp.exists()) hdrTmp.delete(): Unit // crashed-header corpse
    val out = new java.io.FileOutputStream(log, true)
    try out.write(("\n" + tag + DoneEnd + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def legacyMarkers(d: Dirs): Seq[java.io.File] =
    Option(new java.io.File(d.root).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("_") &&
        f.getName.endsWith(".done"))

  /** One-time migration of LEGACY per-night marker files (`_<tag>
    * .done`, the round-10 scheme) into the log. Called ONLY from
    * [[withWriterLock]] (every writer's entry gate): folding from
    * unlocked read paths would let two processes append to
    * `_nights.log` concurrently, outside the single-writer regime the
    * log's no-interleave argument depends on. Membership is unioned
    * into the log before the markers are deleted, so replay
    * idempotence is preserved. */
  private def foldLegacyMarkers(d: Dirs): Unit = {
    legacyMarkers(d).foreach { f =>
      recordDone(d, f.getName.stripPrefix("_").stripSuffix(".done"))
      f.delete(): Unit
    }
    migrateDoneLog(d)
  }

  /** One-time migration of PRE-SENTINEL done-log lines (plain `tag`
    * with no `|end` terminator — the format before the torn-line fix):
    * without this, an upgraded root's published nights would parse as
    * not-done and RERUN, double-appending their additive ledgers. Runs
    * only under the writer lease. A legacy line that was itself a torn
    * fragment is blessed here — that is the OLD format's pre-existing
    * exposure, closed going forward by the sentinel. Rewrite is
    * tmp + atomic rename (single writer, so no append can interleave). */
  private def migrateDoneLog(d: Dirs): Unit = {
    val log = nightLog(d)
    if (!log.exists()) return
    val lines = new String(java.nio.file.Files.readAllBytes(log.toPath),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
      .filter(_.nonEmpty)
    // A '#'-prefixed first line that is not EXACTLY the version header
    // is corrupt state (no writer produces one: the header write is
    // tmp + atomic rename, and tags are night/day keys) — re-migrating
    // such a log would bless whatever fragments follow it as done
    // tags. Fail loud instead.
    if (lines.headOption.exists(h => h.startsWith("#") && h != LogHeader))
      throw new IllegalStateException(
        s"done log ${log.getPath} has a corrupt version header " +
          s"'${lines.head}' — refusing to re-migrate; repair the log " +
          "by hand (expected first line: " + LogHeader + ")")
    if (!lines.headOption.contains(LogHeader)) {
      // A headerless log predates the sentinel format: every plain
      // line is a complete legacy record — bless it and stamp the
      // header so '|'-free lines are never blessed again.
      val migrated = LogHeader +: lines.map(l =>
        if (l.contains("|")) l else l + DoneEnd)
      val tmp = new java.io.File(d.root, "_nights.log.tmp")
      java.nio.file.Files.write(tmp.toPath, (migrated.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp.toPath, log.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    }
  }

  /** The set of published night tags: the log's lines unioned with any
    * not-yet-folded legacy markers. SIDE-EFFECT-FREE — bare read paths
    * (the nightDone spec hook) must not rewrite state; the legacy fold
    * itself runs under the writer lease (see [[foldLegacyMarkers]]).
    * ONLY sentinel-terminated lines are trusted ([[recordDone]]): a
    * torn fragment can equal a shorter VALID tag ("night_1" torn out
    * of "night_13"), so an unterminated line must never count as done
    * — the pending manifest re-publishes and re-records it intact on
    * recovery. (No pre-sentinel logs persist anywhere: artifact roots
    * are per-application scratch or spec temp dirs.) */
  private[graft] def doneTags(d: Dirs): Set[String] = {
    val legacy = legacyMarkers(d)
      .map(_.getName.stripPrefix("_").stripSuffix(".done")).toSet
    val log = nightLog(d)
    val logged =
      if (!log.exists()) Set.empty[String]
      else new String(java.nio.file.Files.readAllBytes(log.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").toSeq
        .collect { case l if l.endsWith(DoneEnd) => l.dropRight(DoneEnd.length) }
        .toSet
    legacy ++ logged
  }

  /** Whether night `tag` has been published (spec hook). */
  private[graft] def nightDone(d: Dirs, tag: String): Boolean =
    doneTags(d).contains(tag)

  /** One publish action: replace the live `artifact/dir` partition with
    * the staged one (`staged=true`), or delete it outright
    * (`staged=false` — the ghost rule: the rewrite emitted zero rows
    * for it, so the directory must vanish, not linger). */
  private final case class Replace(artifact: String, dir: String, staged: Boolean)

  /** THE COMMIT POINT: write the manifest aside and atomically rename
    * it in. Before the rename the night is invisible (staging is
    * discarded on recovery); after it the night WILL be published,
    * by this process or by [[recoverPending]] after a crash. A
    * marker-managed night (the streaming at-least-once class) records
    * its done-log entry as a manifest ACTION (`M|tag`), so the record
    * is written by publish itself — before the staging is destroyed —
    * on both the primary path and the recovery path. */
  private def commitNight(d: Dirs, stage: java.io.File,
      replaces: Seq[(String, Seq[String])], appends: Seq[String],
      marker: Option[String] = None): Unit = {
    assertLeaseHeld(d) // fence: never commit on a superseded lease
    val lines =
      replaces.flatMap { case (art, dirs) =>
        dirs.map { dir =>
          val staged = new java.io.File(new java.io.File(stage, art), dir).exists()
          s"R|$art|$dir|${if (staged) 1 else 0}"
        }
      } ++ appends.map(a => s"A|$a") ++ marker.map(m => s"M|$m").toSeq
    val tmp = new java.io.File(stage, "MANIFEST.tmp")
    java.nio.file.Files.write(tmp.toPath,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(stage, "MANIFEST").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private def readManifest(
      stage: java.io.File): (Seq[Replace], Seq[String], Seq[String]) = {
    val lines = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(stage, "MANIFEST").toPath),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq.filter(_.nonEmpty)
    val rs = lines.collect { case l if l.startsWith("R|") =>
      val Array(_, art, dir, fl) = l.split("\\|")
      Replace(art, dir, fl == "1")
    }
    (rs, lines.collect { case l if l.startsWith("A|") => l.drop(2) },
      lines.collect { case l if l.startsWith("M|") => l.drop(2) })
  }

  /** Apply a committed manifest to the live dirs. Every step is
    * IDEMPOTENT so a crashed publish re-applies cleanly: a staged
    * replace whose staging dir is gone was already moved (skip); a
    * delete-only replace re-deletes an absent dir (no-op); an append
    * moves only the data files still sitting in staging (renames
    * removed the rest). Replaces run before appends so the mid-publish
    * failpoint lands exactly on the old "between the df overwrite and
    * the table rewrite" hazard the round-9 verdict documented. */
  private def publishManifest(d: Dirs, stage: java.io.File): Unit = {
    assertLeaseHeld(d) // fence: never publish on a superseded lease
    val (replaces, appends, markers) = readManifest(stage)
    if (copyStrategy(new java.io.File(d.root)))
      publishByCopy(d, stage, replaces, appends)
    else
      publishByRename(d, stage, replaces, appends)
    // Done-log records LAST (all data is live) but still BEFORE the
    // caller deletes the staging dir — re-running this publish after a
    // crash at any point re-applies no-ops and re-records (duplicate
    // log lines are harmless), so the round-10 advice's post-publish/
    // pre-marker window no longer exists.
    assertLeaseHeld(d) // fence: never record done on a superseded lease
    markers.foreach(recordDone(d, _))
  }

  private def publishByRename(d: Dirs, stage: java.io.File,
      replaces: Seq[Replace], appends: Seq[String]): Unit = {
    // The entry fence alone is not enough: a publish is LONG-RUNNING,
    // and a holder that stalls after passing it (a GC/VM pause also
    // stalls its heartbeat daemon) can be superseded by an age-based
    // takeover and then RESUME — its deleteRec/rename sequence would
    // silently interleave with the new holder's publish. Re-assert
    // immediately before every visibility point (each replace rename
    // here, each pointer swap in the copy strategy, the done-log
    // record), shrinking the unfenced window to one rename. On a real
    // object store only a conditional-put snapshot pointer closes the
    // residual window completely — Pinned.commitListing is exactly
    // that single-key swap point.
    var applied = 0
    replaces.foreach { r =>
      assertLeaseHeld(d) // fence: re-verify before each destructive rename
      val liveDir = new java.io.File(new java.io.File(d.root, r.artifact), r.dir)
      val stagedDir = new java.io.File(new java.io.File(stage, r.artifact), r.dir)
      if (r.staged) {
        if (stagedDir.exists()) {
          deleteRec(liveDir)
          liveDir.getParentFile.mkdirs()
          require(stagedDir.renameTo(liveDir),
            s"night publish: rename $stagedDir -> $liveDir failed")
        } // else: already published by a crashed attempt — skip
      } else deleteRec(liveDir)
      applied += 1
      if (applied == 1) failIf(d.root, "mid-publish")
    }
    appends.foreach { a =>
      val stagedArt = new java.io.File(stage, a)
      val liveArt = new java.io.File(d.root, a)
      Option(stagedArt.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .foreach { pdir =>
          val livePDir = new java.io.File(liveArt, pdir.getName)
          livePDir.mkdirs()
          Option(pdir.listFiles()).toSeq.flatten
            .filter(f => f.isFile && !f.getName.startsWith("_") &&
              !f.getName.startsWith("."))
            .foreach { f =>
              require(f.renameTo(new java.io.File(livePDir, f.getName)),
                s"night publish: move $f -> $livePDir failed")
            }
        }
    }
    // Every published artifact gets its snapshot listing committed
    // (graft.sources.Pinned) so concurrent probes resolve a consistent
    // pre- or post-night file set instead of the torn directory the
    // rename sequence above exposes. Content-idempotent: a recovery
    // republish finds the listing unchanged and commits nothing.
    (replaces.map(_.artifact) ++ appends).distinct.foreach { a =>
      assertLeaseHeld(d) // fence: re-verify before each snapshot commit
      graft.sources.Pinned.commit(new java.io.File(d.root, a)): Unit
    }
  }

  /** The OBJECT-STORE publish: no atomic rename exists (S3/GCS), so
    * visibility moves from renames to the SNAPSHOT POINTER —
    *  (1) COPY staged files into the live dirs BESIDE the old files
    *      (staged part names are fresh UUIDs, so no collision; a
    *      recovery re-copy overwrites byte-identical content —
    *      idempotent);
    *  (2) commit each touched artifact's post-night file LISTING
    *      ([[graft.sources.Pinned.commitListing]] — the pointer swap;
    *      on a real store the SNAP rename is a conditional put).
    *      Pinned readers switch atomically from the pre-night to the
    *      post-night file set at exactly this point;
    *  (3) reap the superseded files (old files of replaced dirs,
    *      delete-only dirs — the ghost rule). Idempotent: a crash here
    *      leaves garbage no committed listing references, and the
    *      recovery re-publish re-deletes it.
    * DIRECT directory reads are not torn-safe between (2) and (3) —
    * an object-store deployment reads through Pinned, which is the
    * point of the port; the night's own computations run after
    * recovery completes the publish, so they never see the window. */
  private def publishByCopy(d: Dirs, stage: java.io.File,
      replaces: Seq[Replace], appends: Seq[String]): Unit = {
    // snapshotTree already excludes protocol state (_-dirs, _/. files).
    def dataFilesUnder(dir: java.io.File): Seq[java.io.File] =
      if (!dir.exists()) Seq.empty
      else Scratch.snapshotTree(dir).keys.toSeq
        .map(k => new java.io.File(dir, k.stripPrefix("/")))
    def rel(base: java.io.File, f: java.io.File): String =
      f.getPath.stripPrefix(base.getPath).stripPrefix("/")
    def copyInto(srcDir: java.io.File, destDir: java.io.File): Unit =
      dataFilesUnder(srcDir).foreach { f =>
        val dest = new java.io.File(destDir, rel(srcDir, f))
        dest.getParentFile.mkdirs()
        java.nio.file.Files.copy(f.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    // (1) copy new data in; collect the superseded live files.
    val stale = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    val ghostDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    var applied = 0
    replaces.foreach { r =>
      val liveDir = new java.io.File(new java.io.File(d.root, r.artifact), r.dir)
      val stagedDir = new java.io.File(new java.io.File(stage, r.artifact), r.dir)
      val incoming = dataFilesUnder(stagedDir).map(rel(stagedDir, _)).toSet
      stale ++= dataFilesUnder(liveDir)
        .filterNot(f => incoming.contains(rel(liveDir, f)))
      if (r.staged) copyInto(stagedDir, liveDir)
      else ghostDirs += liveDir
      applied += 1
      if (applied == 1) failIf(d.root, "mid-publish")
    }
    appends.foreach { a =>
      copyInto(new java.io.File(stage, a), new java.io.File(d.root, a))
    }
    // (2) pointer swap: post-night listing = what is on disk now minus
    // the superseded files. Content-idempotent on recovery re-runs.
    val staleRel = stale.map(f => rel(new java.io.File(d.root), f)).toSet
    (replaces.map(_.artifact) ++ appends).distinct.foreach { a =>
      // Fence before each pointer swap: a stalled-then-resumed
      // superseded holder must not move readers onto its stale night's
      // file set (see publishByRename's fence note; on a real object
      // store this swap is a conditional put, which closes the window
      // fully).
      assertLeaseHeld(d)
      val aRoot = new java.io.File(d.root, a)
      val post = graft.sources.Pinned.currentFiles(aRoot)
        .filterNot(f => staleRel.contains(s"$a/$f"))
      graft.sources.Pinned.commitListing(aRoot, post): Unit
    }
    failIf(d.root, "post-pointer")
    // (3) reap superseded data — fenced: a superseded holder's stale
    // notion of "superseded files" can include files the NEW holder's
    // committed listing references.
    assertLeaseHeld(d)
    stale.foreach(f => f.delete(): Unit)
    ghostDirs.foreach(deleteRec)
  }

  /** Complete or discard every staged night left behind by a crash:
    * a staging dir WITH a manifest is a committed night — finish its
    * publish (idempotent; the manifest's `M|` action re-records the
    * done-log entry); one WITHOUT a manifest never touched the live
    * tree — discard it (this is also the `_staging` GC: aged discards
    * from dead runs are reaped here, and the idempotent wrappers call
    * this at every night entry). Returns the tags published. Under the
    * single-writer lease at most ONE committed staging can pend (each
    * night publishes before the next commits) — asserted, because the
    * lexicographic publish order below would silently misorder
    * committed nights (`night_10` before `night_2`) if that invariant
    * ever broke. */
  private[graft] def recoverPending(d: Dirs): Seq[String] = {
    val stRoot = new java.io.File(d.root, "_staging")
    val pending = Option(stRoot.listFiles()).toSeq.flatten
      .filter(_.isDirectory).sortBy(_.getName)
    require(pending.count(st => new java.io.File(st, "MANIFEST").exists()) <= 1,
      s"recovery: multiple committed stagings pend under $stRoot — the " +
        "single-writer invariant is broken and publish order is undefined")
    pending.flatMap { stage =>
      val committed = new java.io.File(stage, "MANIFEST").exists()
      if (committed) publishManifest(d, stage)
      deleteRec(stage)
      if (committed) Some(stage.getName) else None
    }
  }

  /** Night 0: the base snapshot build — full-batch over `baseDocs`,
    * writing every staged artifact in its incremental layout. */
  private[graft] def baseBuild(s: SparkSession, d: Dirs, baseDocs: DataFrame): Unit = {
    baseDocs.select(col("doc_id"), col("lang"), col("text"),
        partOf(col("doc_id")).as("part"))
      .write.mode("overwrite").partitionBy("part").parquet(d.docs)
    val blocks = Curation.webBlocksOf(s.read.parquet(d.docs))
    val bhPost = materialized(Curation.bhOf(blocks))
    bhPost.select(col("doc_id"), col("bh"), bhBktOf(col("bh")).as("bhbkt"))
      .write.mode("overwrite").partitionBy("bhbkt").parquet(d.bh)
    bhPost.select(col("doc_id"), col("bh")).distinct()
      .groupBy(col("bh")).agg(count(lit(1)).as("n"))
      .withColumn("bhbkt", bhBktOf(col("bh")))
      .write.mode("overwrite").partitionBy("bhbkt").parquet(d.df)
    val scored = scoredFromBh(blocks, bhPost,
      s.read.parquet(d.df).filter(col("n") >= MinDf).select(col("bh")))
    val ckPost = materialized(scored.filter(col("q") >= 0.5)
      .select(col("doc_id"), col("ck"), partOf(col("doc_id")).as("part")))
    ckPost.withColumn("ckbkt", ckBktOf(col("ck")))
      .write.mode("overwrite").partitionBy("part", "ckbkt").parquet(d.ck)
    ckPost.groupBy(col("ck"), col("part")).agg(min(col("doc_id")).as("min_id"))
      .withColumn("ckbkt", ckBktOf(col("ck")))
      .write.mode("overwrite").partitionBy("part", "ckbkt").parquet(d.cm)
    val canon = s.read.parquet(d.cm)
      .groupBy(col("ck")).agg(min(col("min_id")).as("canon_id"))
    stagesOf(scored, canon)
      .write.mode("overwrite").partitionBy("part").parquet(d.table)
    // Initial snapshot listings — nights then commit a new version per
    // published artifact, and pinned readers never see a torn tree.
    Seq(d.table, d.docs, d.bh, d.df, d.ck, d.cm).foreach { a =>
      graft.sources.Pinned.commit(new java.io.File(a)): Unit
    }
  }

  /** One delta night: shard `p` arrives as `deltaDocs` (the caller
    * guarantees every row's part IS p — the batch runner filters the
    * snapshot-to-be, the streaming leg passes the arriving micro-batch).
    * Every read in here is delta-sized or pruned to touched buckets /
    * affected shard directories; nothing scans a full ledger. Runs
    * under the night COMMIT PROTOCOL (object doc): phase 1 computes
    * against the pre-state artifacts plus in-memory delta views and
    * stages every output; the manifest rename commits; publish applies
    * idempotent renames. The live tree is never half-merged. Holds the
    * single-writer lease; `marker` (set by [[nightIdempotent]]) rides
    * the manifest as an `M|` action. */
  private[graft] def nightOf(
      s: SparkSession, d: Dirs, deltaDocs: DataFrame, p: Int,
      marker: Option[String] = None): NightAudit = withWriterLock(d) {
    val stage = stageDirOf(d, s"night_$p")
    require(!new java.io.File(stage, "MANIFEST").exists(),
      s"night_$p: a committed staging is pending — run recoverPending first")
    deleteRec(stage)
    val preFiles = snapshotFiles(new java.io.File(d.root))
    def st(a: String) = new java.io.File(stage, a).getPath
    // ---- Phase 1: compute + stage (live dirs are read-only) ---------
    val deltaD = deltaDocs.select(col("doc_id"), col("lang"), col("text"))
      .localCheckpoint()
    deltaD.withColumn("part", lit(p))
      .write.mode("overwrite").partitionBy("part").parquet(st("docs"))
    val deltaBlocks = Curation.webBlocksOf(deltaD)
    val deltaBh = materialized(Curation.bhOf(deltaBlocks))
    deltaBh.select(col("doc_id"), col("bh"), bhBktOf(col("bh")).as("bhbkt"))
      .write.mode("overwrite").partitionBy("bhbkt").parquet(st("bh"))
    // Additive df merge over the TOUCHED buckets only: old counts from
    // the pruned staged artifact, new counts = old + the delta's
    // per-hash distinct-doc partials (shards partition docs, so a
    // (doc, bh) pair appears in exactly one night — the merge is exact).
    // localCheckpoint materializes it once for the crossing read + view.
    val deltaDf = deltaBh.select(col("doc_id"), col("bh")).distinct()
      .groupBy(col("bh")).agg(count(lit(1)).as("dn"))
    val touchedDfBkts = deltaDf.select(bhBktOf(col("bh")))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val merged = Scratch.routeBuckets(s.read.parquet(d.df), "bhbkt",
        deltaDf.select(bhBktOf(col("bh"))))
      .select(col("bh"), col("n"))
      .join(deltaDf, Seq("bh"), "full_outer")
      .select(col("bh"),
        coalesce(col("n"), lit(0L)).as("n_old"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_new"))
      .localCheckpoint()
    // Crossed hashes fall out of the same merge: total df reaches MinDf,
    // pre-delta df did not (df only grows — append-only corpus).
    val crossed = materialized(merged
      .filter(col("n_old") < MinDf && col("n_new") >= MinDf)
      .select(col("bh")))
    merged.select(col("bh"), col("n_new").as("n"), bhBktOf(col("bh")).as("bhbkt"))
      .write.mode("overwrite").partitionBy("bhbkt").parquet(st("df"))
    // Post-merge df VIEW (the staged artifact is unpublished): pre-state
    // counts outside the touched buckets — partition-pruned — unioned
    // with the in-memory merge for the touched ones.
    val dfView = s.read.parquet(d.df)
      .filter(!col("bhbkt").isin(touchedDfBkts: _*))
      .select(col("bh"), col("n"), col("bhbkt"))
      .unionByName(merged.select(col("bh"), col("n_new").as("n"),
        bhBktOf(col("bh")).as("bhbkt")))
    // Affected docs, tier 1: contain a crossed hash (cleaned text /
    // quality / content key all change) — the pre-state postings ledger
    // is read ONLY here, pruned to the crossed hashes' buckets (the
    // delta's own docs join below) — plus every delta doc.
    val crossedBhBkts = crossed.select(bhBktOf(col("bh")))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val aff1 = Scratch.routeBuckets(s.read.parquet(d.bh), "bhbkt",
        crossed.select(bhBktOf(col("bh"))))
      .join(crossed.hint("shuffle_hash"), Seq("bh"))
      .select(col("doc_id"))
    val affDocs = materialized(aff1
      .unionByName(deltaD.select(col("doc_id")))
      .distinct())
    val affParts1 = affDocs.select(partOf(col("doc_id")).as("part"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // Snapshot VIEW including the unpublished delta: pre-state shard
    // dirs (partition-pruned) unioned with the in-memory delta rows.
    def docsView(parts: Seq[Int]): DataFrame =
      s.read.parquet(d.docs)
        .filter(col("part").isin(parts: _*))
        .select(col("doc_id"), col("lang"), col("text"))
        .unionByName(deltaD)
    // Tier 2: content-key groups touched by tier-1/delta docs — old keys
    // from the ck postings (pruned to the tier-1 docs' shard dirs), new
    // keys rescored for the affected docs only (read partition-pruned
    // from the snapshot view, never a corpus rescan).
    val affDocsFull = docsView(affParts1)
      .join(affDocs.hint("shuffle_hash"), Seq("doc_id"))
    val affBlocks = Curation.webBlocksOf(affDocsFull)
    val affBh = materialized(Curation.bhOf(affBlocks))
    val scoredAff = scoredFromBh(affBlocks, affBh, dropFrom(dfView, affBh))
    val oldCks = s.read.parquet(d.ck)
      .filter(col("part").isin(affParts1: _*))
      .join(affDocs.hint("shuffle_hash"), Seq("doc_id"))
      .select(col("ck"))
    val changedCks = materialized(oldCks
      .unionByName(scoredAff.filter(col("q") >= 0.5).select(col("ck")))
      .distinct())
    // ck → member shards through the canonical-min PARTIALS (pruned to
    // the changed keys' buckets) — the ck postings stay doc-keyed.
    val aff2Parts = Scratch.routeBuckets(s.read.parquet(d.cm), "ckbkt",
        changedCks.select(ckBktOf(col("ck"))))
      .join(changedCks.hint("shuffle_hash"), Seq("ck"))
      .select(col("part"))
    // Affected shard set — a ≤Parts-int driver scalar (st22's routing
    // class), the rewrite and pruning unit.
    val affectedParts = affDocs.select(partOf(col("doc_id")).as("part"))
      .unionByName(aff2Parts)
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    // ---- Rewrite ONLY the affected shards (still staged) ------------
    val rwDocs = docsView(affectedParts)
    val rwBlocks = Curation.webBlocksOf(rwDocs)
    val rwBh = materialized(Curation.bhOf(rwBlocks))
    val scoredRw = materialized(scoredFromBh(rwBlocks, rwBh, dropFrom(dfView, rwBh)))
    val ckNew = scoredRw.filter(col("q") >= 0.5)
      .select(col("doc_id"), col("ck"), partOf(col("doc_id")).as("part"))
    val cmNew = ckNew.groupBy(col("ck"), col("part"))
      .agg(min(col("doc_id")).as("min_id"))
      .localCheckpoint()
    // Canonical map for the rewrite's keys: unaffected shards' staged
    // partials (pruned to the needed buckets, affected shards' stale
    // partials EXCLUDED) min-merged with the rewrite's own partials.
    val cmOld = Scratch.routeBuckets(s.read.parquet(d.cm), "ckbkt",
        cmNew.select(ckBktOf(col("ck"))))
      .filter(!col("part").isin(affectedParts: _*))
      .select(col("ck"), col("min_id"))
    val canon = cmOld.unionByName(cmNew.select(col("ck"), col("min_id")))
      .groupBy(col("ck")).agg(min(col("min_id")).as("canon_id"))
    stagesOf(scoredRw, canon)
      .write.mode("overwrite").partitionBy("part").parquet(st("table"))
    ckNew.withColumn("ckbkt", ckBktOf(col("ck")))
      .write.mode("overwrite").partitionBy("part", "ckbkt").parquet(st("ck"))
    cmNew.withColumn("ckbkt", ckBktOf(col("ck")))
      .write.mode("overwrite").partitionBy("part", "ckbkt").parquet(st("cm"))
    failIf(d.root, "pre-manifest")
    // ---- Phase 2 + 3: commit, publish, clean the staging -------------
    commitNight(d, stage,
      replaces = Seq(
        "df" -> touchedDfBkts.map(b => s"bhbkt=$b"),
        "table" -> affectedParts.map(q => s"part=$q"),
        "ck" -> affectedParts.map(q => s"part=$q"),
        "cm" -> affectedParts.map(q => s"part=$q")),
      appends = Seq("docs", "bh"), marker = marker)
    publishManifest(d, stage)
    // Failpoint for the round-10 advice's residual window: published
    // (and done-log recorded by publish) but the committed staging not
    // yet destroyed — a redelivery must NOT rerun the night.
    failIf(d.root, "post-publish")
    deleteRec(stage)
    NightAudit(p, affectedParts, touchedDfBkts, crossedBhBkts,
      preFiles, snapshotFiles(new java.io.File(d.root)))
  }

  /** One purge night's audit: which shards held purged docs (docs/
    * rewrites confined to them), which bh buckets held their postings,
    * which df buckets the negative merge touched, which hashes LEFT the
    * drop set (downward crossings), the full affected-shard rewrite
    * set, and whole-tree before/after snapshots. */
  private[graft] final case class PurgeAudit(
    purgeParts: Seq[Int], affectedParts: Seq[Int], touchedDfBkts: Seq[Int],
    uncrossedBhBkts: Seq[Int], purgedBhBkts: Seq[Int],
    preFiles: Map[String, (Long, Long)], postFiles: Map[String, (Long, Long)])

  /** pl12 — the CURATION DELETE NIGHT (takedown / retention purge): the
    * text-corpus leg of the lifecycle symmetry ss15 gave the vector
    * index. pl11's nights lean on "counts only grow in an append-only
    * corpus"; a licensing takedown or GDPR purge breaks exactly that:
    *   - df counts DECREMENT — the departing docs' per-hash partials
    *     merge as NEGATIVE deltas into the touched buckets only, and
    *     DOWNWARD crossings (old ≥ MinDf > new) fall out of the same
    *     merge: those hashes EXIT the drop set, so previously-dropped
    *     paragraphs RESURFACE in every surviving doc that contains them
    *     (their cleaned text, quality, and content key all change);
    *   - a departing doc that was its content-key group's MINIMUM forces
    *     re-canonicalization — the case the cm/ per-shard-partial design
    *     anticipated: the affected shards' partials are recomputed from
    *     surviving docs and min-merged with the pruned unaffected
    *     partials, never a full ck-ledger groupBy;
    *   - the purged docs are PHYSICALLY removed from docs/ and bh/
    *     (ss15's delete-compaction discipline: survivors of the affected
    *     partitions are staged, and the publish replaces the dirs — a
    *     fully-purged shard stages NOTHING, so its replace is
    *     delete-only and the directory actually vanishes, the
    *     ghost-partition rule).
    * Every read is purge-sized or pruned to touched buckets / affected
    * shard dirs; the oracle is the full recompute over the SURVIVING
    * corpus. Runs under the same COMMIT PROTOCOL as [[nightOf]] — all
    * outputs staged, manifest rename commits, publish is idempotent.
    * Holds the single-writer lease; `marker` rides the manifest. */
  private[graft] def purgeNightOf(
      s: SparkSession, d: Dirs, purgeIds: DataFrame,
      tag: String = "purge",
      marker: Option[String] = None): PurgeAudit = withWriterLock(d) {
    val stage = stageDirOf(d, tag)
    require(!new java.io.File(stage, "MANIFEST").exists(),
      s"$tag: a committed staging is pending — run recoverPending first")
    deleteRec(stage)
    val preFiles = snapshotFiles(new java.io.File(d.root))
    def st(a: String) = new java.io.File(stage, a).getPath
    val purge = purgeIds.select(col("doc_id")).distinct().localCheckpoint()
    val purgeParts = purge.select(partOf(col("doc_id")).as("part"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    // The departing docs + postings, recomputed delta-sized from the
    // partition-pruned snapshot (identical to their ledger rows by
    // construction — bhOf is deterministic in the text).
    val purgedDocs = s.read.parquet(d.docs)
      .filter(col("part").isin(purgeParts: _*))
      .join(purge.hint("shuffle_hash"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("text"))
    val purgedBh = Curation.bhOf(Curation.webBlocksOf(purgedDocs))
      .localCheckpoint()
    val purgedBhBkts = purgedBh.select(bhBktOf(col("bh")))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    // NEGATIVE df merge over the touched buckets only: new = old - the
    // departing docs' per-hash distinct partials. Zero counts VANISH
    // (the hash left the corpus); a negative residual means the ledger
    // and the snapshot diverged — fail loud, never clamp.
    val negDf = purgedBh.select(col("doc_id"), col("bh")).distinct()
      .groupBy(col("bh")).agg(count(lit(1)).as("dn"))
    val touchedDfBkts = negDf.select(bhBktOf(col("bh")))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val merged = Scratch.routeBuckets(s.read.parquet(d.df), "bhbkt",
        negDf.select(bhBktOf(col("bh"))))
      .select(col("bh"), col("n"))
      .join(negDf, Seq("bh"), "full_outer")
      .select(col("bh"),
        coalesce(col("n"), lit(0L)).as("n_old"),
        (coalesce(col("n"), lit(0L)) - coalesce(col("dn"), lit(0L))).as("n_new"))
      .localCheckpoint()
    require(merged.filter(col("n_new") < 0).isEmpty,
      "purge night: departing doc-frequency partials exceed the staged " +
        "counts — the df artifact and the docs snapshot have diverged")
    // DOWNWARD crossings: hashes exiting the drop set.
    val uncrossed = merged
      .filter(col("n_old") >= MinDf && col("n_new") < MinDf)
      .select(col("bh")).localCheckpoint()
    val uncrossedBhBkts = uncrossed.select(bhBktOf(col("bh")))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    // Staged df replacement for the touched buckets: counts that hit
    // zero write NO rows, and a bucket whose every count vanished
    // stages no dir at all — its publish is delete-only (ghost rule).
    merged.filter(col("n_new") > 0)
      .select(col("bh"), col("n_new").as("n"), bhBktOf(col("bh")).as("bhbkt"))
      .write.mode("overwrite").partitionBy("bhbkt").parquet(st("df"))
    val dfView = s.read.parquet(d.df)
      .filter(!col("bhbkt").isin(touchedDfBkts: _*))
      .select(col("bh"), col("n"), col("bhbkt"))
      .unionByName(merged.filter(col("n_new") > 0)
        .select(col("bh"), col("n_new").as("n"), bhBktOf(col("bh")).as("bhbkt")))
    // ---- Stage the physical purge (ss15's delete compaction) --------
    // docs/: survivors of the purged docs' shards only.
    s.read.parquet(d.docs)
      .filter(col("part").isin(purgeParts: _*))
      .join(purge.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("text"), col("part"))
      .write.mode("overwrite").partitionBy("part").parquet(st("docs"))
    // bh/: survivors of the buckets holding the departing postings.
    s.read.parquet(d.bh)
      .filter(col("bhbkt").isin(purgedBhBkts: _*))
      .join(purge.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("bh"), col("bhbkt"))
      .write.mode("overwrite").partitionBy("bhbkt").parquet(st("bh"))
    // Survivor VIEWS (the purge is unpublished): pre-state ledgers
    // anti-joined with the purge set; partition pruning still reaches
    // the scans below the anti-join.
    val bhView = s.read.parquet(d.bh)
      .join(purge.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
    def docsView(parts: Seq[Int]): DataFrame = s.read.parquet(d.docs)
      .filter(col("part").isin(parts: _*))
      .join(purge.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
    // ---- Affected-shard discovery (survivor views) -------------------
    // Tier 1: surviving docs containing an UNCROSSED hash — their drop
    // set shrank, so their cleaned text grows back. Read bucket-pruned.
    val aff1 = Scratch.routeBuckets(bhView, "bhbkt",
        uncrossed.select(bhBktOf(col("bh"))))
      .join(uncrossed.hint("shuffle_hash"), Seq("bh"))
      .select(col("doc_id")).distinct().localCheckpoint()
    val aff1Parts = aff1.select(partOf(col("doc_id")).as("part"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // Tier 2: content-key groups touched by the PURGED docs (their
    // group may need a new canonical — including the min-departs case)
    // or by tier-1 docs (old group loses them / new group gains them).
    // Old keys come from the ck postings pruned to those docs' shards
    // (purged docs' ck rows still staged — ck/ is replaced at publish);
    // new keys from rescoring the tier-1 docs against the NEW drop set.
    val t2SeedParts = (purgeParts ++ aff1Parts).distinct
    val oldCks = s.read.parquet(d.ck)
      .filter(col("part").isin(t2SeedParts: _*))
      .join(purge.unionByName(aff1).distinct().hint("shuffle_hash"),
        Seq("doc_id"))
      .select(col("ck"))
    val aff1Full = docsView(aff1Parts)
      .join(aff1.hint("shuffle_hash"), Seq("doc_id"))
    val aff1Blocks = Curation.webBlocksOf(aff1Full)
    val aff1Bh = materialized(Curation.bhOf(aff1Blocks))
    val scoredAff = scoredFromBh(aff1Blocks, aff1Bh, dropFrom(dfView, aff1Bh))
    val changedCks = materialized(oldCks
      .unionByName(scoredAff.filter(col("q") >= 0.5).select(col("ck")))
      .distinct())
    val aff2Parts = Scratch.routeBuckets(s.read.parquet(d.cm), "ckbkt",
        changedCks.select(ckBktOf(col("ck"))))
      .join(changedCks.hint("shuffle_hash"), Seq("ck"))
      .select(col("part"))
    val affectedParts = aff2Parts
      .collect().map(_.getInt(0)).toSeq
      .++(purgeParts).++(aff1Parts).distinct.sorted
    // ---- Rewrite ONLY the affected shards (surviving docs, staged) ---
    val rwDocs = docsView(affectedParts)
    val rwBlocks = Curation.webBlocksOf(rwDocs)
    val rwBh = materialized(Curation.bhOf(rwBlocks))
    val scoredRw = materialized(scoredFromBh(rwBlocks, rwBh, dropFrom(dfView, rwBh)))
    val ckNew = scoredRw.filter(col("q") >= 0.5)
      .select(col("doc_id"), col("ck"), partOf(col("doc_id")).as("part"))
    val cmNew = ckNew.groupBy(col("ck"), col("part"))
      .agg(min(col("doc_id")).as("min_id"))
      .localCheckpoint()
    val cmOld = Scratch.routeBuckets(s.read.parquet(d.cm), "ckbkt",
        cmNew.select(ckBktOf(col("ck"))))
      .filter(!col("part").isin(affectedParts: _*))
      .select(col("ck"), col("min_id"))
    val canon = cmOld.unionByName(cmNew.select(col("ck"), col("min_id")))
      .groupBy(col("ck")).agg(min(col("min_id")).as("canon_id"))
    // A fully-purged shard stages NO table/ck/cm rows — delete-only
    // replaces at publish (the ghost rule applied to the output table).
    stagesOf(scoredRw, canon)
      .write.mode("overwrite").partitionBy("part").parquet(st("table"))
    ckNew.withColumn("ckbkt", ckBktOf(col("ck")))
      .write.mode("overwrite").partitionBy("part", "ckbkt").parquet(st("ck"))
    cmNew.withColumn("ckbkt", ckBktOf(col("ck")))
      .write.mode("overwrite").partitionBy("part", "ckbkt").parquet(st("cm"))
    failIf(d.root, "pre-manifest")
    commitNight(d, stage,
      replaces = Seq(
        "df" -> touchedDfBkts.map(b => s"bhbkt=$b"),
        "docs" -> purgeParts.map(q => s"part=$q"),
        "bh" -> purgedBhBkts.map(b => s"bhbkt=$b"),
        "table" -> affectedParts.map(q => s"part=$q"),
        "ck" -> affectedParts.map(q => s"part=$q"),
        "cm" -> affectedParts.map(q => s"part=$q")),
      appends = Seq(), marker = marker)
    publishManifest(d, stage)
    failIf(d.root, "post-publish")
    deleteRec(stage)
    PurgeAudit(purgeParts, affectedParts, touchedDfBkts, uncrossedBhBkts,
      purgedBhBkts, preFiles, snapshotFiles(new java.io.File(d.root)))
  }

  /** [[nightOf]] behind the done-LOG + pending-night recovery — the
    * idempotence the STREAMING leg (st35) needs: foreachBatch is
    * at-least-once, and a replayed night would append its postings and
    * df partials TWICE (the merge is additive, so a replay is not
    * self-collapsing the way the sink-as-state partial ops are). A
    * whole-night replay is a no-op (log entry present); a redelivery
    * after a mid-night crash finds either a committed staging
    * (recovery finishes the publish — the manifest is the commit
    * point, and its `M|` action re-records the log entry) or an
    * uncommitted one (discarded; the live tree was never touched, so
    * the night simply reruns). The done record is written by publish
    * itself, before the staging is destroyed — no crash window ever
    * shows a published night as unrecorded. The whole sequence
    * (recovery + night) runs under ONE writer lease, so a racing
    * second writer cannot discard this night's in-progress staging.
    * Returns whether this call did the night's work. */
  private[graft] def nightIdempotent(
      s: SparkSession, d: Dirs, deltaDocs: DataFrame, p: Int): Boolean =
    withWriterLock(d) {
      val tag = s"night_$p"
      val recovered = recoverPending(d).contains(tag)
      if (doneTags(d).contains(tag)) recovered
      else {
        nightOf(s, d, deltaDocs, p, marker = Some(tag))
        true
      }
    }

  /** [[purgeNightOf]] behind the same done-log + recovery discipline
    * — the idempotence the STREAMING takedown leg (st37) needs: a purge
    * night is even less self-collapsing than a delta night (a replayed
    * NEGATIVE df merge would decrement counts twice and trip the
    * fail-loud non-negativity check at best, silently drop surviving
    * paragraphs at worst). `tag` must be a deterministic function of
    * the purge batch's CONTENT (the caller derives it from the purge
    * predicate), so a replayed delivery maps to the same log entry. */
  private[graft] def purgeIdempotent(
      s: SparkSession, d: Dirs, purgeIds: DataFrame, tag: String): Boolean =
    withWriterLock(d) {
      val recovered = recoverPending(d).contains(tag)
      if (doneTags(d).contains(tag)) recovered
      else {
        purgeNightOf(s, d, purgeIds, tag, marker = Some(tag))
        true
      }
    }

  /** The full incremental run over any documents-shaped relation: base
    * build over every shard NOT in `deltaParts`, then one night per
    * delta shard in sequence. Relation-parametric so the spec can drive
    * crafted corpora (the ghost-partition fixture) and the streaming
    * leg can feed arriving micro-batches through [[nightOf]]. */
  private[graft] def runIncremental(s: SparkSession, docs: DataFrame,
      root: String, deltaParts: Seq[Int]): Pl11Audit = {
    val d = Dirs(root)
    val base = docs.filter(!partOf(col("doc_id")).isin(deltaParts: _*))
    baseBuild(s, d, if (deltaParts.isEmpty) docs else base)
    Pl11Audit(d, deltaParts.map { p =>
      nightOf(s, d, docs.filter(partOf(col("doc_id")) === p), p)
    })
  }

  private[graft] def pl11Run(s: SparkSession, d: String): Pl11Audit = {
    val root = Scratch.dir(s, d, "pl11")
    Scratch.memo(root) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      runIncremental(s, docs, root, Seq(Parts - 2, Parts - 1))
    }
  }

  /** The purge predicate pl12 runs at — deterministic and SQL-twin-able
    * so the DuckDB oracle filters the same docs out of its full
    * recompute. ~8% of the corpus; at the fixture's duplication density
    * (content-paragraph df tops out at MinDf) purging one member of a
    * df-margin pair produces real downward crossings that PROPAGATE to
    * surviving shards. The modulus is a multiple of [[Parts]], so the
    * purge is confined to ONE shard (the crawl-shard retention-purge
    * shape) and the affected-shard audit stays non-vacuous; the crafted
    * guarantees (canonical departs, df margin departs, shard fully
    * empties) live in IncrementalSpec. */
  private[graft] val PurgeMod = 16
  private[graft] val PurgeRem = 5

  /** The funnel recompute over a purged world — the oracle every purge
    * leg (pl12 batch, st37 streaming) converges to: pl08's CTE chain at
    * this operator's threshold, source filtered to the SURVIVORS of
    * `survivorPred`. */
  private[graft] def purgedFunnelSql(survivorPred: String): String = {
    val rows = Curation.funnelRowsSqlFor(MinDf, src = "purgesrc",
      extraCtes = s"purgesrc AS (SELECT * FROM documents WHERE $survivorPred),\n")
    s"""SELECT doc_id, lang, stage, CAST(doc_id % $Parts AS INT) AS part
        FROM ($rows)"""
  }

  private[graft] final case class Pl12Audit(
    dirs: Dirs, night: NightAudit, purge: PurgeAudit)

  /** pl12's staged lifecycle: base build (all shards but the last),
    * one delta night (the last shard — the purge must run against
    * artifacts a night already touched, the stale-side-artifact rot
    * point), then the takedown purge. */
  private[graft] def pl12Run(s: SparkSession, d: String): Pl12Audit = {
    val root = Scratch.dir(s, d, "pl12")
    Scratch.memo(root) {
      val dirs = Dirs(root)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      val p = Parts - 1
      baseBuild(s, dirs, docs.filter(partOf(col("doc_id")) =!= p))
      val night = nightOf(s, dirs, docs.filter(partOf(col("doc_id")) === p), p)
      val purge = purgeNightOf(s, dirs,
        docs.filter(pmod(col("doc_id"), lit(PurgeMod.toLong)) === PurgeRem)
          .select(col("doc_id")))
      Pl12Audit(dirs, night, purge)
    }
  }

  /** pl13 — the COMPOSED cross-modality takedown: one purge predicate
    * driven through BOTH delete legs — pl12's curation DELETE night on
    * the text corpus (purgeNightOf, verbatim) and ss15's two-phase
    * vector delete on the index (Similarity.ivfDeleteRun, verbatim) —
    * then the dq04 modality-pairing contract re-audited over the
    * SURVIVING ARTIFACTS themselves (never the source tables): a real
    * takedown is only done when neither modality retains the purged
    * ids and no vector is orphaned by the text purge. Returns the text
    * artifact dirs and the purged vector index dir. */
  private[graft] def pl13Run(s: SparkSession, d: String): (Dirs, String) = {
    val textDirs = pl12Run(s, d).dirs
    val vecAudit = Similarity.ivfDeleteRun(s, "e2e", d,
      pmod(col("vec_id"), lit(PurgeMod.toLong)) === PurgeRem)
    (textDirs, vecAudit.live)
  }

  // ------------------------------------------------------------------
  // pl15 — ESTATE-WIDE TAKEDOWN: the round-10 verdict's #1 gap. pl12
  // purges docs/, bh/ and the pl11 artifact tree — but a purged doc's
  // text and derived content persist in the OTHER staged artifacts a
  // serving/dedup stack keeps: the doc-serve lookup (st28's shape —
  // raw text), the shingle-set and band ledgers (st19's shapes), the
  // positioned gram index (dd08/ta10/ta20/dd18's shape), the
  // perceptual band ledger (st36's shape), and the near-dup cluster
  // labels (dd09's shape — purged ids linger as members AND as
  // canonicals). A GDPR/licensing purge that leaves raw text in a
  // serving artifact has not purged. pl15 drives ONE purge predicate
  // through every estate artifact under the SAME commit protocol
  // (stage survivors → manifest rename → idempotent publish), then
  // audits the whole estate for residue; the oracle is each
  // artifact's builder re-run over the surviving corpus.
  //
  // Scope note — estate vs per-process cache: the fixture harness's
  // (app, fixture)-scoped staged artifacts (Dedup.stagedGrams,
  // Curation.stagedDropSet, the staged indexes) are CACHES — they die
  // with the process and rebuild from the source tables, so purging
  // the source purges them by construction on next build. What a
  // deployment must purge IN PLACE is the DURABLE estate: the
  // long-lived artifact trees that outlive processes and serve
  // traffic. pl15's six artifact trees are exactly those shapes,
  // owned under one root, purged in place under the commit protocol —
  // the production story, with the caches' lifecycle documented here
  // so nobody mistakes them for retained state.
  //
  // TOKENIZER ARTIFACTS (the staged BPE dict / vocab / doc-stats) are
  // the deliberate exception to both buckets, decided round 12: at
  // fixture scale they are (app, fixture) caches, but in production a
  // tokenizer is a SHIPPED, DURABLE model — and its dict is keyed by
  // RAW CORPUS WORDS (a rare name a purged document contributed is
  // literally a dict key, and can surface as a merged vocab symbol):
  // a known PII retention vector. There is NO sound in-place purge —
  // merge ranks are global frequency argmaxes, so deleting one
  // document can reorder every later round; the only correct takedown
  // is RETRAIN OVER THE SURVIVING CORPUS and republish the dict/vocab
  // as one staged replace under this same commit protocol (readers
  // swap at the snapshot pointer; the superseded vocab is reaped like
  // any stale file). BpeSpec's "tokenizer takedown" test pins the
  // residue claim: a rebuild over survivors retains no purged-only
  // word and no vocab symbol that decodes outside the surviving
  // corpus. Deployments that cannot afford retrain-per-takedown batch
  // takedowns nightly (the band-ledger amortization note below) and
  // must treat the interim window as a documented retention SLA.
  //
  // Per-artifact purge shape (the 100 TB story):
  //   - doc-bucketed artifacts (docserve/sets/grams/phash — partition
  //     key derived from doc_id): rewrite ONLY the purged ids' bucket
  //     directories, survivors anti-joined, emptied buckets delete-only
  //     (the ghost rule).
  //   - the band ledger (bucketed by the PROBE key bk, not doc_id): a
  //     doc-keyed purge cannot prune by partition — affected buckets
  //     are DISCOVERED by one columnar semi-join scan of the ledger's
  //     (doc_id, bucket) columns, then only those buckets rewrite.
  //     This is the documented full-scan-discovery class; production
  //     amortizes it by purging in nightly batches (a purge night is
  //     rare next to the per-trigger probes the bk layout serves).
  //   - cluster labels (bucketed by canonical_id): removing a doc can
  //     SPLIT its component, so affected components (those holding a
  //     purged doc) are recomputed over their SURVIVING members only —
  //     LSH pairs are pairwise (band keys and shingle sets are
  //     per-doc), so pairs over the member subset equal the corpus
  //     pairs restricted to it, and no new cross-component pair can
  //     appear (it would have been a pair before). O(affected
  //     components), never a corpus re-cluster. New canonicals can
  //     land in NEW buckets — the rewrite set is the union of old and
  //     new canonical buckets, with unaffected same-bucket rows
  //     carried through the staged replace.
  // ------------------------------------------------------------------

  /** Generic staged-replace night: the commit protocol (stage →
    * manifest → publish) for ANY artifact tree under `d.root`, reused
    * by the estate purge. `stageFn` writes every staged output under
    * the stage dir it is handed and returns the replace actions. */
  private def stagedReplaceNight(d: Dirs, tag: String,
      marker: Option[String] = None)(
      stageFn: java.io.File => Seq[(String, Seq[String])]): Unit =
    withWriterLock(d) {
      val stage = stageDirOf(d, tag)
      require(!new java.io.File(stage, "MANIFEST").exists(),
        s"$tag: a committed staging is pending — run recoverPending first")
      deleteRec(stage)
      val replaces = stageFn(stage)
      failIf(d.root, "pre-manifest")
      commitNight(d, stage, replaces, appends = Seq(), marker = marker)
      publishManifest(d, stage)
      failIf(d.root, "post-publish")
      deleteRec(stage)
    }

  /** Estate artifact names → partition column. The band ledger and
    * the labels artifact are listed with their non-doc partition keys
    * (see the purge-shape doc above). */
  private val EstateArts = Seq(
    "docserve" -> "bkt", "sets" -> "skt", "grams" -> "gbkt",
    "phash" -> "pbkt", "bands" -> "bandbkt", "labels" -> "cbkt")

  private def estDir(root: String, art: String): String =
    new java.io.File(root, art).getPath

  private val EstB = Scratch.ServeBuckets

  /** Build every estate artifact from `docs` (write-once). */
  private[graft] def estateBuild(
      s: SparkSession, root: String, docs: DataFrame): Unit = {
    val bkt = pmod(col("doc_id"), lit(EstB.toLong)).cast("int")
    docs.select(col("doc_id"), col("text"), bkt.as("bkt"))
      .write.mode("overwrite").partitionBy("bkt").parquet(estDir(root, "docserve"))
    val sets = Dedup.shingleSetsOf(docs)
    sets.withColumn("skt", bkt)
      .write.mode("overwrite").partitionBy("skt").parquet(estDir(root, "sets"))
    Dedup.bandKeysOf(Dedup.minhashWideOf(sets, 8))
      .withColumn("bandbkt", pmod(hash(col("bk")), lit(EstB)))
      .write.mode("overwrite").partitionBy("bandbkt").parquet(estDir(root, "bands"))
    Dedup.gramStreamPosOf(docs, 8).withColumn("gbkt", bkt)
      .write.mode("overwrite").partitionBy("gbkt").parquet(estDir(root, "grams"))
    Multimodal.phashBands(Multimodal.phashWideOf(docs),
        Multimodal.WideHashBits, 2, 15)
      .withColumn("pbkt", bkt)
      .write.mode("overwrite").partitionBy("pbkt").parquet(estDir(root, "phash"))
    Dedup.componentsOf(Dedup.lshPairsOf(docs))
      .withColumn("cbkt", pmod(col("canonical_id"), lit(EstB.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("cbkt").parquet(estDir(root, "labels"))
    EstateArts.foreach { case (a, _) =>
      graft.sources.Pinned.commit(new java.io.File(estDir(root, a))): Unit
    }
  }

  /** Which partitions each estate leg rewrote + whole-tree snapshots —
    * the spec pins that everything else stayed byte-identical. */
  private[graft] final case class EstateAudit(
    root: String, touched: Map[String, Seq[Int]],
    preFiles: Map[String, (Long, Long)], postFiles: Map[String, (Long, Long)])

  /** The estate purge night (see the family doc above). */
  private[graft] def estatePurge(
      s: SparkSession, root: String, purgeIds: DataFrame,
      tag: String = "estate_purge",
      marker: Option[String] = None): EstateAudit = {
    val d = Dirs(root)
    val preFiles = snapshotFiles(new java.io.File(root))
    val purge = purgeIds.select(col("doc_id")).distinct().localCheckpoint()
    val touched = scala.collection.mutable.Map.empty[String, Seq[Int]]
    stagedReplaceNight(d, tag, marker) { stage =>
      def st(a: String) = new java.io.File(stage, a).getPath
      val pBkts = purge
        .select(pmod(col("doc_id"), lit(EstB.toLong)).cast("int"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      // Doc-bucketed legs: pruned survivor rewrite of the purged
      // buckets only.
      def docBucketLeg(art: String, pcol: String): (String, Seq[String]) = {
        val live = s.read.parquet(estDir(root, art))
        live.filter(col(pcol).isin(pBkts: _*))
          .join(purge.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
          .write.mode("overwrite").partitionBy(pcol).parquet(st(art))
        touched(art) = pBkts
        art -> pBkts.map(b => s"$pcol=$b")
      }
      val docLegs = Seq("docserve" -> "bkt", "sets" -> "skt",
        "grams" -> "gbkt", "phash" -> "pbkt").map {
        case (a, c) => docBucketLeg(a, c)
      }
      // Band ledger: discover the buckets holding purged rows by one
      // (doc_id, bandbkt)-column semi-join scan, rewrite only those.
      val bandsLive = s.read.parquet(estDir(root, "bands"))
      val bandBkts = bandsLive
        .join(purge.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
        .select(col("bandbkt")).distinct().collect().map(_.getInt(0)).toSeq.sorted
      bandsLive.filter(col("bandbkt").isin(bandBkts: _*))
        .join(purge.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
        .write.mode("overwrite").partitionBy("bandbkt").parquet(st("bands"))
      touched("bands") = bandBkts
      // Cluster labels: recompute the affected components over their
      // surviving members (doc text read bucket-pruned from the
      // PRE-state docserve artifact — the live tree is read-only until
      // publish).
      val labelsLive = s.read.parquet(estDir(root, "labels"))
      val affCanon = labelsLive
        .join(purge.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
        .select(col("canonical_id")).distinct().localCheckpoint()
      val oldBkts = affCanon
        .select(pmod(col("canonical_id"), lit(EstB.toLong)).cast("int"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val labelsLeg: Seq[(String, Seq[String])] = if (oldBkts.isEmpty) {
        // No purged doc is clustered — the labels artifact is untouched.
        touched("labels") = Seq()
        Seq()
      } else {
      val survMembers = labelsLive.filter(col("cbkt").isin(oldBkts: _*))
        .join(affCanon.hint("shuffle_hash"), Seq("canonical_id"))
        .select(col("doc_id"))
        .join(purge.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val survBkts = survMembers
        .select(pmod(col("doc_id"), lit(EstB.toLong)).cast("int"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val survDocs = s.read.parquet(estDir(root, "docserve"))
        .filter(col("bkt").isin(survBkts: _*))
        .join(survMembers.hint("shuffle_hash"), Seq("doc_id"))
        .select(col("doc_id"), col("text"))
      val newLabels = Dedup.componentsOf(Dedup.lshPairsOf(survDocs))
        .localCheckpoint()
      val newBkts = newLabels
        .select(pmod(col("canonical_id"), lit(EstB.toLong)).cast("int"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val targetBkts = (oldBkts ++ newBkts).distinct.sorted
      labelsLive.filter(col("cbkt").isin(targetBkts: _*))
        .join(affCanon.hint("shuffle_hash"), Seq("canonical_id"), "left_anti")
        .select(col("doc_id"), col("canonical_id"))
        .unionByName(newLabels.select(col("doc_id"), col("canonical_id")))
        .withColumn("cbkt",
          pmod(col("canonical_id"), lit(EstB.toLong)).cast("int"))
        .write.mode("overwrite").partitionBy("cbkt").parquet(st("labels"))
      touched("labels") = targetBkts
      Seq("labels" -> targetBkts.map(b => s"cbkt=$b"))
      }
      docLegs ++ Seq("bands" -> bandBkts.map(b => s"bandbkt=$b")) ++ labelsLeg
    }
    EstateAudit(root, touched.toMap, preFiles,
      snapshotFiles(new java.io.File(root)))
  }

  /** The residue/convergence audit rows over the LIVE estate: per
    * artifact — row count, doc-id sum, a commutative content checksum
    * (per-term mod keeps the i64 sum exact in both engines), and the
    * count of rows still REFERENCING a purged id (doc_id, and for the
    * labels leg canonical_id too) — zero after a correct purge, and
    * structurally zero in the survivor-rebuilt oracle. */
  private val P15 = 1000003L
  private[graft] def estateAuditRows(s: SparkSession, root: String,
      purgedOf: Column => Column =
        c => pmod(c, lit(PurgeMod.toLong)) === PurgeRem): DataFrame = {
    val purged = purgedOf(col("doc_id"))
    def row(name: String, df: DataFrame, content: Column,
        extraPurged: Column = lit(false)): DataFrame =
      df.agg(
          count(lit(1)).as("n_rows"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"),
          coalesce(sum(content), lit(0L)).as("content_sum"),
          coalesce(sum((purged || extraPurged).cast("long")), lit(0L))
            .as("n_purged_refs"))
        .select(lit(name).as("artifact"), col("n_rows"), col("id_sum"),
          col("content_sum"), col("n_purged_refs"))
    def rd(a: String) = s.read.parquet(estDir(root, a))
    row("docserve", rd("docserve"),
      pmod(expr("cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)"),
        lit(P15)))
      .unionByName(row("sets", rd("sets"),
        expr(s"aggregate(sh, cast(0 as bigint), (a, x) -> a + pmod(x, $P15))")))
      .unionByName(row("bands", rd("bands"),
        pmod(expr("cast(conv(substring(bk, 1, 15), 16, 10) as bigint)"),
          lit(P15))))
      .unionByName(row("grams", rd("grams"),
        pmod(col("gh"), lit(P15)) + col("i").cast("long")))
      .unionByName(row("phash", rd("phash"),
        pmod(col("phash"), lit(P15)) + col("band").cast("long") + col("bv")))
      .unionByName(row("labels", rd("labels"), col("canonical_id"),
        extraPurged = purgedOf(col("canonical_id"))))
  }

  /** [[estatePurge]] behind the done-log + recovery discipline — the
    * idempotence the STREAMING estate-takedown leg (st39) rides. An
    * estate purge is naturally replay-idempotent (deletes
    * self-collapse — the anti-joins remove nothing the second time and
    * the labels leg finds no clustered purged doc), but the log gate
    * makes a replayed delivery a structural NO-OP instead of a
    * harmless full re-run, and keeps the streaming legs uniform
    * (st35/st37/st39 all recover-then-check). `tag` must derive from
    * the batch's CONTENT. */
  private[graft] def estatePurgeIdempotent(
      s: SparkSession, root: String, purgeIds: DataFrame,
      tag: String): Boolean = {
    val d = Dirs(root)
    withWriterLock(d) {
      val recovered = recoverPending(d).contains(tag)
      if (doneTags(d).contains(tag)) recovered
      else {
        estatePurge(s, root, purgeIds, tag, marker = Some(tag))
        true
      }
    }
  }

  /** pl15's staged lifecycle: estate build over the full corpus, then
    * the estate purge at pl12's predicate. Memoized per (app, fixture). */
  private[graft] def pl15Run(s: SparkSession, d: String): EstateAudit = {
    val root = Scratch.dir(s, d, "pl15")
    Scratch.memo(root) {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      estateBuild(s, root, docs)
      estatePurge(s, root,
        docs.filter(pmod(col("doc_id"), lit(PurgeMod.toLong)) === PurgeRem)
          .select(col("doc_id")))
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- pl15: estate-wide takedown — ONE purge predicate through every
    //    text-bearing staged artifact outside pl11's tree (doc-serve
    //    lookup, shingle/band ledgers, positioned gram index,
    //    perceptual band ledger, cluster labels), each under the night
    //    commit protocol, then the zero-residue audit. The oracle
    //    REBUILDS each artifact over the surviving corpus — checksum
    //    convergence means the purged estate is indistinguishable from
    //    a world where the purged docs never existed.
    "pl15_estate_takedown" -> ((s, d) => {
      val audit = pl15Run(s, d)
      estateAuditRows(s, audit.root)
    }),

    "pl11_incremental_snapshot" -> ((s, d) => {
      val audit = pl11Run(s, d)
      s.read.parquet(audit.dirs.table)
        .select(col("doc_id"), col("lang"), col("stage"), col("part"))
    }),

    // -- pl12: takedown purge — base + one delta night + a DELETE night
    //    removing ~8% of docs; the staged artifacts must converge to the
    //    full recompute over the SURVIVING corpus (negative df merge,
    //    downward crossings resurfacing paragraphs, re-canonicalization
    //    where a group minimum departed, physical removal from every
    //    ledger).
    "pl12_takedown_purge" -> ((s, d) => {
      val audit = pl12Run(s, d)
      s.read.parquet(audit.dirs.table)
        .select(col("doc_id"), col("lang"), col("stage"), col("part"))
    }),

    // -- pl13: composed cross-modality takedown — the same purge
    //    predicate through pl12's text purge AND ss15's vector delete,
    //    then dq04's pairing contract over the surviving ARTIFACTS:
    //    counts must equal the oracle's over the purged tables, and the
    //    purged-id residues (computed from the artifacts, zero in the
    //    oracle by construction) prove neither leg leaked.
    "pl13_delete_e2e" -> ((s, d) => {
      val (textDirs, vecLive) = pl13Run(s, d)
      val docs = s.read.parquet(textDirs.docs)
        .select(col("doc_id")).distinct().withColumn("has_doc", lit(1))
      val vecs = s.read.parquet(vecLive)
        .select(col("vec_id").as("doc_id")).distinct()
        .withColumn("has_vec", lit(1))
      val purged = pmod(col("doc_id"), lit(PurgeMod.toLong)) === PurgeRem
      docs.join(vecs, Seq("doc_id"), "full_outer")
        .agg(
          sum(coalesce(col("has_doc"), lit(0)).cast("long")).as("n_docs"),
          sum(coalesce(col("has_vec"), lit(0)).cast("long")).as("n_vecs"),
          sum((col("has_doc").isNotNull && col("has_vec").isNotNull)
            .cast("long")).as("n_paired"),
          sum(col("has_vec").isNull.cast("long")).as("n_text_only"),
          sum(col("has_doc").isNull.cast("long")).as("n_vec_only"),
          sum((col("has_doc").isNotNull && purged).cast("long"))
            .as("n_purged_docs_left"),
          sum((col("has_vec").isNotNull && purged).cast("long"))
            .as("n_purged_vecs_left"))
    }))

  /** The estate residue/convergence oracle, parameterized by the
    * survivor predicate — shared by pl15 (one purge) and st39 (the
    * streamed two-batch purge): every artifact is REBUILT over the
    * survivors from the same source-parameterized SQL fragments the
    * per-operator oracles use, aggregated with the same commutative
    * checksums; `purgedOf` renders the purged-reference CASE for a
    * given column (structurally zero over survivors, a real artifact
    * scan on the Spark side). */
  private[graft] def estateOracleSql(
      survWhere: String, purgedOf: String => String): String = {
    val src = "p15src"
    def purgedCol(c: String) =
      s"CAST(coalesce(sum(CASE WHEN ${purgedOf(c)} THEN 1 ELSE 0 END), 0) AS BIGINT)"
    s"""WITH RECURSIVE $src AS (
          SELECT * FROM documents WHERE $survWhere),
        p15sets AS (${Dedup.dSetsFor(src)}),
        p15bands AS (${Dedup.dBandsFor(src)}),
        p15grams AS (${Dedup.dGramsPosFor(src)}),
        p15ph AS (${Multimodal.dWidePhashFor(src)}),
        p15phb AS (
          SELECT doc_id, phash, CAST(t.band AS INT) AS band,
                 (phash >> (CAST(t.band AS INT) * 20)) & 1048575 AS bv
          FROM p15ph, range(3) t(band)),
        p15pairs AS (${Dedup.dPairsFor(src)}),
        p15edges AS (SELECT doc_a AS srcv, doc_b AS dst FROM p15pairs
                     UNION ALL
                     SELECT doc_b, doc_a FROM p15pairs),
        p15verts AS (SELECT DISTINCT srcv AS id FROM p15edges),
        p15reach(id, r) AS (
          SELECT id, id FROM p15verts
          UNION
          SELECT p15edges.srcv, p15reach.r
          FROM p15edges JOIN p15reach ON p15reach.id = p15edges.dst),
        p15lbl AS (SELECT id AS doc_id,
                     CAST(min(r) AS BIGINT) AS canonical_id
                   FROM p15reach GROUP BY id)
        SELECT 'docserve' AS artifact,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum,
          CAST(coalesce(sum(CAST(concat('0x', substr(md5(text), 1, 15))
            AS BIGINT) % $P15), 0) AS BIGINT) AS content_sum,
          ${purgedCol("doc_id")} AS n_purged_refs
        FROM $src
        UNION ALL
        SELECT 'sets',
          CAST(count(*) AS BIGINT),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT),
          CAST(coalesce(sum(list_sum(list_transform(sh,
            x -> x % $P15))), 0) AS BIGINT),
          ${purgedCol("doc_id")}
        FROM p15sets
        UNION ALL
        SELECT 'bands',
          CAST(count(*) AS BIGINT),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT),
          CAST(coalesce(sum(CAST(concat('0x', substr(bk, 1, 15))
            AS BIGINT) % $P15), 0) AS BIGINT),
          ${purgedCol("doc_id")}
        FROM p15bands
        UNION ALL
        SELECT 'grams',
          CAST(count(*) AS BIGINT),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT),
          CAST(coalesce(sum(gh % $P15 + i), 0) AS BIGINT),
          ${purgedCol("doc_id")}
        FROM p15grams
        UNION ALL
        SELECT 'phash',
          CAST(count(*) AS BIGINT),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT),
          CAST(coalesce(sum(phash % $P15 + band + bv), 0) AS BIGINT),
          ${purgedCol("doc_id")}
        FROM p15phb
        UNION ALL
        SELECT 'labels',
          CAST(count(*) AS BIGINT),
          CAST(coalesce(sum(doc_id), 0) AS BIGINT),
          CAST(coalesce(sum(canonical_id), 0) AS BIGINT),
          CAST(coalesce(sum(CASE WHEN ${purgedOf("doc_id")}
            OR ${purgedOf("canonical_id")}
            THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM p15lbl"""
  }

  def oracleSql: Map[String, String] = Map(
    // pl15: each estate artifact REBUILT over the surviving corpus
    // (the same Dedup/Multimodal SQL fragments the per-operator
    // oracles use, source-parameterized), aggregated with the same
    // commutative checksums; the purged-reference columns are
    // structurally zero here while being real artifact scans on the
    // Spark side.
    "pl15_estate_takedown" ->
      estateOracleSql(s"doc_id % $PurgeMod <> $PurgeRem",
        c => s"$c % $PurgeMod = $PurgeRem"),

    // Full from-scratch recompute over the final corpus at this
    // operator's threshold — incremental must converge to it exactly.
    "pl11_incremental_snapshot" -> {
      val rows = Curation.funnelRowsSqlFor(MinDf)
      s"""SELECT doc_id, lang, stage, CAST(doc_id % $Parts AS INT) AS part
          FROM ($rows)"""
    },

    // Full recompute over the SURVIVING corpus (same CTE chain, source
    // filtered by the purge predicate) — the incremental purge must
    // converge to exactly the world in which the purged docs never
    // existed.
    "pl12_takedown_purge" ->
      purgedFunnelSql(s"doc_id % $PurgeMod <> $PurgeRem"),

    // dq04's pairing over the purged WORLD (both tables filtered by the
    // takedown predicate) — the artifact-derived Spark counts must
    // converge to it, and the residue columns are zero by construction
    // here while being real artifact scans on the Spark side.
    "pl13_delete_e2e" ->
      s"""WITH dd AS (SELECT DISTINCT doc_id FROM documents
                      WHERE doc_id % $PurgeMod <> $PurgeRem),
               vv AS (SELECT DISTINCT vec_id AS doc_id FROM embeddings
                      WHERE vec_id % $PurgeMod <> $PurgeRem),
               j AS (SELECT dd.doc_id IS NOT NULL AS has_doc,
                            vv.doc_id IS NOT NULL AS has_vec,
                            coalesce(dd.doc_id, vv.doc_id) AS doc_id
                     FROM dd FULL JOIN vv ON dd.doc_id = vv.doc_id)
          SELECT
            CAST(sum(CASE WHEN has_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN has_vec THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs,
            CAST(sum(CASE WHEN has_doc AND has_vec THEN 1 ELSE 0 END) AS BIGINT)
              AS n_paired,
            CAST(sum(CASE WHEN has_doc AND NOT has_vec THEN 1 ELSE 0 END)
              AS BIGINT) AS n_text_only,
            CAST(sum(CASE WHEN has_vec AND NOT has_doc THEN 1 ELSE 0 END)
              AS BIGINT) AS n_vec_only,
            CAST(sum(CASE WHEN has_doc AND doc_id % $PurgeMod = $PurgeRem
              THEN 1 ELSE 0 END) AS BIGINT) AS n_purged_docs_left,
            CAST(sum(CASE WHEN has_vec AND doc_id % $PurgeMod = $PurgeRem
              THEN 1 ELSE 0 END) AS BIGINT) AS n_purged_vecs_left
          FROM j""")
}
