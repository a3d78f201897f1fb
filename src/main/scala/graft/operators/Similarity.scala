package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.CatalystBridge
import graft.sources.{Pinned, Scratch, Tables}
import graft.functions.VectorFunctions.vecDot

/** Similarity-search operators (SURVEY.md §2.5) over `embeddings`
  * (`vec_id bigint, embedding array<float>, label int`).
  *
  * Three tiers, mirroring how ANN is actually deployed at 100 TB:
  *
  *   - ss01 brute-force top-k: the correctness baseline. Queries are a
  *     small set → broadcast them against the corpus; one pass, one
  *     window per query for top-k. Cost O(|Q|·n), fine when |Q| ≪ n.
  *   - ss02 IVF top-k: coarse partition (here the fixture's `label` as
  *     the cell id — in production, k-means centroid assignment) turns
  *     the scan into per-cell scans; the join key is the cell id, so the
  *     shuffle is by cell and each query only touches its cell.
  *   - ss03 LSH-bucketed ANN: random-hyperplane signatures. Plane
  *     weights are md5-derived integers and embeddings are quantized to
  *     integers for the signature dot product, so bucket assignment is
  *     an exact integer computation — associative, order-free, and thus
  *     deterministic across partitionings AND engines (a float sum would
  *     be neither). Final scoring uses true float cosine on the small
  *     candidate set only.
  *
  * Cosine = dot/sqrt(na·nb) with sequential per-row folds (see Dedup);
  * all ranking happens on the 6-decimal-rounded value with vec_id
  * tiebreakers.
  */
object Similarity {

  private[graft] def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("label"), col("embedding").as("e"))
      // Norm is per-vector: computed once here, never per candidate pair.
      // vecDot is the native codegen'd expression (graft.functions) —
      // bit-identical to the HOF float->double fold (VectorDotSpec).
      .withColumn("nrm", vecDot(col("e"), col("e")))

  /** cosine(a.e, b.e) — fixed formula + fold order, rounded to 6 dp. */
  private val cosAB: Column =
    round(vecDot(col("a.e"), col("b.e")) / sqrt(col("a.nrm") * col("b.nrm")), 6)

  /** DuckDB twin of [[cosAB]] for tables aliased a/b with DOUBLE[] e. */
  private val dCosAB =
    """round(list_dot_product(a.e, b.e)
       / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6)"""

  /** ss03's signature build: L=4 independent tables of 6 md5-derived
    * integer hyperplanes each. Plane weights are md5-derived integers
    * and embeddings are quantized to integers for the signature dot
    * product, so bucket assignment is an exact integer computation —
    * associative, order-free, deterministic across partitionings AND
    * engines (a float sum would be neither). Output: one 6-bit `sig`
    * per (vec_id, t). */
  private def lshSignatures(s: SparkSession, d: String): DataFrame = {
    val L = 4
    val v = vecs(s, d)
    // Plane matrix: (t 0..L-1, p 0..5, i 0..63, w in [-500, 500]) —
    // L*384 rows, broadcast; w = md5-derived pseudo-random integer.
    val planes = s.range(L).toDF("t")
      .select(col("t"), explode(expr("sequence(0, 5)")).as("p"))
      .select(col("t").cast("int").as("t"), col("p"),
        explode(expr("sequence(0, 63)")).as("i"))
      .select(col("t"), col("p"), col("i"),
        (expr("cast(conv(substring(md5(concat(t, ':', p, ':', i)), 1, 8), 16, 10) as bigint)") % 1001 - 500)
          .as("w"))
    // Quantized components: xq = round(x * 1e6) — integer dot products.
    val comps = v.select(col("vec_id"), posexplode(col("e")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        expr("cast(round(cast(x as double) * 1000000, 0) as bigint)").as("xq"))
    // One 6-bit signature per (vector, table): n*L bucket rows.
    comps.join(broadcast(planes), "i")
      .groupBy(col("vec_id"), col("t"), col("p"))
      .agg(sum(col("xq") * col("w")).as("dot"))
      .groupBy(col("vec_id"), col("t"))
      .agg(sum(expr("if(dot > 0, shiftleft(cast(1 as bigint), p), cast(0 as bigint))")).as("sig"))
  }

  // Persisted index artifacts — the build/probe split (write the
  // structure to parquet ONCE per (application, fixture), every probe
  // scans the files) shared by the LSH (ss07), IVF (ss02) and PQ (ss09)
  // tiers, each staged through Scratch.stagedParquet.

  /** ss07's persisted index: [[lshSignatures]] staged per fixture. */
  private def lshIndex(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "lsh_idx")(lshSignatures(s, d))

  /** ss02's persisted IVF index: the corpus laid out partitioned by cell
    * (vector + norm stored WITH the cell so a probe never recomputes
    * either). Float arrays and the double norm roundtrip parquet exactly,
    * so probe results are bit-identical to the inline form.
    * `private[graft]`: st22 (streaming ANN serving) probes the SAME
    * artifact per micro-batch. */
  private[graft] def ivfIndex(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "ivf_idx", partCols = Seq("label"))(
      vecs(s, d).select(col("vec_id"), col("e"), col("nrm"), col("label")))

  /** Shared same-cell top-3 IVF probe (ss02 / ss12 / st22): a prepared
    * query relation (vec_id, label, e, nrm) joined against a stored
    * cell-partitioned index on the CELL id — the shuffle is by cell and
    * each query's work is bounded by its cell size. Extracting the probe
    * is the parity guarantee: every serving shape (batch, refreshed
    * index, per-micro-batch) runs the identical plan fragment. */
  private[graft] def ivfProbe(q: DataFrame, idx: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    q.as("a")
      .join(idx.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        cosAB.as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  /** st22's per-micro-batch serving step, extracted pure (st17's
    * `exactDedupPartial` discipline) so streaming/batch parity is
    * spec- and plan-testable: prepare the arriving raw embedding rows
    * (norm computed batch-locally — cheap, batch-sized), ROUTE to the
    * touched cells, and run the shared [[ivfProbe]] against the stored
    * index. Cell routing is what makes per-batch cost O(touched cells)
    * instead of O(index): the batch's distinct-label set is one tiny
    * driver-side scalar per batch (bounded by the CELL COUNT — the
    * retrieval-service shard-routing step, same documented class as the
    * feed-staging max(ts) sentinels) and becomes a static IN filter on
    * the artifact's partition column, so planning-time partition
    * pruning reads only those cell directories (PlanQualitySpec pins
    * PartitionFilters). Semantically a no-op: the probe join already
    * restricts to equal labels. Per-query output is self-contained
    * (its full top-3), so batch boundaries cannot change the union and
    * a replayed batch appends byte-identical rows. */
  private[graft] def ivfServePartial(batch: DataFrame, idx: DataFrame): DataFrame = {
    val q = batch.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("label"), col("embedding").as("e"))
      .withColumn("nrm", vecDot(col("e"), col("e")))
    val cells = q.select(col("label")).distinct().collect().map(_.getInt(0))
    ivfProbe(q, idx.filter(col("label").isin(cells.toSeq: _*)))
  }

  /** ss12's INCREMENTALLY MAINTAINED IVF index — the write path a 100 TB
    * deployment needs around the write-once artifact: (1) base build of
    * the initial corpus load (even vec_ids), partitioned by cell;
    * (2) refresh — later arrivals APPEND a delta file set into the same
    * cell directories (st19's ledger-append applied to the vector
    * index; no rewrite of existing data, readers see base+delta
    * immediately); (3) compaction — [[compactCells]]'s budgeted
    * per-cell rewrite that removes the accumulated small files without
    * changing content (fixture cells degenerate to one file). Returns
    * (pre-compaction dir, compacted dir); probes read the compacted
    * artifact. */
  /** Budgeted per-cell compaction (ss12 / st24's [[graft.streaming
    * Streams.indexCompact]]): rewrite each cell directory into
    * ceil(cellRows / rowsPerFile) files. The naive `repartition(cell)`
    * writes each cell in ONE task — at 100 TB a hot cell is a
    * straggler-or-OOM — so rows bucket within their cell by a row
    * budget (io07's record-budget discipline applied per cell): write
    * parallelism is Σ per-cell file counts, probes still prune by cell
    * directory, and the per-cell size relation is #cells rows
    * (broadcast). Fixture cells sit far under one budget, so the layout
    * degenerates to the single-file-per-cell the spec pins. */
  private[graft] def compactCells(src: DataFrame, dest: String,
      rowsPerFile: Long = 500000L): Unit = {
    val sizes = CatalystBridge.materialized(
      src.groupBy(col("label")).agg(count(lit(1)).as("_n"))
        .select(col("label"),
          greatest(ceil(col("_n").cast("double") / rowsPerFile), lit(1))
            .cast("int").as("_nf")))
    // Shuffle width = the TOTAL file budget (one driver-side scalar per
    // compaction run — the documented one-row class): with the default
    // partition count, several buckets of one cell can hash into one
    // task, which writes them as ONE oversized file and silently
    // defeats the budget. Width Σ_nf gives ~every bucket its own task
    // (birthday collisions merge a few — bounded small multiples).
    // Empty source: sum(_nf) is NULL — default the budget to one file
    // so a drained feed still produces a valid (empty) artifact instead
    // of an NPE at the scalar read.
    val widthRow = sizes.agg(sum(col("_nf"))).collect()(0)
    val width = if (widthRow.isNullAt(0)) 1 else widthRow.getLong(0).toInt
    src.join(broadcast(sizes), "label")
      .withColumn("_b", pmod(hash(col("vec_id")), col("_nf")))
      .repartition(math.max(1, width), col("label"), col("_b"))
      .drop("_nf", "_b")
      .write.mode("overwrite").partitionBy("label").parquet(dest)
  }

  private[graft] def ivfRefreshedDirs(s: SparkSession, d: String): (String, String) = {
    val raw = Scratch.dir(s, d, "ivf_rf")
    val compacted = Scratch.staged(s, d, "ivf_rfc") { f =>
      val all = vecs(s, d).select(col("vec_id"), col("e"), col("nrm"), col("label"))
      all.filter(col("vec_id") % 2 === 0)
        .write.mode("overwrite").partitionBy("label").parquet(raw)
      all.filter(col("vec_id") % 2 =!= 0)
        .write.mode("append").partitionBy("label").parquet(raw)
      compactCells(s.read.parquet(raw), f.getPath)
      Pinned.commit(f): Unit
    }
    (raw, compacted.getPath)
  }

  /** ss15's staged state + compaction audit: the managed index dir
    * (post-compaction), the tombstone ledger dir, the cells the
    * compaction rewrote, and file snapshots around the rewrite —
    * untouched cell directories must be byte-identical. */
  private[graft] final case class DeleteAudit(
    live: String, tomb: String, affected: Seq[Int],
    preFiles: Map[String, (Long, Long)], postFiles: Map[String, (Long, Long)])

  /** ss15 — the DELETE leg of the index lifecycle, the piece
    * build (ss02) → append (ss12/st24) → compact (st25) → serve (st22)
    * was missing: real deployments must REMOVE vectors (retention,
    * user-deletion, licensing takedowns) without rebuilding the index.
    * Two-phase, the lake-format discipline:
    *   1. TOMBSTONE ledger: deleted ids land as (vec_id, label) rows in
    *      a cell-partitioned side artifact — an O(deletes) append, the
    *      index untouched. Serving MERGES ON READ: the probe anti-joins
    *      the ledger (both artifact reads prune by the probe's cells),
    *      so deletes are visible immediately.
    *   2. DELETE COMPACTION: rewrite ONLY the cells holding tombstoned
    *      rows (a ≤cell-count driver scalar selects them) — survivors
    *      materialized BEFORE the rewrite (localCheckpoint; the write
    *      reads the dirs it replaces), affected cell dirs deleted then
    *      re-appended (pl11's ghost-partition rule: a fully-deleted
    *      cell must actually lose its directory), untouched cell files
    *      byte-identical (audited). The ledger is then retired.
    * Post-compaction probes need no anti-join — the spec pins
    * merge-on-read ≡ post-compaction, and the oracle is ss02's probe
    * over the surviving corpus. Deletes here: vec_id % 7 = 3 in cells
    * 0-4 (cells 5-9 stay untouched so the byte audit is non-vacuous). */
  /** The two-phase delete body, parametric in the TOMBSTONE PREDICATE
    * and the staged dir pair — extracted so ss15 and the composed
    * cross-modality takedown (pl13) run the SAME vector purge path
    * verbatim, each against its own staged copy of the index. Memoized
    * per live dir. */
  private[graft] def ivfDeleteRun(s: SparkSession, tag: String, d: String,
      tombPred: org.apache.spark.sql.Column): DeleteAudit = {
    val live = Scratch.dir(s, d, s"ivf_$tag")
    val tomb = Scratch.dir(s, d, s"ivf_${tag}t")
    Scratch.memo(live) {
      val all = vecs(s, d).select(col("vec_id"), col("e"), col("nrm"), col("label"))
      all.write.mode("overwrite").partitionBy("label").parquet(live)
      Pinned.commit(new java.io.File(live)): Unit // v1 — compactions bump it
      // The tombstone relation stays IN MEMORY for the compaction and
      // the audit: an empty predicate's partitioned write produces no
      // data files, and reading such a dir back fails schema
      // inference — the kernel must degrade to a no-op delete, not
      // abort the run. The parquet ledger is still written (the
      // merge-on-read consumers and specs probe it).
      val tombRel = all.filter(tombPred)
        .select(col("vec_id"), col("label")).localCheckpoint()
      tombRel.write.mode("overwrite").partitionBy("label").parquet(tomb)
      val pre = Scratch.snapshotTree(new java.io.File(live))
      deleteCompactCells(s, live, tombRel)
      val affected = tombRel.select(col("label")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      DeleteAudit(live, tomb, affected, pre,
        Scratch.snapshotTree(new java.io.File(live)))
    }
  }

  private[graft] def ivfDeleted(s: SparkSession, d: String): DeleteAudit =
    ivfDeleteRun(s, "del", d, col("vec_id") % 7 === 3 && col("label") < 5)

  /** The DELETE-COMPACTION kernel shared by every vector delete leg
    * (ss15 batch, pl13's composed takedown, st38's streaming tombstone
    * ingest): rewrite ONLY the cells holding tombstoned rows, via a
    * STAGED SWAP so a crash can never strand a half-rewritten cell —
    * survivors of the affected cells are written aside (with their
    * _SUCCESS marker), then each affected cell dir is deleted and its
    * staged replacement renamed in (a fully-deleted cell stages no dir
    * — delete-only, the ghost rule). Idempotent under replay and under
    * crash-restart at any point: as long as the tombstones are still
    * pending, a re-run recomputes survivors from the CURRENT live tree
    * (already-swapped cells simply have nothing left to remove) and
    * re-swaps — deletes are naturally self-collapsing. Returns the
    * affected cell ids (a ≤cell-count driver scalar). */
  private[graft] def deleteCompactCells(
      s: SparkSession, live: String, tomb: DataFrame): Seq[Int] = {
    import Scratch.deleteRec
    // RECOVERY FIRST: a _SUCCESS-marked staging is a COMMITTED
    // compaction — its cell dirs are the truth for every cell they
    // hold, so complete the interrupted swap before computing anything.
    // (Discarding it instead would destroy the only copy of a cell's
    // survivors when the crash landed between that cell's delete and
    // its promote; delete-only cells need nothing here — their
    // tombstones are still pending, so the re-run below re-deletes
    // them.) Then any UNcommitted staging is a dead attempt — discard.
    val tmp = new java.io.File(live + "_delcompact")
    if (new java.io.File(tmp, "_SUCCESS").exists())
      Option(tmp.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .foreach { stagedCell =>
          val liveCell = new java.io.File(live, stagedCell.getName)
          deleteRec(liveCell)
          require(stagedCell.renameTo(liveCell),
            s"delete compaction recovery: promote ${stagedCell.getName} failed")
        }
    deleteRec(tmp)
    val tombIds = tomb.select(col("vec_id")).distinct()
    val affected = tomb.select(col("label")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) affected
    else {
      s.read.parquet(live)
        .filter(col("label").isin(affected: _*))
        .join(tombIds.hint("shuffle_hash"), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("e"), col("nrm"), col("label"))
        .write.mode("overwrite").partitionBy("label").parquet(tmp.getPath)
      affected.foreach { lbl =>
        val liveCell = new java.io.File(live, s"label=$lbl")
        val stagedCell = new java.io.File(tmp, s"label=$lbl")
        deleteRec(liveCell)
        if (stagedCell.exists())
          require(stagedCell.renameTo(liveCell),
            s"delete compaction: swap of cell $lbl failed")
      }
      deleteRec(tmp)
      // The live index MUTATES under serving (unlike the write-once
      // staged indexes), so every compaction commits the new file
      // listing — a probe racing the cell swaps resolves a consistent
      // pre- or post-compaction snapshot through Pinned instead of a
      // torn cell mix (Incremental.publishManifest's discipline).
      Pinned.commit(new java.io.File(live)): Unit
      affected
    }
  }

  /** The merge-on-read serving form (phase 1, pre-compaction): probe an
    * index that still CONTAINS tombstoned rows with the ledger
    * anti-joined in — extracted so the spec pins serve-parity with the
    * compacted artifact. The ledger is corpus-derived (delete volume
    * scales with the corpus) → shuffle-hash anti join, never broadcast;
    * in the per-trigger serving leg both sides additionally prune to
    * the probe's cells (st22's routing). */
  private[graft] def probeWithTombstones(
      q: DataFrame, idx: DataFrame, tomb: DataFrame): DataFrame =
    ivfProbe(q, idx.join(tomb.select(col("vec_id")).hint("shuffle_hash"),
      Seq("vec_id"), "left_anti"))

  /** ss06's persisted int8 relation: real ANN deployments STORE the
    * scalar-quantized vectors (that is the whole point of the 4×
    * shrink); deriving them per probe would also re-run the clamp/round
    * HOF once per candidate pair wherever CollapseProject inlines the
    * projection (the dd05/dd06 failure mode — measured here: 5.4 s →
    * ~1 s at sf0.1). Stored as float so the native codegen'd vecDot
    * scores the pairs; float arrays roundtrip parquet exactly, so the
    * staged scores are bit-identical to the inline form. */
  private def sq8Index(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "sq8_idx")(
      vecs(s, d).select(col("vec_id"), expr(
        "transform(e, x -> cast(greatest(-127.0D, least(127.0D, " +
        "round(cast(x as double) * 127))) as float))").as("qe")))

  /** Quantized-vector relation (vec_id, label, v = round(x·1000)+offset),
    * STAGED per fixture: ss05/ss10 (offset 0) and ss08 (offset 10000 —
    * positivity makes truncating div equal DuckDB's flooring // in the
    * integer centroid mean) all start from it. Derived fresh, the
    * per-row HOF transform is re-evaluated at every reference site once
    * CollapseProject inlines the projection into the pair join (ss06's
    * failure mode), and ss08 re-derives it once per Lloyd round; staged,
    * every consumer scans BIGINT arrays that roundtrip parquet exactly.
    * The two offset variants are separate artifacts by design: deriving
    * one from the other at read time would reintroduce a per-reference
    * HOF transform (the cost staging removes), and the double write is
    * a one-time KB-scale setup cost; `label` is stored in both and
    * parquet column pruning makes it free to readers that skip it. */
  private def quantVecs(s: SparkSession, d: String, offset: Int): DataFrame =
    Scratch.stagedParquet(s, d, s"kmq$offset")(
      Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000, 0) as bigint)" +
          s" + $offset)").as("v")))

  /** Bench-setup hook: build the quantized relations once per fixture. */
  def prepareQuant(s: SparkSession, d: String): Unit = {
    quantVecs(s, d, 0); quantVecs(s, d, 10000)
    ()
  }

  /** Exact-integer k-means cell assignment over the quantized corpus —
    * ss05's arithmetic, ss10's geometry, exposed as the (vec_id, cid)
    * relation diversity-aware curation (pl07) clusters on. Centroids =
    * the 10 deterministic seeds (vec_id < 10), broadcast (k·dim ints —
    * a fixed-size model, never corpus-derived); the assignment is a
    * narrow map over the corpus and the argmin is a vec_id-keyed
    * min-struct aggregation with map-side combine — the same plan at
    * any corpus size. */
  /** The 10 deterministic centroids as a (cid, cv) relation — a
    * fixed-size trained MODEL (k·dim ints, broadcastable at any corpus
    * size). Reads the staged quantized relation: tiny scan, no re-HOF. */
  private[graft] def kmeansCentroids(s: SparkSession, d: String): DataFrame =
    quantVecs(s, d, 0).filter(col("vec_id") < 10)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))

  /** ss05's argmin assignment WITH the winning distance — (vec_id, cid,
    * d2). pl10's SemDeDup prune ranks cell members by centroid
    * proximity, so the distance rides out instead of being re-derived. */
  private[graft] def kmeansCellsDist(s: SparkSession, d: String): DataFrame = {
    val q = quantVecs(s, d, 0).select(col("vec_id"), col("v"))
    val ctr = kmeansCentroids(s, d)
    q.crossJoin(broadcast(ctr))
      .select(col("vec_id"), col("cid"),
        expr("aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
          .as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"))
  }

  private[graft] def kmeansCells(s: SparkSession, d: String): DataFrame =
    kmeansCellsDist(s, d).select(col("vec_id"), col("cid"))

  /** The quantized corpus (vec_id, v) — exposed for the hot-cell guard
    * (the re-split assignment needs the same integer vectors the cell
    * assignment used). Reads the staged relation: no re-HOF. */
  private[graft] def quantCorpus(s: SparkSession, d: String): DataFrame =
    quantVecs(s, d, 0).select(col("vec_id"), col("v"))

  /** Per-cell membership cap for CELL-LOCAL PAIRWISE consumers (pl10's
    * SemDeDup prune, dd07's cell probes): a degenerate hot cell — all
    * near-identical embeddings landing in one cell — would otherwise
    * hand one task O(cell²) pairs and the plan never finishes at corpus
    * scale. 4096 members ⇒ ≤ ~16M candidate pairs per cell, the most a
    * single task should chew; the real fixtures sit far below it
    * (OperatorsSpec pins that, so the unguarded oracle stays the
    * ground truth). */
  private[graft] val CellCap = 4096

  /** HOT-CELL GUARD — the AQE-skew idea applied to semantic cells:
    * cells over `cap` members are RE-SPLIT with one extra Lloyd-style
    * assignment round (ss08's machinery) before any pairwise consumer
    * sees them. The k = ceil(n/cap) smallest-id members of a hot cell
    * seed sub-centroids; every member reassigns to its nearest seed by
    * the same exact-integer argmin the cell assignment used, with a
    * ROTATING tiebreak ((vec_id + seed) mod k) so the fully-degenerate
    * case — all members bit-identical, every distance tied — splits
    * BALANCED instead of collapsing back onto seed 0. Sub-cell ids
    * namespace under the parent (cid·2^16 + seed). Cold cells pass
    * through untouched — at fixture scale the hot set is empty and the
    * output IS the input, which is why pl10's oracle is unchanged.
    *
    * Cost shape: seed selection is the native bounded-heap TopKPerGroup
    * (never a window sort of the hot cell); assignment is one cid-keyed
    * shuffle-hash join doing O(n·k) = O(n²/cap) work — the bounded
    * replacement for the O(n²) pair explosion it prevents. The price is
    * recall across sub-cell boundaries (a near-dup pair split between
    * sub-cells is missed) — SemDeDup's own trade when cells are
    * refined, and in the degenerate all-identical cell the survivors
    * are ≤ k instead of 1, never wrong rows (spec-pinned).
    *
    * The two 1-row/1-int collects (is anything hot; max k) are the
    * documented bounded-scalar class. */
  private[graft] def hotCellResplit(
      cells: DataFrame, vecs: DataFrame, cap: Int): DataFrame = {
    val hot = cells.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
      .select(col("cid"),
        ceil(col("n").cast("double") / cap).cast("int").as("k"))
      .localCheckpoint()
    val kMax = hot.agg(coalesce(max(col("k")), lit(0)))
      .collect()(0).getInt(0)
    if (kMax == 0) cells
    else {
      // Namespacing guard: sub-cells live at cid·2^16 + seed, so every
      // parent cid must stay below 2^15 (Int overflow at 2^15·2^16) and
      // every COLD cid below 2^16 (a cold cell at h·2^16+s would alias
      // hot cell h's sub-cell s). Cell ids come from the clustering's
      // centroid index, so both bounds hold at any sane k — but assert,
      // don't assume: one bounded-scalar agg over the cell relation.
      val maxCid = cells.agg(coalesce(max(col("cid")), lit(0)))
        .collect()(0).getInt(0)
      require(maxCid < 32768,
        s"hotCellResplit: max cid $maxCid >= 2^15 — sub-cell namespacing " +
          "(cid*65536+seed) would overflow Int or alias a cold cell; " +
          "widen the id type to long before raising the cell count")
      require(kMax <= 65536,
        s"hotCellResplit: split factor $kMax > 2^16 — seed would spill " +
          "into the next cid's namespace; raise the cap or pre-shard")
      val cold = cells
        .join(hot.select(col("cid")).hint("shuffle_hash"), Seq("cid"), "left_anti")
        .select(col("vec_id"), col("cid"), col("d2"))
      val hotMembers = cells.join(hot.hint("shuffle_hash"), Seq("cid"))
        .join(vecs.hint("shuffle_hash"), Seq("vec_id"))
      // Seeds: bounded-heap k-smallest ids per hot cell (q43's native
      // operator — a window here would sort the entire hot cell in one
      // partition, the exact straggler this guard exists to kill); the
      // rank window then runs over the ≤ kMax·cells seed relation only.
      val seedPool = graft.plans.TopK.topKPerGroup(
        hotMembers.select(col("cid"), col("vec_id"), col("v"), col("k")),
        keys = Seq(col("cid")),
        order = Seq(col("vec_id").asc),
        k = kMax)
      val sw = Window.partitionBy(col("cid")).orderBy(col("vec_id").asc)
      val seeds = seedPool
        .withColumn("seed", row_number().over(sw) - 1)
        .filter(col("seed") < col("k"))
        .select(col("cid"), col("seed"), col("v").as("sv"), col("k"))
      val resplit = hotMembers.select(col("vec_id"), col("cid"), col("v"))
        .hint("shuffle_hash")
        .join(seeds.hint("shuffle_hash"), Seq("cid"))
        .select(col("vec_id"), col("cid"), col("seed"), col("k"),
          expr("aggregate(zip_with(v, sv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
            .as("sd2"))
        .withColumn("tb", pmod(col("vec_id") + col("seed"), col("k").cast("long")))
        .groupBy(col("vec_id"), col("cid"))
        .agg(min(struct(col("sd2"), col("tb"), col("seed"))).as("m"))
        .select(col("vec_id"),
          (col("cid") * 65536 + col("m.seed")).cast("int").as("cid"),
          col("m.sd2").as("d2"))
      cold.unionByName(resplit)
    }
  }

  // PQ geometry shared by the build and the query-side LUT.
  private val (pqM, pqSub, pqK) = (4, 16, 8)

  /** Quantized sub-vectors (vec_id, sp, sv) — the shared projection the
    * PQ codebook, corpus encode, and query LUT all start from. */
  private def pqSubv(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000, 0) as bigint))")
          .as("v"))
      .select(col("vec_id"), explode(expr(s"sequence(0, ${pqM - 1})")).as("sp"), col("v"))
      .select(col("vec_id"), col("sp"), expr(s"slice(v, sp * $pqSub + 1, $pqSub)").as("sv"))

  /** ss09's persisted codebook: (sp, code, cv) — k codewords per
    * sub-space (deterministic sampling; ss08 is the loop that would
    * refine it). Tiny, but stored so probes and re-encodes share ONE
    * codebook artifact — the consistency contract PQ requires. */
  private def pqCodebook(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "pq_codes")(
      pqSubv(s, d).filter(col("vec_id") < pqK)
        .select(col("sp"), col("vec_id").cast("int").as("code"), col("sv").as("cv")))

  /** ss09's persisted code relation: every corpus vector reduced to its
    * m=4 sub-space codes — the expensive full-corpus argmin-encode runs
    * ONCE at build; probes scan 4 small ints per vector, never vectors. */
  private def pqEncoded(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "pq_enc") {
      val codes = pqCodebook(s, d)
      pqSubv(s, d).join(broadcast(codes), "sp")
        .select(col("vec_id"), col("sp"), col("code"),
          expr("aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
            .as("d2"))
        .groupBy(col("vec_id"), col("sp"))
        .agg(min(struct(col("d2"), col("code"))).as("mn"))
        .select(col("vec_id"), col("sp"), col("mn.code").as("code"))
    }

  /** Multi-probe LSH top-3 over a signature relation (inline for ss03,
    * the stored index for ss07): each query probes its own bucket plus
    * the 6 hamming-1 neighbors per table (7 probe keys, generated on
    * the tiny query side only); OR across tables restores recall;
    * candidates dedup before the exact float-cosine re-rank. */
  private def lshProbeTopK(s: SparkSession, d: String, sig: DataFrame): DataFrame = {
    val v = vecs(s, d)
    val probes = sig.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("t"),
        explode(expr("transform(sequence(-1, 5), " +
          "j -> if(j = -1, sig, sig ^ shiftleft(cast(1 as bigint), j)))")).as("psig"))
    val cand = probes.as("qa")
      .join(sig.as("qb"),
        col("qa.t") === col("qb.t") && col("qa.psig") === col("qb.sig") &&
        col("qa.vec_id") =!= col("qb.vec_id"))
      .select(col("qa.vec_id").as("query_id"), col("qb.vec_id").as("neighbor_id"))
      .distinct()
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand
      .join(v.as("a"), col("query_id") === col("a.vec_id"))
      .join(v.as("b"), col("neighbor_id") === col("b.vec_id"))
      .select(col("query_id"), col("neighbor_id"), cosAB.as("cos"))
      .withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= 3)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- Brute-force cosine top-5 for a fixed query set (vec_id % 50 = 0).
    //    The query side is broadcast: no shuffle of the corpus at all.
    "ss01_cosine_topk" -> ((s, d) => {
      val v = vecs(s, d)
      val q = v.filter(col("vec_id") % 50 === 0)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      broadcast(q).as("a")
        .join(v.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
          cosAB.as("cos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
    }),

    // -- IVF: same-cell (label) top-3 probing the PERSISTED index
    //    (ss07's build/probe split applied to the IVF tier): the corpus
    //    with norms is staged to parquet partitioned BY CELL — the
    //    on-disk inverted file — so a probe joins the query batch
    //    against stored cell files and recomputes neither assignment nor
    //    norms; at rest a single-cell probe prunes to one directory.
    //    Each query's work is bounded by its cell size.
    "ss02_ivf_topk" -> ((s, d) =>
      ivfProbe(vecs(s, d).filter(col("vec_id") % 50 === 0), ivfIndex(s, d))),

    // -- IVF index MAINTENANCE: base build → delta append → per-cell
    //    compaction ([[ivfRefreshedDirs]]), then ss02's exact probe over
    //    the refreshed artifact. The oracle is ss02's verbatim — probe
    //    parity across the index lifecycle IS the claim: refresh and
    //    compaction may change file layout, never answers. An
    //    OperatorsSpec additionally pins pre-/post-compaction probe
    //    parity and the one-file-per-cell layout.
    "ss12_ivf_refresh" -> ((s, d) => {
      val (_, compacted) = ivfRefreshedDirs(s, d)
      ivfProbe(vecs(s, d).filter(col("vec_id") % 50 === 0),
        Pinned.read(s, new java.io.File(compacted)))
    }),

    // -- INDEX DELETE lifecycle ([[ivfDeleted]]): tombstone-ledger
    //    append → merge-on-read serving → delete compaction of ONLY the
    //    affected cells (untouched cell dirs byte-identical, audited) →
    //    ss02's exact probe over the compacted artifact. The oracle is
    //    ss02's probe restricted to the surviving corpus — deletes may
    //    change file layout and candidate membership, never ranking
    //    arithmetic. OperatorsSpec pins merge-on-read ≡ post-compaction
    //    parity, physical removal, and the byte audit.
    "ss15_ivf_delete_compact" -> ((s, d) => {
      val audit = ivfDeleted(s, d)
      ivfProbe(vecs(s, d).filter(col("vec_id") % 50 === 0),
        Pinned.read(s, new java.io.File(audit.live)))
    }),

    // -- LSH ANN, multi-table + multi-probe: L=4 independent tables of
    //    6 md5-derived integer hyperplanes each. AND within a table
    //    (6-bit signature) keeps buckets selective; OR across tables
    //    restores recall; and each query additionally probes the 6
    //    hamming-1 neighbor buckets per table (multi-probe LSH) —
    //    probing reuses the same signatures, so recall scales without
    //    recomputing or storing more tables. Measured recall@3 vs brute
    //    force ≈ 0.7 on the fixture (OperatorsSpec bound: ≥ 0.5) where
    //    the single-table AND-only form sat at 0.13.
    //    Signatures via posexplode + broadcast plane-matrix join +
    //    integer sums (exact, associative — deterministic under any
    //    partitioning). Candidates are unioned + deduped per (query,
    //    neighbor), then re-ranked with the true float cosine.
    "ss03_lsh_ann" -> ((s, d) =>
      lshProbeTopK(s, d, lshSignatures(s, d))),

    // -- BUILD/PROBE split — the 100 TB deployment shape for ss03: a
    //    real retrieval service builds the index ONCE (here: the LSH
    //    signature table, written to parquet per fixture) and every
    //    query batch PROBES the stored index — the signature pipeline
    //    (posexplode + plane join + two aggregations over the whole
    //    corpus) never re-runs per query. Identical results to ss03
    //    (same signatures, same probe), so the oracle is ss03's; what
    //    changes is the plan: PlanQualitySpec pins that the probe scans
    //    the index files and contains no signature recomputation.
    "ss07_lsh_index_probe" -> ((s, d) =>
      lshProbeTopK(s, d, lshIndex(s, d))),

    // -- One k-means (Lloyd) iteration over quantized embeddings — the
    //    centroid-training step that produces ss02's IVF cells. Init
    //    centroids = vec_id 0..9 (deterministic); assignment = argmin of
    //    squared L2 over 1e3-quantized integer components (exact,
    //    associative, engine-neutral — a float fold is none of those);
    //    update = per-cluster count / inertia / first-component sum.
    //    Scale shape: centroids broadcast (k·dim ints), assignment is a
    //    narrow map over the corpus, and the only shuffle is the k-row
    //    update aggregation with map-side partial combine — the plan a
    //    distributed k-means has at any corpus size (iterate by looping
    //    this plan, centroids re-broadcast each round).
    "ss05_kmeans_iter" -> ((s, d) => {
      val q = quantVecs(s, d, 0).select(col("vec_id"), col("v"))
      val ctr = q.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
      q.crossJoin(broadcast(ctr))
        .select(col("vec_id"), col("cid"), expr("element_at(v, 1)").as("v0"),
          expr("aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
            .as("dist2"))
        // Exact-integer argmin with cid tiebreak: min over (dist2, cid)
        // structs; v0 rides along for the update stage.
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist2"), col("cid"), col("v0"))).as("m"))
        .groupBy(col("m.cid").as("cid"))
        .agg(count(lit(1)).as("n_points"),
             sum(col("m.dist2")).as("inertia"),
             sum(col("m.v0")).as("sum_q0"))
    }),

    // -- MULTI-ROUND k-means training (3 Lloyd iterations) — completes
    //    ss05's story: the loop that actually produces ss02's IVF
    //    centroids. Each round re-broadcasts the k updated centroids
    //    (k·dim ints — the only data the driver plan ever loops on),
    //    assignment stays a narrow map over the corpus, the update is a
    //    (k·dim)-row aggregation with map-side combine, and the centroid
    //    relation is localCheckpointed per round (dd13's iteration
    //    discipline: truncate lineage at the loop boundary, so round r
    //    never re-runs rounds 1..r-1). EXACT integer arithmetic
    //    throughout: components are quantized to ints with a +10000
    //    offset so every value stays positive — offsets cancel in
    //    distance differences, and positivity makes Spark's truncating
    //    `div` equal DuckDB's flooring `//` in the centroid mean, which
    //    is what lets an iterative float-free algorithm stay
    //    bit-identical across engines AND partitionings (fixed-point
    //    discipline from dd13). Output: per-cluster size, inertia, and
    //    first centroid component after round 3.
    "ss08_kmeans_train" -> ((s, d) => {
      val q = quantVecs(s, d, 10000).select(col("vec_id"), col("v"))
      var ctr = q.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
        .localCheckpoint()
      var lastAssign: DataFrame = null
      for (_ <- 1 to 3) {
        val a = q.crossJoin(broadcast(ctr))
          .select(col("vec_id"), col("cid"), col("v"),
            expr("aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
              .as("dist2"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("dist2"), col("cid"), col("v"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"),
            col("m.dist2").as("dist2"), col("m.v").as("v"))
        // Component-wise integer mean: explode (cid, j, x), one shuffle
        // on (cid, j) with partial aggregation, re-assemble the vector
        // with an order-pinned collect.
        ctr = a.select(col("cid"), posexplode(col("v")).as(Seq("j", "x")))
          .groupBy(col("cid"), col("j"))
          .agg(expr("sum(x) div count(1)").as("c"))
          .groupBy(col("cid"))
          .agg(expr("transform(sort_array(collect_list(struct(j, c))), t -> t.c)").as("cv"))
          .localCheckpoint()
        lastAssign = a
      }
      lastAssign.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_points"), sum(col("dist2")).as("inertia"))
        .join(ctr.select(col("cid"), expr("element_at(cv, 1)").as("c0")), "cid")
        .select(col("cid"), col("n_points"), col("inertia"), col("c0"))
    }),

    // -- PRODUCT QUANTIZATION retrieval (the IVF-PQ code tier): vectors
    //    compress to m=4 sub-space codes (one of k=8 codewords per
    //    16-dim sub-vector — a 4-code id per vector instead of 64
    //    floats), and query scoring is ADC (asymmetric distance
    //    computation): per query, ONE dot product against each codeword
    //    builds a (sp, code) -> partial-dot lookup table; scoring a
    //    neighbor is then m table lookups + a sum — the scan reads the
    //    tiny code relation, never the vectors. Codebook here is
    //    deterministic sampling (vec_id < 8, the k-means-init shape;
    //    ss08 is the training loop that would refine it). All arithmetic
    //    is exact-integer on 1e3-quantized components (argmin encode,
    //    LUT dots, ADC sums — associative, engine-neutral); the ADC
    //    top-20 pool carries only (ids, iscore); the exact float-cosine
    //    re-rank joins vectors back BY ID (ss06's discipline).
    //    BUILD/PROBE split (ss07's discipline): the codebook and the
    //    full-corpus code relation are STAGED artifacts ([[pqCodebook]],
    //    [[pqEncoded]]) — the expensive encode (argmin over the codebook
    //    for every corpus sub-vector) runs once per fixture; the probe
    //    plan scans 4 small ints per vector and builds only the
    //    query-side LUT fresh (the genuinely per-query-batch work).
    "ss09_pq_topk" -> ((s, d) => {
      val codes = pqCodebook(s, d)
      val encoded = pqEncoded(s, d)
      val lut = pqSubv(s, d).filter(col("vec_id") % 50 === 0)
        .withColumnRenamed("vec_id", "query_id")
        .join(broadcast(codes), "sp")
        .select(col("query_id"), col("sp"), col("code"),
          expr("aggregate(zip_with(sv, cv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)")
            .as("dotc"))
      val w1 = Window.partitionBy(col("query_id"))
        .orderBy(col("iscore").desc, col("neighbor_id").asc)
      val w2 = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val pool = encoded.join(broadcast(lut), Seq("sp", "code"))
        .filter(col("query_id") =!= col("vec_id"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum(col("dotc")).as("iscore"))
        .withColumn("rnk1", row_number().over(w1))
        .filter(col("rnk1") <= 20)
        .select(col("query_id"), col("neighbor_id"))
      pool
        .join(vecs(s, d).as("a"), col("query_id") === col("a.vec_id"))
        .join(vecs(s, d).as("b"), col("neighbor_id") === col("b.vec_id"))
        .select(col("query_id"), col("neighbor_id"), cosAB.as("cos"))
        .withColumn("rnk", row_number().over(w2))
        .filter(col("rnk") <= 3)
    }),

    // -- Distributed k-NN JOIN — the batch-retrieval shape: the query
    //    side is a TABLE (every label<2 vector), not a handful of
    //    broadcast literals, so this is the "for each of millions of
    //    queries, top-3 neighbors" operator a training pipeline runs.
    //    Real IVF geometry (unlike ss02's fixture-label cells): corpus
    //    vectors are assigned to their nearest of 8 deterministic
    //    centroids (exact-integer argmin, ss05's arithmetic), and each
    //    query probes its nprobe=3 nearest cells. Candidate generation
    //    is then an equi-join on the cell id — per-query work is
    //    nprobe·|cell|, never the corpus — and the candidate shuffle
    //    carries only (query_id, neighbor_id); vectors join back BY ID
    //    for the exact float-cosine top-3 (ss06's discipline). At
    //    100 TB the cell assignment is the staged index build (ss07's
    //    split) and the probe join shuffles on cell id.
    "ss10_knn_join" -> ((s, d) => {
      val q = quantVecs(s, d, 0)
      val ctr = q.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
      val dist2 = expr(
        "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
      val corpusCell = q.crossJoin(broadcast(ctr))
        .select(col("vec_id"), col("cid"), dist2.as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id").as("neighbor_id"), col("m.cid").as("cell"))
      val wq = Window.partitionBy(col("vec_id"))
        .orderBy(col("d2").asc, col("cid").asc)
      val probes = q.filter(col("label") < 2).crossJoin(broadcast(ctr))
        .select(col("vec_id"), col("cid"), dist2.as("d2"))
        .withColumn("pr", row_number().over(wq))
        .filter(col("pr") <= 3)
        .select(col("vec_id").as("query_id"), col("cid").as("cell"))
      val v = vecs(s, d)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      probes.join(corpusCell, "cell")
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
        .join(v.as("a"), col("query_id") === col("a.vec_id"))
        .join(v.as("b"), col("neighbor_id") === col("b.vec_id"))
        .select(col("query_id"), col("neighbor_id"), cosAB.as("cos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
    }),

    // -- Brute-force top-5 again, but scored with the native codegen'd
    //    VectorDot expression on the raw float arrays (graft.functions).
    //    Same widen-then-accumulate arithmetic as the HOF path, so the
    //    oracle is identical to ss01's — what changes is the inner loop:
    //    a primitive codegen loop instead of interpreted lambdas.
    "ss04_native_topk" -> ((s, d) => {
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", vecDot(col("embedding"), col("embedding")))
      val q = v.filter(col("vec_id") % 50 === 0)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      broadcast(q).as("a")
        .join(v.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
          round(vecDot(col("a.embedding"), col("b.embedding"))
            / sqrt(col("a.nrm") * col("b.nrm")), 6).as("cos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
    }),

    // -- Scalar-quantized (int8) retrieval + exact re-rank — the
    //    memory-bandwidth tier real ANN deployments add below IVF/LSH:
    //    q_i = clamp(round(x_i·127), ±127) shrinks vectors 4× and makes
    //    candidate scoring an exact small-integer dot — every product
    //    (≤ 127² = 16129) and sum is exactly representable, so the
    //    score is associative, deterministic under any partitioning
    //    and engine (the float dot it approximates is neither). The
    //    quantized vectors are a PERSISTED per-fixture artifact
    //    ([[sq8Index]] — build once, probe many, like ss02/ss07/ss09),
    //    stored as float so the native codegen'd vecDot scores the hot
    //    loop (no interpreted HOF anywhere in the probe plan). The
    //    pool window ranks only (query_id, neighbor_id, iscore) — the
    //    candidate shuffle carries ids + one number, never vectors —
    //    and the refine joins the full vectors back BY ID for the
    //    true-cosine top-3 (the shape a 100 TB deployment needs; the
    //    tiny pool broadcasts into both joins).
    "ss06_sq8_topk" -> ((s, d) => {
      val v = sq8Index(s, d)
      val q = v.filter(col("vec_id") % 50 === 0)
      val w1 = Window.partitionBy(col("query_id"))
        .orderBy(col("iscore").desc, col("neighbor_id").asc)
      val w2 = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val pool = broadcast(q).as("a")
        .join(v.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
          vecDot(col("a.qe"), col("b.qe")).as("iscore"))
        .withColumn("rnk1", row_number().over(w1))
        .filter(col("rnk1") <= 10)
        .select(col("query_id"), col("neighbor_id"))
      pool
        .join(vecs(s, d).as("a"), col("query_id") === col("a.vec_id"))
        .join(vecs(s, d).as("b"), col("neighbor_id") === col("b.vec_id"))
        .select(col("query_id"), col("neighbor_id"), cosAB.as("cos"))
        .withColumn("rnk", row_number().over(w2))
        .filter(col("rnk") <= 3)
    }),

    // -- FILTERED vector search (metadata-constrained ANN) — the
    //    retrieval shape bolt-on vector stores get wrong: top-k "among
    //    vectors whose DOCUMENT satisfies a predicate" (here lang='en',
    //    via the vec_id = doc_id modality pairing). PRE-FILTER design:
    //    the predicate joins into the corpus side BEFORE scoring and
    //    ranking, so top-3 is EXACT over the allowed subset —
    //    post-filtering a generic top-k pool silently loses recall
    //    whenever the filter is selective (an all-'zh' pool leaves an
    //    'en'-filtered query empty). The allowed relation is ID-ONLY
    //    (8-byte keys, semi join — vectors never ride the filter);
    //    corpus side scans the PERSISTED IVF artifact with same-label
    //    cell blocking, exactly ss02's probe plus one semi join.
    "ss11_filtered_ann" -> ((s, d) => {
      val allowed = Tables.documents(s, d)
        .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
      val corpus = ivfIndex(s, d).join(allowed, Seq("vec_id"), "left_semi")
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      vecs(s, d).filter(col("vec_id") % 50 === 0).as("a")
        .join(corpus.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
          cosAB.as("cos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
    }),

    // -- MATRYOSHKA (truncated-dimension) retrieval — the OTHER
    //    quantization axis real deployments stack with ss06's int8:
    //    MRL-trained embeddings pack the signal into the PREFIX of the
    //    vector, so the coarse pass ranks on a dimension prefix (here
    //    48 of 64 — at 100 TB the stored coarse index IS the prefix
    //    relation, a strict subset of the bytes) and the exact
    //    full-dim cosine re-ranks only the 20-candidate pool, joined
    //    back BY ID (ss06's pool discipline: the candidate shuffle
    //    carries ids + one number, never vectors). Both stages are the
    //    shared cosine formula, so the two-stage estimator is engine-
    //    reproducible; recall vs full-dim brute force is the spec's
    //    claim. The fixture embeddings are NOT MRL-trained (a prefix
    //    carries only its proportional share of signal), so prefix=48 /
    //    pool=20 — the two knobs a deployment tunes to its embeddings'
    //    prefix concentration; measured recall@3 at sf0.001: 0.93
    //    (32 dims: pool=10 0.50, pool=20 0.67 — untrained prefixes
    //    need most of the vector).
    "ss13_mrl_topk" -> ((s, d) => {
      val vp = vecs(s, d)
        .withColumn("ep", expr("slice(e, 1, 48)"))
        .withColumn("nrmp", vecDot(col("ep"), col("ep")))
        .select(col("vec_id"), col("ep"), col("nrmp"))
      val qp = vp.filter(col("vec_id") % 50 === 0)
      val wc = Window.partitionBy(col("query_id"))
        .orderBy(col("coarse").desc, col("neighbor_id").asc)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val pool = broadcast(qp).as("a")
        .join(vp.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
          round(vecDot(col("a.ep"), col("b.ep"))
            / sqrt(col("a.nrmp") * col("b.nrmp")), 6).as("coarse"))
        .withColumn("crnk", row_number().over(wc))
        .filter(col("crnk") <= 20)
        .select(col("query_id"), col("neighbor_id"))
      pool
        .join(vecs(s, d).as("a"), col("query_id") === col("a.vec_id"))
        .join(vecs(s, d).as("b"), col("neighbor_id") === col("b.vec_id"))
        .select(col("query_id"), col("neighbor_id"), cosAB.as("cos"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
    }),

    // -- NPROBE→RECALL TUNING SWEEP — the evaluation an IVF deployment
    //    runs BEFORE picking its operating point: recall@3 against the
    //    brute-force ground truth at nprobe ∈ {1,2,3}, in ONE plan. The
    //    sweep trick: a probe cell ranked pr by centroid distance
    //    participates in every nprobe ≥ pr, so exploding sequence(pr, 3)
    //    materializes all three probe lists from ONE ranked relation —
    //    three sweep points cost one centroid-distance pass, not three.
    //    Geometry is ss10's (integer centroid argmin over quantized
    //    vectors — exact, engine-reproducible); candidates join by cell
    //    (each vector lives in exactly one cell, so no dedup is needed);
    //    recall is exact integer ppm. At 100 TB this is a sampled-query
    //    offline job whose output DECIDES the serving nprobe — the
    //    tuning table itself is the deliverable.
    "ss14_nprobe_recall" -> ((s, d) => {
      val qv = quantVecs(s, d, 0)
      val ctr = qv.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
      val dist2 = expr(
        "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
      val corpusCell = qv.crossJoin(broadcast(ctr))
        .select(col("vec_id"), col("cid"), dist2.as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id").as("neighbor_id"), col("m.cid").as("cell"))
      val wq = Window.partitionBy(col("vec_id"))
        .orderBy(col("d2").asc, col("cid").asc)
      val swept = qv.filter(col("vec_id") % 50 === 0).crossJoin(broadcast(ctr))
        .select(col("vec_id"), col("cid"), dist2.as("d2"))
        .withColumn("pr", row_number().over(wq))
        .filter(col("pr") <= 3)
        .select(col("vec_id").as("query_id"), col("cid").as("cell"),
          explode(expr("sequence(pr, 3)")).as("nprobe"))
      val v = vecs(s, d)
      val w3 = Window.partitionBy(col("nprobe"), col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val top3 = swept.join(corpusCell, "cell")
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("nprobe"), col("query_id"), col("neighbor_id"))
        .join(v.as("a"), col("query_id") === col("a.vec_id"))
        .join(v.as("b"), col("neighbor_id") === col("b.vec_id"))
        .select(col("nprobe"), col("query_id"), col("neighbor_id"),
          cosAB.as("cos"))
        .withColumn("rnk", row_number().over(w3))
        .filter(col("rnk") <= 3)
        .select(col("nprobe"), col("query_id"), col("neighbor_id"))
      val wb = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val brute = broadcast(v.filter(col("vec_id") % 50 === 0)).as("a")
        .join(v.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
          cosAB.as("cos"))
        .withColumn("rnk", row_number().over(wb))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val tot = brute.agg(count(lit(1)).as("n_total"))
      top3.join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("nprobe"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .crossJoin(broadcast(tot)) // 1-row total — bounded class
        .select(col("nprobe"), col("n_hits"), col("n_total"),
          expr("n_hits * 1000000 div n_total").as("recall_ppm"))
    })
  )

  private val dVecs =
    "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings"

  def oracleSql: Map[String, String] = Map(
    // Same int8 quantization (round-half-away ties agree: both engines
    // round the identical IEEE product; integer values and products are
    // exact in either int or double arithmetic), id-only pool ranking,
    // then the shared-cosine refine joined back by id. iscore stays
    // internal — only the re-ranked rows emit.
    "ss06_sq8_topk" ->
      s"""WITH v AS ($dVecs),
          qv AS (SELECT vec_id,
                   list_transform(e, x -> CAST(greatest(-127.0, least(127.0,
                     round(x * 127))) AS INTEGER)) AS qe
                 FROM v),
          pool AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              list_sum(list_transform(range(1, len(a.qe) + 1),
                i -> a.qe[CAST(i AS INTEGER)] * b.qe[CAST(i AS INTEGER)]))
                AS iscore
            FROM qv a JOIN qv b
              ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id),
          top10 AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY iscore DESC, neighbor_id ASC) AS rnk1
              FROM pool) WHERE rnk1 <= 10)
          SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rnk FROM (
            SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM (SELECT t.query_id, t.neighbor_id, $dCosAB AS cos
                  FROM top10 t
                  JOIN v a ON t.query_id = a.vec_id
                  JOIN v b ON t.neighbor_id = b.vec_id))
          WHERE rnk <= 3""",
    "ss01_cosine_topk" ->
      s"""WITH v AS ($dVecs)
          SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              $dCosAB AS cos,
              CAST(row_number() OVER (PARTITION BY a.vec_id
                ORDER BY $dCosAB DESC, b.vec_id ASC) AS INT) AS rnk
            FROM v a JOIN v b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id)
          WHERE rnk <= 5""",
    "ss02_ivf_topk" -> dIvfTopk,
    // ss14: ss10's geometry CTEs + the sequence(pr,3) sweep + brute
    // ground truth, scored as exact integer ppm.
    "ss14_nprobe_recall" ->
      s"""WITH v AS ($dVecs),
          q AS (SELECT vec_id, label,
                  list_transform(CAST(embedding AS DOUBLE[]),
                    x -> CAST(round(x * 1000, 0) AS BIGINT)) AS v
                FROM embeddings),
          c AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM q WHERE vec_id < 8),
          d2 AS (
            SELECT q.vec_id, c.cid,
              list_aggregate(list_transform(range(len(q.v)),
                i -> (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])
                   * (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])), 'sum') AS d2
            FROM q CROSS JOIN c),
          cell AS (SELECT vec_id AS neighbor_id, cid AS cell FROM (
              SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2 ASC, cid ASC) AS rn FROM d2) WHERE rn = 1),
          pr AS (SELECT vec_id AS query_id, cid AS cell, rn FROM (
              SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2 ASC, cid ASC) AS rn FROM d2 WHERE vec_id % 50 = 0)
            WHERE rn <= 3),
          swept AS (SELECT query_id, cell, CAST(t.np AS INT) AS nprobe
                    FROM pr, range(1, 4) t(np) WHERE pr.rn <= t.np),
          cand AS (SELECT s.nprobe, s.query_id, cc.neighbor_id
                   FROM swept s JOIN cell cc
                     ON s.cell = cc.cell AND s.query_id <> cc.neighbor_id),
          top3 AS (SELECT nprobe, query_id, neighbor_id FROM (
              SELECT t.nprobe, t.query_id, t.neighbor_id,
                row_number() OVER (PARTITION BY t.nprobe, t.query_id
                  ORDER BY $dCosAB DESC, t.neighbor_id ASC) AS rnk
              FROM cand t
              JOIN v a ON t.query_id = a.vec_id
              JOIN v b ON t.neighbor_id = b.vec_id) WHERE rnk <= 3),
          brute AS (SELECT query_id, neighbor_id FROM (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY a.vec_id
                  ORDER BY $dCosAB DESC, b.vec_id ASC) AS rnk
              FROM v a JOIN v b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id)
            WHERE rnk <= 3),
          tot AS (SELECT count(*) AS n_total FROM brute)
          SELECT t3.nprobe,
            CAST(sum(CASE WHEN br.query_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits,
            CAST(any_value(tt.n_total) AS BIGINT) AS n_total,
            CAST(sum(CASE WHEN br.query_id IS NOT NULL THEN 1 ELSE 0 END)
              * 1000000 // any_value(tt.n_total) AS BIGINT) AS recall_ppm
          FROM top3 t3
          LEFT JOIN brute br ON t3.query_id = br.query_id
            AND t3.neighbor_id = br.neighbor_id
          CROSS JOIN tot tt
          GROUP BY t3.nprobe""",
    // ss13: the same two-stage shape as ss06's oracle — coarse rank on
    // the 48-dim prefix, shared-cosine re-rank of the 20-candidate pool.
    "ss13_mrl_topk" ->
      s"""WITH v AS ($dVecs),
          vp AS (SELECT vec_id, e[1:48] AS ep FROM v),
          pool AS (
            SELECT query_id, neighbor_id FROM (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY a.vec_id ORDER BY
                  round(list_dot_product(a.ep, b.ep)
                    / sqrt(list_dot_product(a.ep, a.ep)
                         * list_dot_product(b.ep, b.ep)), 6) DESC,
                  b.vec_id ASC) AS crnk
              FROM vp a JOIN vp b
                ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id)
            WHERE crnk <= 20)
          SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rnk FROM (
            SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM (SELECT t.query_id, t.neighbor_id, $dCosAB AS cos
                  FROM pool t
                  JOIN v a ON t.query_id = a.vec_id
                  JOIN v b ON t.neighbor_id = b.vec_id))
          WHERE rnk <= 3""",
    // ss07 probes the STORED signature index; signatures and probe are
    // identical to ss03, so the oracle is ss03's verbatim.
    "ss07_lsh_index_probe" -> dLshAnn,
    "ss03_lsh_ann" -> dLshAnn,
    // ss12 probes the refreshed+compacted index — probe parity with the
    // write-once artifact is the claim, so the oracle is ss02's verbatim.
    "ss12_ivf_refresh" -> dIvfTopk,
    "ss15_ivf_delete_compact" -> dIvfTopkDel
  ) ++ dOtherOracles

  /** Shared IVF-probe oracle (ss02/ss12; st22 aliases it too — the
    * serving stream's union over micro-batches equals the batch probe). */
  private[graft] lazy val dIvfTopk =
      s"""WITH v AS ($dVecs)
          SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              $dCosAB AS cos,
              CAST(row_number() OVER (PARTITION BY a.vec_id
                ORDER BY $dCosAB DESC, b.vec_id ASC) AS INT) AS rnk
            FROM v a JOIN v b
              ON a.vec_id % 50 = 0 AND a.label = b.label AND a.vec_id <> b.vec_id)
          WHERE rnk <= 3"""

  /** ss15's oracle: ss02's probe with the tombstoned rows (vec_id % 7 =
    * 3 in cells 0-4) removed from the INDEX side only — queries are
    * external input and keep their vectors. */
  /** ss02's exact probe with the index side EXCLUDING `deletedPred`
    * (over alias b) — the shared surviving-corpus oracle for every
    * delete leg (ss15 batch, st38 streaming). */
  private[graft] def dIvfTopkExcluding(deletedPred: String): String =
      s"""WITH v AS ($dVecs)
          SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              $dCosAB AS cos,
              CAST(row_number() OVER (PARTITION BY a.vec_id
                ORDER BY $dCosAB DESC, b.vec_id ASC) AS INT) AS rnk
            FROM v a JOIN v b
              ON a.vec_id % 50 = 0 AND a.label = b.label AND a.vec_id <> b.vec_id
              AND NOT ($deletedPred))
          WHERE rnk <= 3"""

  private lazy val dIvfTopkDel =
    dIvfTopkExcluding("b.vec_id % 7 = 3 AND b.label < 5")

  private lazy val dLshAnn =
      s"""WITH v AS ($dVecs),
          planes AS (
            SELECT CAST(tt.t AS INT) AS t, CAST(pp.p AS INT) AS p, CAST(ii.i AS INT) AS i,
              CAST(concat('0x', substr(md5(concat(tt.t, ':', pp.p, ':', ii.i)), 1, 8)) AS BIGINT)
                % 1001 - 500 AS w
            FROM range(4) tt(t), range(6) pp(p), range(64) ii(i)),
          comps AS (
            SELECT vec_id, CAST(t.i AS INT) AS i,
              CAST(round(e[CAST(t.i AS INT) + 1] * 1000000, 0) AS BIGINT) AS xq
            FROM v, range(64) t(i)),
          dots AS (
            SELECT vec_id, t, p, sum(xq * w) AS dot
            FROM comps JOIN planes USING (i) GROUP BY 1, 2, 3),
          sig AS (
            SELECT vec_id, t,
              CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
            FROM dots GROUP BY 1, 2),
          probes AS (
            SELECT vec_id, t,
              CASE WHEN CAST(r.j AS INT) = -1 THEN sig
                   ELSE xor(sig, CAST(1 AS BIGINT) << CAST(r.j AS INT)) END AS psig
            FROM sig, range(-1, 6) r(j) WHERE vec_id % 50 = 0),
          cand AS (
            SELECT DISTINCT qa.vec_id AS query_id, qb.vec_id AS neighbor_id
            FROM probes qa JOIN sig qb
              ON qa.t = qb.t AND qa.psig = qb.sig
             AND qa.vec_id <> qb.vec_id)
          SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT query_id, neighbor_id, $dCosAB AS cos,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY $dCosAB DESC, neighbor_id ASC) AS INT) AS rnk
            FROM cand JOIN v a ON query_id = a.vec_id
                      JOIN v b ON neighbor_id = b.vec_id)
          WHERE rnk <= 3"""

  /** ss08's oracle: the same 3 Lloyd rounds unrolled as CTE chains
    * (dd13's unrolled-iteration style). All-integer fixed point with the
    * +10000 positivity offset, so `//` (floor) == Spark `div`
    * (truncate) on every centroid mean and the rounds stay bit-exact. */
  private val dKmeansTrain: String = {
    val dim = 64
    def round(r: Int, prevC: String) =
      s"""d$r AS (
            SELECT q.vec_id, c.cid, q.v,
              list_sum(list_transform(range($dim),
                i -> (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])
                   * (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1]))) AS dist2
            FROM q CROSS JOIN $prevC c),
          a$r AS (
            SELECT vec_id, cid, v, dist2 FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist2 ASC, cid ASC) AS rn FROM d$r) WHERE rn = 1),
          c$r AS (
            SELECT cid, list(c ORDER BY j) AS cv FROM (
              SELECT cid, CAST(t.j AS INT) AS j,
                sum(v[CAST(t.j AS INT) + 1]) // count(*) AS c
              FROM a$r, range($dim) t(j) GROUP BY 1, 2)
            GROUP BY cid)"""
    s"""WITH q AS (
          SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
            x -> CAST(round(x * 1000, 0) AS BIGINT) + 10000) AS v
          FROM embeddings),
        c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM q WHERE vec_id < 10),
        ${round(1, "c0")},
        ${round(2, "c1")},
        ${round(3, "c2")}
        SELECT s.cid, s.n_points, s.inertia, CAST(c.cv[1] AS BIGINT) AS c0
        FROM (SELECT cid, count(*) AS n_points,
                CAST(sum(dist2) AS BIGINT) AS inertia
              FROM a3 GROUP BY cid) s
        JOIN c3 c ON s.cid = c.cid"""
  }

  /** ss09's oracle: same integer PQ pipeline — deterministic codebook,
    * argmin encode with (d2, code) tiebreak, LUT dots, ADC sums, pool,
    * shared-cosine re-rank. DuckDB list slices are 1-based inclusive:
    * [sp*16+1 : sp*16+16] == Spark's slice(v, sp*16+1, 16). */
  private val dPqTopk: String =
    s"""WITH v AS ($dVecs),
        q AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                x -> CAST(round(x * 1000, 0) AS BIGINT)) AS v
              FROM embeddings),
        subv AS (
          SELECT vec_id, CAST(sp.s AS INT) AS sp,
            v[CAST(sp.s*16 + 1 AS INT) : CAST(sp.s*16 + 16 AS INT)] AS sv
          FROM q, range(4) sp(s)),
        codes AS (
          SELECT sp, CAST(vec_id AS INT) AS code, sv AS cv
          FROM subv WHERE vec_id < 8),
        enc AS (
          SELECT vec_id, sp, code FROM (
            SELECT s.vec_id, s.sp, c.code,
              row_number() OVER (PARTITION BY s.vec_id, s.sp ORDER BY
                list_sum(list_transform(range(16),
                  i -> (s.sv[CAST(i AS INT)+1] - c.cv[CAST(i AS INT)+1])
                     * (s.sv[CAST(i AS INT)+1] - c.cv[CAST(i AS INT)+1]))) ASC,
                c.code ASC) AS rn
            FROM subv s JOIN codes c USING (sp)) WHERE rn = 1),
        lut AS (
          SELECT s.vec_id AS query_id, s.sp, c.code,
            list_sum(list_transform(range(16),
              i -> s.sv[CAST(i AS INT)+1] * c.cv[CAST(i AS INT)+1])) AS dotc
          FROM subv s JOIN codes c USING (sp) WHERE s.vec_id % 50 = 0),
        adc AS (
          SELECT l.query_id, e.vec_id AS neighbor_id, sum(l.dotc) AS iscore
          FROM enc e JOIN lut l ON e.sp = l.sp AND e.code = l.code
          WHERE l.query_id <> e.vec_id
          GROUP BY 1, 2),
        pool AS (SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY iscore DESC, neighbor_id ASC) AS rnk1
            FROM adc) WHERE rnk1 <= 20)
        SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rnk FROM (
          SELECT t.query_id, t.neighbor_id, $dCosAB AS cos,
            row_number() OVER (PARTITION BY t.query_id
              ORDER BY $dCosAB DESC, t.neighbor_id ASC) AS rnk
          FROM pool t JOIN v a ON t.query_id = a.vec_id
                      JOIN v b ON t.neighbor_id = b.vec_id)
        WHERE rnk <= 3"""

  private val dOtherOracles: Map[String, String] = Map(
    "ss09_pq_topk" -> dPqTopk,
    // Same integer centroid assignment (ss05's arithmetic), nprobe=3
    // probe list per query, cell equi-join, exact-cosine top-3.
    "ss10_knn_join" ->
      s"""WITH v AS ($dVecs),
          q AS (SELECT vec_id, label,
                  list_transform(CAST(embedding AS DOUBLE[]),
                    x -> CAST(round(x * 1000, 0) AS BIGINT)) AS v
                FROM embeddings),
          c AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM q WHERE vec_id < 8),
          d2 AS (
            SELECT q.vec_id, q.label, c.cid,
              list_aggregate(list_transform(range(len(q.v)),
                i -> (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])
                   * (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])), 'sum') AS d2
            FROM q CROSS JOIN c),
          cell AS (SELECT vec_id AS neighbor_id, cid AS cell FROM (
              SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2 ASC, cid ASC) AS rn FROM d2) WHERE rn = 1),
          probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
              SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2 ASC, cid ASC) AS rn FROM d2 WHERE label < 2)
            WHERE rn <= 3),
          cand AS (
            SELECT p.query_id, cc.neighbor_id
            FROM probes p JOIN cell cc
              ON p.cell = cc.cell AND p.query_id <> cc.neighbor_id)
          SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT t.query_id, t.neighbor_id, $dCosAB AS cos,
              CAST(row_number() OVER (PARTITION BY t.query_id
                ORDER BY $dCosAB DESC, t.neighbor_id ASC) AS INT) AS rnk
            FROM cand t
            JOIN v a ON t.query_id = a.vec_id
            JOIN v b ON t.neighbor_id = b.vec_id)
          WHERE rnk <= 3""",
    "ss08_kmeans_train" -> dKmeansTrain,
    "ss05_kmeans_iter" ->
      """WITH q AS (
           SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(round(x * 1000, 0) AS BIGINT)) AS v
           FROM embeddings),
         c AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM q WHERE vec_id < 10),
         d2 AS (
           SELECT q.vec_id, c.cid, q.v[1] AS v0,
             list_aggregate(list_transform(range(len(q.v)),
               i -> (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])
                  * (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])), 'sum') AS dist2
           FROM q CROSS JOIN c),
         a AS (
           SELECT vec_id, cid, dist2, v0,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY dist2 ASC, cid ASC) AS rn
           FROM d2)
         SELECT cid, count(*) AS n_points,
           CAST(sum(dist2) AS BIGINT) AS inertia,
           CAST(sum(v0) AS BIGINT) AS sum_q0
         FROM a WHERE rn = 1 GROUP BY cid""",
    // Same oracle as ss01 — the native expression must be bit-identical.
    "ss04_native_topk" ->
      s"""WITH v AS ($dVecs)
          SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              $dCosAB AS cos,
              CAST(row_number() OVER (PARTITION BY a.vec_id
                ORDER BY $dCosAB DESC, b.vec_id ASC) AS INT) AS rnk
            FROM v a JOIN v b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id)
          WHERE rnk <= 5""",
    // Pre-filter exactness: rank ONLY over the allowed (lang='en')
    // subset — identical predicate, same cell blocking as ss02.
    "ss11_filtered_ann" ->
      s"""WITH v AS ($dVecs),
          allowed AS (SELECT doc_id FROM documents WHERE lang = 'en')
          SELECT query_id, neighbor_id, cos, rnk FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              $dCosAB AS cos,
              CAST(row_number() OVER (PARTITION BY a.vec_id
                ORDER BY $dCosAB DESC, b.vec_id ASC) AS INT) AS rnk
            FROM v a JOIN v b
              ON a.vec_id % 50 = 0 AND a.label = b.label AND a.vec_id <> b.vec_id
            JOIN allowed al ON b.vec_id = al.doc_id)
          WHERE rnk <= 3"""
  )
}
