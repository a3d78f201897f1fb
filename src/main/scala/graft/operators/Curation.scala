package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import graft.sources.{Scratch, Tables}

/** The end-to-end training-data curation pipeline, composed from the
  * library's own operators THROUGH their public registries — the
  * "whole job in one declarative plan" demonstration:
  *
  *   keep a document iff
  *     1. language-ID says en/mixed           (ta02)
  *     2. quality score ≥ 0.5                 (ta03)
  *     3. not contaminated by the benchmark   (dd08)
  *     4. canonical in its near-dup cluster   (dd09: not in any cluster,
  *        or the cluster's min-id survivor)
  *
  * Each stage is itself oracle-verified; this composition is verified
  * end-to-end against a DuckDB oracle built by composing the same
  * stages' SQL. Catalyst sees ONE plan — stage boundaries dissolve
  * into shared scans, pushed filters, and broadcastable semi/anti
  * joins, which is the point of being declarative.
  */
object Curation {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pl01_curation" -> ((s, d) => {
      val lang = TextAnalysis.queries("ta02_lang_id")(s, d)
        .select(col("doc_id"), col("pred_lang"))
      val qual = TextAnalysis.queries("ta03_quality_score")(s, d)
        .select(col("doc_id"), col("quality"))
      val contaminated = Dedup.queries("dd08_contamination")(s, d)
        .select(col("doc_id"))
      // Probe the staged cluster artifact (write-once nightly relation);
      // re-running dd09's propagation loop per consumer is the
      // anti-pattern the gram index already retired.
      val clusters = Dedup.stagedClusters(s, d)
      Tables.documents(s, d).select(col("doc_id"))
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .filter(col("pred_lang").isin("en", "mixed") && col("quality") >= 0.5)
        // Decontamination: anti join on the (small) contaminated set.
        .join(contaminated, Seq("doc_id"), "left_anti")
        // Dedup survivorship: docs outside any cluster pass; inside a
        // cluster only the canonical (min doc_id) survives.
        .join(clusters, Seq("doc_id"), "left")
        .filter(col("canonical_id").isNull || col("canonical_id") === col("doc_id"))
        .select(col("doc_id"), col("pred_lang"), col("quality"))
    }),

    // -- Train-ready EMISSION — the step after pl01's filtering: quality
    //    gate, then KEEP-BEST dedup survivorship (dd16's longest-text
    //    representative, not pl01's min-id rule — the two canonical
    //    policies a curation stack offers), then ta08's deterministic
    //    hash split, rolled up to the per-(split, lang) shard manifest
    //    (doc + token counts) a training launcher consumes. One Catalyst
    //    plan. The cluster-membership and kept relations are CORPUS
    //    FRACTIONS at real web-dup rates (30-60% of docs sit in near-dup
    //    clusters), so they must never be broadcast — shuffle-hash join
    //    on doc_id, dd18/ta21's discipline.
    "pl03_train_emission" -> ((s, d) => {
      val qual = TextAnalysis.queries("ta03_quality_score")(s, d)
        .select(col("doc_id"), col("quality"))
      val toks = TextAnalysis.queries("ta01_token_stats")(s, d)
        .select(col("doc_id"), col("n_tokens"))
      val clusters = Dedup.stagedClusters(s, d)
        .select(col("doc_id"))
      val kept = Dedup.queries("dd16_keep_best")(s, d)
        .select(col("kept_doc_id").as("doc_id"))
      // qual and toks are PER-DOCUMENT relations — corpus-sized, same
      // no-broadcast rule as the cluster/kept sets. All four joins key
      // on doc_id, so the shuffle-hash exchanges line up and AQE can
      // reuse the partitioning across them.
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(qual.hint("shuffle_hash"), "doc_id").filter(col("quality") >= 0.5)
        .join(toks.hint("shuffle_hash"), "doc_id")
        .join(clusters.withColumn("clustered", lit(1)).hint("shuffle_hash"),
              Seq("doc_id"), "left")
        .join(kept.withColumn("is_kept", lit(1)).hint("shuffle_hash"),
              Seq("doc_id"), "left")
        .filter(col("clustered").isNull || col("is_kept") === 1)
        .withColumn("split", TextAnalysis.splitCol)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens").cast("long")).as("n_tokens"))
    }),

    // -- WEB-CORPUS CURATION — the round-7 operators composed into the
    //    pipeline a raw web crawl actually goes through, in ONE plan:
    //      1. markup extraction   (ta28's block density/link gates)
    //      2. paragraph-level corpus dedup (ta27's >=3-distinct-doc
    //         drop rule over extracted block hashes — C4's pass)
    //      3. quality gate        (ta03's quality formula, computed
    //         shuffle-free in-row: the gate needs only token count and
    //         distinct count, so the explode+aggs ta03 needs for
    //         max_tf are unnecessary — same value, better plan)
    //      4. exact dedup         (dd01's rule: min-doc_id canonical
    //         per content key among the passing docs)
    //    Injected ground truth: every doc's markup carries TWO plain-
    //    text boilerplate paragraphs (present in every doc → dropped by
    //    stage 2) around the two content paragraphs; tag-only blocks
    //    fall to stage 1. Output is the per-language shard audit (all
    //    exact integers). Scale notes: block hashes shuffle as 8-byte
    //    keys (never block text), every doc-keyed/content-keyed join is
    //    shuffle hash (corpus-sized relations), and stages 1+3 are
    //    narrow in-row passes — the only exchanges are the dedup
    //    aggregations themselves.
    "pl05_web_curation" -> ((s, d) => {
      val scored = webScored(s, d)
      val pass = scored.filter(col("q") >= 0.5)
        .withColumn("ck", md5(col("txt")))
      val canon = pass.groupBy(col("ck")).agg(min(col("doc_id")).as("canon_id"))
      val passRollup = pass.hint("shuffle_hash")
        .join(canon.hint("shuffle_hash"), "ck")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pass"),
          sum((col("doc_id") === col("canon_id")).cast("long")).as("n_canonical"))
      scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_blocks").cast("long")).as("n_blocks"),
          sum(col("n_kept").cast("long")).as("n_kept_blocks"))
        .join(passRollup, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("n_blocks"), col("n_kept_blocks"),
          coalesce(col("n_pass"), lit(0L)).as("n_pass"),
          coalesce(col("n_canonical"), lit(0L)).as("n_canonical"))
    }),

    // -- RAG CONTEXT ASSEMBLY — the serving-side pipeline that consumes
    //    everything the curation stack produced: for each query vector,
    //    retrieve top-3 neighbors from the STAGED IVF index (ss02's
    //    probe, verbatim), resolve neighbor ids to documents through the
    //    vec_id = doc_id contract dq04 audits, and pack a context under
    //    a MODEL-TOKEN budget (ta26's BPE subword counts — real context
    //    windows are measured in tokenizer tokens, not whitespace
    //    words): keep neighbors in rank order while the running total
    //    stays ≤ 230, always keeping rank 1 (the standard never-empty-
    //    context rule; the running total is monotone, so the kept set
    //    is a rank prefix). Output: per query, kept-doc count, packed
    //    token total, and an md5 of the rank-ordered assembled context
    //    (collect_list sorted by the riding rnk — order pinned, never
    //    collection order). Scale: the probe is cell-bounded (ss02);
    //    the neighbor→document resolve keys on doc_id — the document
    //    side is corpus-sized and the retrieved side is
    //    queries×k (a corpus fraction at serving volume), so it is a
    //    SHUFFLE-HASH join, never a broadcast; the window and rollup
    //    partition by query_id — k rows per partition, no skew.
    "pl06_rag_context" -> ((s, d) => {
      val topk = Similarity.queries("ss02_ivf_topk")(s, d)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
      ragAssemble(topk,
        Bpe.docSubwords(s, d)
          .select(col("doc_id").as("neighbor_id"), col("n_subwords")),
        Tables.documents(s, d)
          .select(col("doc_id").as("neighbor_id"), col("text")))
    }),

    // -- The embedding-side curation pipeline: near-dup pairs from dd07
    //    (cosine ≥ 0.4 inside IVF label blocks), greedy min-id
    //    survivorship (a vector is dropped iff it is the LARGER id of
    //    some near-dup pair — the one-pass policy; transitive-closure
    //    canonicalization is dd09's job on the text side), then
    //    per-label audit counts. Outputs are exact integers only —
    //    a mean-of-norms here would be an order-dependent float sum,
    //    which is exactly what the repo's determinism rules forbid.
    "pl02_embedding_curation" -> ((s, d) => {
      // The dropped-id set is a corpus fraction under heavy duplication
      // — shuffle-hash join on vec_id, never a broadcast (ta21/dd18).
      val dupIds = Dedup.queries("dd07_embedding_neardup")(s, d)
        .select(col("vec_b").as("vec_id")).distinct()
      Tables.embeddings(s, d).select(col("vec_id"), col("label"))
        .join(dupIds.withColumn("is_dup", lit(1)).hint("shuffle_hash"),
              Seq("vec_id"), "left")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_total"),
             sum(coalesce(col("is_dup"), lit(0)).cast("long")).as("n_dups_dropped"))
        .select(col("label"), col("n_total"), col("n_dups_dropped"),
          (col("n_total") - col("n_dups_dropped")).as("n_kept"))
    }),

    // -- CLUSTER-BALANCED DIVERSITY SAMPLING (SemDeDup / prototype-
    //    sampling family, public literature): pick the top-5 highest-
    //    quality documents FROM EVERY embedding cluster instead of a
    //    global quality top-N — a global cut silently collapses the
    //    corpus onto its dominant mode; per-cluster quotas keep the
    //    selected training subset spread across semantic space. Stages,
    //    all existing operators composed through their registries:
    //    ss05's exact-integer k-means argmin assigns every vector to a
    //    cell (centroids broadcast — fixed-size model); quality rides
    //    in from ta03 through the dq04-audited vec_id = doc_id contract
    //    (both relations corpus-sized → SHUFFLE-HASH join, never
    //    broadcast); selection is the NATIVE bounded-heap TopKPerGroup
    //    physical operator (q43's plan) — with ~10 clusters a window
    //    formulation would sort the whole corpus in ~10 partitions (a
    //    skew straggler at scale), while the bounded heap keeps k rows
    //    per cell per task and merges O(cells·k). Output: the kept
    //    (cid, doc_id, quality) rows.
    "pl07_diverse_sample" -> ((s, d) => {
      val cells = Similarity.kmeansCells(s, d)
      val qual = TextAnalysis.queries("ta03_quality_score")(s, d)
        .select(col("doc_id"), col("quality"))
      val cand = cells.hint("shuffle_hash")
        .join(qual.hint("shuffle_hash"), cells("vec_id") === qual("doc_id"))
        .select(col("cid"), col("doc_id"), col("quality"))
      graft.plans.TopK.topKPerGroup(cand,
        keys = Seq(col("cid")),
        order = Seq(col("quality").desc, col("doc_id").asc),
        k = 5)
    }),

    // -- EPOCH-PLAN MATERIALIZATION — the step that turns curation
    //    OUTPUTS into the thing a training launcher actually mounts:
    //    ta35's deterministic fractional-epoch copies, each costed in
    //    BPE subword tokens (the staged per-doc stats — budgets are
    //    model tokens, ta09's rule), routed to a shard by ord_key and
    //    POSITIONED inside it (row_number over the shard window —
    //    shards are the parallel unit, no global sort), rolled up to a
    //    per-shard manifest: row count, token budget, and an
    //    ORDER-SENSITIVE checksum sum((pos+1)·kh mod p) that any
    //    reordering breaks — the reproducibility receipt for "this
    //    epoch, in this order". All exact integers. Scale notes: the
    //    copy→token join is doc_id-keyed shuffle hash (corpus-sized
    //    both sides); the checksum terms stay < 2^40 so the fixture sum
    //    is exact in i64 — at 10^12-row shards production swaps in a
    //    modular-accumulation Aggregator (q32's rung), same contract.
    "pl09_epoch_plan" -> ((s, d) => {
      val copies = TextAnalysis.queries("ta35_epoch_upsample")(s, d)
      val toks = Bpe.docSubwords(s, d).select(col("doc_id"), col("n_subwords"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("ord_key").asc, col("doc_id").asc, col("copy_idx").asc)
      copies.hint("shuffle_hash")
        .join(toks.hint("shuffle_hash"), Seq("doc_id"), "left")
        .withColumn("n_subwords", coalesce(col("n_subwords"), lit(0L)))
        .withColumn("shard", expr("ord_key % 8"))
        .withColumn("pos", row_number().over(w) - 1)
        .withColumn("kh", expr(
          "cast(conv(substring(md5(concat(cast(doc_id as string), ':', " +
          "cast(copy_idx as string), ':k')), 1, 12), 16, 10) as bigint)"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_subwords")).as("n_tokens"),
          sum(expr("((pos + 1) % 1000003) * (kh % 1000003)"))
            .as("order_checksum"))
    }),

    // -- SEMDEDUP WITHIN-CLUSTER SEMANTIC PRUNE (Abbas et al. 2023,
    //    public literature): inside each k-means cell, drop every
    //    vector that has a NEAR-DUPLICATE cellmate (6-dp-rounded cosine
    //    ≥ 0.4, dd07's exact cross-engine decision) ranked closer to
    //    the centroid (tie: smaller vec_id) — each semantic clump keeps
    //    exactly its most-prototypical member, which is SemDeDup's
    //    selection rule. Pairwise comparison NEVER crosses cells: the
    //    self-join keys on cid (both sides corpus-sized → shuffle-hash,
    //    dd07's discipline), so per-cell work is bounded by cell size —
    //    the global pairwise a naive semantic dedup would do is exactly
    //    what the cell structure exists to avoid. Per-cell work is
    //    additionally HARD-BOUNDED by the hot-cell guard
    //    (Similarity.hotCellResplit): a degenerate cell over CellCap
    //    members is re-split by one extra Lloyd assignment round before
    //    the self-join ever sees it — at fixture scale no cell is hot,
    //    so the guard is a provable no-op (spec-pinned) and the
    //    unguarded oracle below stays the ground truth. Centroid
    //    distances ride in from ss05's argmin (exact integers); scoring
    //    uses the native codegen'd vecDot. Output: the surviving (cid,
    //    vec_id, d2) rows.
    "pl10_semantic_prune" -> ((s, d) => {
      val cells = Similarity.hotCellResplit(
        Similarity.kmeansCellsDist(s, d),
        Similarity.quantCorpus(s, d), Similarity.CellCap)
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", graft.functions.VectorFunctions.vecDot(col("e"), col("e")))
      val m = cells.hint("shuffle_hash")
        .join(v.hint("shuffle_hash"), Seq("vec_id"))
      val dropped = m.as("a").hint("shuffle_hash")
        .join(m.as("b").hint("shuffle_hash"),
          col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id") &&
          // b outranks a: strictly closer to the centroid, tie min id.
          (col("b.d2") < col("a.d2") ||
            (col("b.d2") === col("a.d2") && col("b.vec_id") < col("a.vec_id"))))
        .filter(round(graft.functions.VectorFunctions.vecDot(col("a.e"), col("b.e"))
          / sqrt(col("a.nrm") * col("b.nrm")), 6) >= 0.4)
        .select(col("a.vec_id").as("vec_id")).distinct()
      cells.hint("shuffle_hash")
        .join(dropped.hint("shuffle_hash"), Seq("vec_id"), "left_anti")
        .select(col("cid"), col("vec_id"), col("d2"))
    }),

    // -- CURATION FUNNEL AUDIT — "where did my data go", the #1
    //    debugging question a curation run answers before anything else
    //    ships: every document attributed to the FIRST pl05 gate that
    //    rejects it (boilerplate_only → low_quality → duplicate → kept),
    //    rolled up per (lang, stage). Same per-doc relation as pl05
    //    ([[webScored]]; each query materializes its own, nothing carries
    //    over between a pl05 and a pl08 run), so the funnel costs ONE
    //    extra aggregation over it, not a re-run of its stages; the canonical flag
    //    rides a doc_id-keyed shuffle-hash join (corpus fraction, pl03's
    //    rule). The stages partition the corpus: sum(n_docs) over the
    //    funnel == count(documents), which the spec pins.
    "pl08_funnel_audit" -> ((s, d) => {
      val scored = webScored(s, d)
      val pass = scored.filter(col("q") >= 0.5)
        .withColumn("ck", md5(col("txt")))
      val canon = pass.groupBy(col("ck")).agg(min(col("doc_id")).as("canon_id"))
      val canonical = pass.hint("shuffle_hash")
        .join(canon.hint("shuffle_hash"), "ck")
        .select(col("doc_id"), col("canon_id"))
      scored.hint("shuffle_hash")
        .join(canonical.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("lang"),
          when(col("n_kept") === 0, "boilerplate_only")
            .when(col("q") < 0.5, "low_quality")
            .when(col("doc_id") =!= col("canon_id"), "duplicate")
            .otherwise("kept").as("stage"))
        .groupBy(col("lang"), col("stage"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // -- PROVENANCE LEDGER — the per-document lineage relation a
    //    compliance review (or a takedown impact analysis) asks for:
    //    WHY did this doc ship (funnel stage + its content-key
    //    canonical), WHOSE near-dup cluster does it belong to (dd09's
    //    resolved labels — the takedown blast radius), WHERE does it
    //    train (ta08's split), and is it benchmark-tainted (dd08's
    //    shared-gram count). Nothing is recomputed: the funnel shares
    //    webScored's relation, clusters/grams come from the staged
    //    write-once artifacts, and every join is doc_id-keyed
    //    shuffle-hash (corpus-vs-corpus, never broadcast). One wide
    //    audit row per document — the table that answers "show me
    //    every reason this doc is (not) in the training set".
    "pl14_provenance" -> ((s, d) => {
      val scored = webScored(s, d)
      val pass = scored.filter(col("q") >= 0.5)
        .withColumn("ck", md5(col("txt")))
      val canon = pass.groupBy(col("ck")).agg(min(col("doc_id")).as("canon_id"))
      val webCanon = pass.hint("shuffle_hash")
        .join(canon.hint("shuffle_hash"), "ck")
        .select(col("doc_id"), col("canon_id"))
      val clusters = Dedup.stagedClusters(s, d)
      val contamination = Dedup.queries("dd08_contamination")(s, d)
      scored.hint("shuffle_hash")
        .join(webCanon.hint("shuffle_hash"), Seq("doc_id"), "left")
        .join(clusters.hint("shuffle_hash"), Seq("doc_id"), "left")
        .join(contamination.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("n_kept") === 0, "boilerplate_only")
            .when(col("q") < 0.5, "low_quality")
            .when(col("doc_id") =!= col("canon_id"), "duplicate")
            .otherwise("kept").as("stage"),
          coalesce(col("canon_id"), col("doc_id")).as("content_canon"),
          coalesce(col("canonical_id"), col("doc_id")).as("cluster_canon"),
          TextAnalysis.splitCol.as("split"),
          (pmod(col("doc_id"), lit(10L)) === 0).as("bench_member"),
          coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
    }),

    // -- pl16: the VECTOR/BLOB provenance leg pl14 lacked — one lineage
    //    row per vector, derived from the DELETE-LIFECYCLE ARTIFACTS
    //    themselves (never the source predicates): index cell, text
    //    pairing, ss15's post-compaction survival + tombstone-ledger
    //    membership, st38's streaming-delete survival, the perceptual
    //    cluster canonical of the paired blob (mm11's component
    //    labels), and mm12 takedown-manifest membership — so a
    //    takedown impact analysis is ONE query across modalities
    //    (text via pl14, vector/blob via this). All joins are
    //    id-keyed corpus-vs-corpus → shuffle-hash, never broadcast.
    //    The oracle recomputes each flag from the tables (the delete
    //    predicates, the recursive cluster closure) — artifact truth
    //    must converge to source truth.
    "pl16_provenance_vec" -> ((s, d) => {
      val del = Similarity.ivfDeleted(s, d)
      val (live38, _) = graft.streaming.Streams.st38StreamRun(s, d)
      val vecs = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val docs = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("hd", lit(1))
      val inLive = s.read.parquet(del.live).select(col("vec_id")).distinct()
        .withColumn("il", lit(1))
      val tombed = s.read.parquet(del.tomb).select(col("vec_id")).distinct()
        .withColumn("tb", lit(1))
      val in38 = s.read.parquet(live38).select(col("vec_id")).distinct()
        .withColumn("i38", lit(1))
      val clusters = Multimodal.stagedPhashClusters(s, d)
        .select(col("doc_id").as("vec_id"), col("canonical_id"))
      val manifest = Multimodal.queries("mm12_takedown_propagation")(s, d)
        .select(col("doc_id").as("vec_id")).withColumn("td", lit(1))
      vecs.hint("shuffle_hash")
        .join(docs.withColumnRenamed("doc_id", "vec_id")
          .hint("shuffle_hash"), Seq("vec_id"), "left")
        .join(inLive.hint("shuffle_hash"), Seq("vec_id"), "left")
        .join(tombed.hint("shuffle_hash"), Seq("vec_id"), "left")
        .join(in38.hint("shuffle_hash"), Seq("vec_id"), "left")
        .join(clusters.hint("shuffle_hash"), Seq("vec_id"), "left")
        .join(manifest.hint("shuffle_hash"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          col("hd").isNotNull.as("has_doc"),
          col("il").isNotNull.as("in_live_index"),
          col("tb").isNotNull.as("tombstoned"),
          col("i38").isNull.as("st38_deleted"),
          when(col("hd").isNotNull,
            coalesce(col("canonical_id"), col("vec_id")))
            .as("blob_cluster_canon"),
          (col("hd").isNotNull && col("td").isNotNull).as("takedown_member"))
    })
  )

  /** pl07's per-batch stage, extracted pure (ragAssemble's discipline)
    * so the streaming leg (st30) samples each micro-batch with the same
    * arithmetic: quantize the ARRIVING embedding rows in-row (quantVecs'
    * exact transform), argmin against the broadcast centroid model,
    * flag quality back from the STAGED corpus relation — here the
    * batch-derived side broadcasts, which is the RIGHT shape in this
    * leg: it is bounded by micro-batch size, never corpus-sized (the
    * inverse of pl07's corpus-vs-corpus shuffle-hash) — and keep the
    * batch-local per-cell top-5 through the same native bounded-heap
    * operator. Per-cell top-5 of a union ⊆ union of per-batch top-5s,
    * so merge-on-read (distinct to absorb replays, then the same
    * operator) reproduces pl07's batch answer under any split. */
  private[graft] def diversePartial(batch: DataFrame, ctr: DataFrame,
      qual: DataFrame): DataFrame = {
    val q = batch.select(col("vec_id"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000, 0) as bigint))")
        .as("v"))
    val cells = q.crossJoin(broadcast(ctr))
      .select(col("vec_id"), col("cid"),
        expr("aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
          .as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    // Staged quality artifact PRUNED to the batch's doc_id buckets
    // (static routing over its bkt partition column) before the
    // broadcast probe — per trigger the artifact read is O(touched
    // buckets), never a full corpus-relation scan.
    val qualPruned = graft.sources.Scratch.routeBuckets(qual, "bkt",
      batch.select(pmod(col("vec_id"),
        lit(graft.sources.Scratch.ServeBuckets.toLong)).cast("int")))
    val cand = broadcast(cells)
      .join(qualPruned, cells("vec_id") === qualPruned("doc_id"))
      .select(col("cid"), col("doc_id"), col("quality"))
    graft.plans.TopK.topKPerGroup(cand,
      keys = Seq(col("cid")),
      order = Seq(col("quality").desc, col("doc_id").asc),
      k = 5)
  }

  /** pl06's budget packing + assembly over a retrieved (query_id,
    * neighbor_id, rnk) relation — extracted pure (subwordsPartial's
    * discipline) so the streaming serving leg (st28) assembles each
    * micro-batch's queries with the SAME plan fragment. A query's top-k
    * is self-contained (static index + static docs), so batch
    * boundaries cannot change any query's context row. */
  private[graft] def ragAssemble(
      topk: DataFrame, docTokens: DataFrame, docText: DataFrame): DataFrame =
    ragPack(topk
      .join(docTokens.hint("shuffle_hash"), Seq("neighbor_id"))
      .join(docText.hint("shuffle_hash"), Seq("neighbor_id")))

  /** pl06's budget packing over a RESOLVED (query_id, rnk, n_subwords,
    * text) relation — the tail both the batch leg (shuffle-hash
    * resolves: retrieved side is a corpus fraction at batch volume) and
    * the streaming leg ([[ragAssembleLocal]]: broadcast probes into
    * pruned artifact scans) share, so the two cannot drift. */
  private def ragPack(resolved: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("rnk"))
    resolved
      .withColumn("cum_tokens", sum(col("n_subwords")).over(w))
      // 230 = the fixture-scale model-token budget, sized so the cut
      // BINDS on some queries and not others at every SF (the spec
      // pins that it actually truncates); round 8's deeper BPE merges
      // shrank per-doc subword counts, which is why this is not 400.
      .filter(col("cum_tokens") <= 230 || col("rnk") === 1)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ctx_docs"),
        sum(col("n_subwords")).as("n_ctx_tokens"),
        expr("""md5(array_join(transform(
                  array_sort(collect_list(struct(rnk, text))),
                  x -> x.text), ' '))""").as("ctx_md5"))
  }

  /** st28's per-micro-batch assembly — the SERVING inversion of
    * [[ragAssemble]]'s join direction (diversePartial's rule): the topk
    * probe is batch-bounded (queries × k rows), so it BROADCASTS into
    * the ONE staged lookup artifact ([[stagedDocServe]]: doc_id →
    * (n_subwords, text), bucket-partitioned by doc_id), PRUNED to the
    * buckets the batch's neighbor ids touch (static routing, st22's
    * discipline). Per trigger this plan exchanges NOTHING corpus-sized
    * (the batch leg's shuffle-hash resolves would re-exchange
    * corpus-scale artifacts every micro-batch — the round-7 verdict's
    * scale-killer); the only exchange is the window's query_id shuffle
    * of the batch-bounded resolved rows. Same [[ragPack]] tail, so
    * stream ≡ batch. */
  private[graft] def ragAssembleLocal(
      topk: DataFrame, docServe: DataFrame): DataFrame = {
    // The probe is referenced twice per trigger (bucket-routing collect
    // + the broadcast build); uncached, each reference re-runs the
    // upstream IVF probe — measured 2.6× on st28's trigger time. It is
    // batch-bounded (queries × k rows) by construction, so materializing
    // it is a few KB per trigger, released with the returned frame.
    val cached = CatalystBridge.materialized(topk)
    val bkts = cached
      .select(pmod(col("neighbor_id"), lit(B.toLong)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned =
      if (bkts.isEmpty) docServe.filter(lit(false))
      else docServe.filter(col("bkt").isin(bkts: _*))
    val rows = ragPack(pruned
      .select(col("doc_id").as("neighbor_id"), col("n_subwords"), col("text"))
      .join(broadcast(cached), Seq("neighbor_id")))
    rows
  }

  /** pl05's injected markup constants — shared verbatim by the oracle
    * builder so both engines wrap identically. */
  private val p5Nav = """<div class="nav"><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></div>"""
  private val p5Ad = """<div class="ad">buy now <a href="/shop">click here for great deals</a></div>"""
  private val p5Footer = """<div class="footer"><a href="/terms">terms of service</a> | <a href="/privacy">privacy policy</a></div>"""
  private val p5Boiler1 = "subscribe to our newsletter today"
  private val p5Boiler2 = "all rights reserved by the site owner"

  /** Stage 1+2 of pl05: wrap each doc in markup (ta28's layout plus the
    * two plain-text boilerplate paragraphs) and extract the text blocks
    * that clear the density/link gates — (doc_id, lang, blocks), one
    * narrow codegen'd pass. */
  private def webBlocks(s: SparkSession, d: String): DataFrame =
    webBlocksOf(Tables.documents(s, d))

  /** The markup wrap + extraction over any documents-shaped relation —
    * row-pure, so the streaming leg (st32) runs it per micro-batch. */
  private[graft] def webBlocksOf(docs: DataFrame): DataFrame = {
    val toks = "filter(split(text, ' '), x -> x <> '')"
    docs
      .select(col("doc_id"), col("lang"), expr(toks).as("tk"))
      .withColumn("half", expr("cast(ceil(size(tk) / 2.0) as int)"))
      .withColumn("p1", expr("concat_ws(' ', slice(tk, 1, half))"))
      .withColumn("p2",
        expr("concat_ws(' ', slice(tk, half + 1, greatest(size(tk) - half, 0)))"))
      .withColumn("html", concat_ws("\n",
        concat(lit("<html><head><title>document "),
          col("doc_id").cast("string"), lit("</title></head><body>")),
        lit(p5Nav),
        lit(s"<p>$p5Boiler1</p>"),
        concat(lit("<p>"), col("p1"), lit("</p>")),
        lit(p5Ad),
        concat(lit("<p>"), col("p2"), lit("</p>")),
        lit(s"<p>$p5Boiler2</p>"),
        lit(p5Footer),
        lit("</body></html>")))
      .select(col("doc_id"), col("lang"), expr(
        """transform(filter(transform(split(html, '\n'), b -> struct(
             regexp_replace(b, '<[^>]*>', '') AS txt,
             length(b) AS raw_len,
             aggregate(regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1),
               0, (a, x) -> a + length(x)) AS link_len)),
           s -> 2 * length(s.txt) >= s.raw_len AND 2 * s.link_len <= length(s.txt)),
           s -> s.txt)""").as("blocks"))
  }

  /** (doc_id, idx, bh) — each extracted block's position + 60-bit hash. */
  private[graft] def bhOf(blocksDf: DataFrame): DataFrame =
    blocksDf
      .select(col("doc_id"), posexplode(col("blocks")).as(Seq("idx", "blk")))
      .select(col("doc_id"), col("idx"),
        expr("cast(conv(substring(md5(blk), 1, 15), 16, 10) as bigint)").as("bh"))

  /** ta27's drop rule over block hashes: every bh appearing in ≥ minDf
    * distinct documents (3 = C4's rule, the pl05/pl08 default; pl11's
    * incremental snapshot runs ≥ 2 — the fixture's duplication
    * density). */
  private[graft] def dropSetOf(bh: DataFrame, minDf: Int = 3): DataFrame =
    bh.select(col("doc_id"), col("bh")).distinct()
      .groupBy(col("bh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("bh"))

  /** Reassembly + quality over blocks with a kept-index relation —
    * the tail shared by the batch (webScored) and streaming
    * (funnelPartial) legs. `batchLocal`: in the streaming leg both
    * sides are micro-batch-bounded, so the kept relation BROADCASTS
    * (no per-trigger exchange); in the batch leg both are corpus-sized
    * → shuffle hash (pl05's plan-spec-pinned discipline). */
  private[graft] def cleanedScoredOf(blocksDf: DataFrame, kept: DataFrame,
      batchLocal: Boolean = false): DataFrame = {
    val cleaned = (if (batchLocal) blocksDf.join(broadcast(kept), Seq("doc_id"), "left")
      else blocksDf.hint("shuffle_hash")
        .join(kept.hint("shuffle_hash"), Seq("doc_id"), "left"))
      .withColumn("ki",
        coalesce(col("kept_idx"), expr("cast(array() as array<int>)")))
      .select(col("doc_id"), col("lang"),
        size(col("blocks")).as("n_blocks"),
        size(col("ki")).as("n_kept"),
        concat_ws(" ", expr(
          "transform(blocks, (x, i) -> IF(array_contains(ki, i), x, NULL))"))
          .as("txt"))
    // ta03's quality formula over the CLEANED text, in-row.
    cleaned
      .withColumn("n", expr("size(filter(split(txt, ' '), x -> x <> ''))").cast("double"))
      .withColumn("u", expr("size(array_distinct(filter(split(txt, ' '), x -> x <> '')))").cast("double"))
      .withColumn("q",
        when(col("n") > 0, round(
          least(col("n") / 100d, lit(1d)) * 0.5 + (col("u") / col("n")) * 0.5, 6))
          .otherwise(0d))
  }

  /** Stages 1–3 of pl05 per DOCUMENT — extraction (webBlocks), paragraph
    * corpus-dedup, and the in-row quality score — shared by pl05 (the
    * shard audit) and pl08 (the funnel attribution). One relation:
    * (doc_id, lang, n_blocks, n_kept, txt, n, u, q). */
  private[graft] def webScored(s: SparkSession, d: String): DataFrame = {
    // The markup extraction (regex strip + link-density gates) is the
    // pipeline's expensive pass and its consumers reference the blocks
    // relation from MULTIPLE subtrees (bh twice, the reassembly once;
    // pl05/pl08/pl14 then reference the scored relation 2-3× more).
    // Catalyst does not dedupe common subplans (the r13 plan dumps show
    // zero ReusedExchange here), so unmaterialized, the extraction ran
    // ~4-5× per query. CatalystBridge.materialized computes each stage
    // ONCE per query (the pipes Forker: one output, N readers) and keeps
    // lineage; its subplan, the bh-keyed dedup join included, prints
    // inside every consumer's InMemoryTableScan, and its blocks are
    // released once the query's frames are unreachable. No CacheManager
    // entry: each query (pl05, pl08, pl14) materializes its own.
    val blocksDf = CatalystBridge.materialized(webBlocks(s, d))
    val bh = bhOf(blocksDf)
    val kept = bh.hint("shuffle_hash")
      .join(dropSetOf(bh).hint("shuffle_hash"), Seq("bh"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("kept_idx"))
    CatalystBridge.materialized(cleanedScoredOf(blocksDf, kept))
  }

  /** Serving-artifact bucket width (Scratch.ServeBuckets). Every staged
    * relation a per-trigger probe touches is PARTITIONED by a key-
    * derived bucket so the probe prunes to its keys' directories —
    * unpartitioned, each trigger would scan the corpus-scale artifact
    * end-to-end (the round-7 verdict's serving-leg finding). */
  private val B = Scratch.ServeBuckets
  /** The funnel's staged paragraph drop set and content-key canonical
    * map — the two corpus-wide relations the streaming funnel leg
    * (st32) probes per micro-batch instead of recomputing per trigger. */
  private[graft] def stagedDropSet(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "funnel_drop", partCols = Seq("bkt"))(
      dropSetOf(bhOf(webBlocks(s, d)))
        .withColumn("bkt", pmod(col("bh"), lit(B)).cast("int")))
  private[graft] def stagedCanon(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "funnel_canon", partCols = Seq("bkt"))(
      webScored(s, d).filter(col("q") >= 0.5)
        .withColumn("ck", md5(col("txt")))
        .groupBy(col("ck")).agg(min(col("doc_id")).as("canon_id"))
        .withColumn("bkt", pmod(hash(col("ck")), lit(B))))

  /** The doc-serving lookup artifact: doc_id → (n_subwords, text) in
    * ONE relation, bucket-partitioned by doc_id — the KV layout st28's
    * per-trigger neighbor resolve prunes into. Splitting stats and
    * text into two artifacts would double the per-trigger scans and
    * broadcast builds (measured: the two-artifact form cost an extra
    * broadcast-build job per trigger); a serving path wants exactly one
    * lookup table. */
  private[graft] def stagedDocServe(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "docserve", partCols = Seq("bkt"))(
      Bpe.docSubwords(s, d).select(col("doc_id"), col("n_subwords"))
        .join(Tables.documents(s, d).select(col("doc_id"), col("text")),
          Seq("doc_id"))
        .withColumn("bkt", pmod(col("doc_id"), lit(B.toLong)).cast("int")))

  /** st32's per-batch funnel attribution against the staged artifacts.
    * Join direction is the serving-leg inversion of pl08's: the staged
    * drop set and canonical map are corpus-derived (never broadcast,
    * never RESHUFFLED per trigger) — instead the batch-derived probe
    * sides broadcast INTO artifact scans (diversePartial's rule: bounded
    * by micro-batch size), and the anti/flag joins then run against the
    * batch-bounded results of those probes. At rest the artifacts are
    * written once; each trigger costs two artifact scans with pushed
    * broadcast probes, zero artifact shuffles. The per-batch plan
    * references the extraction-derived relations several times (bucket
    * routing collects + broadcast builds + the final join) and the
    * markup extraction is the trigger's expensive pass — unshared, it
    * re-ran ~5× per trigger (measured 2.7× on st32's trigger time), so
    * the two batch-bounded intermediates are materialized once per
    * trigger and released with the result. */
  private[graft] def funnelPartial(batch: DataFrame, dropSet: DataFrame,
      canon: DataFrame): DataFrame = {
    // Per-trigger job structure (the r13 verdict's st32 item): the old
    // shape paid 2 routeBuckets COLLECT jobs + 5 broadcast builds per
    // trigger, and the collected bucket lists were embedded as isin()
    // LITERALS — a different plan every trigger, so nothing hit the
    // codegen cache. Now the artifact probes join on (bkt, key) with
    // the batch probe broadcast — the buckets ride the broadcast (and
    // prune via the join itself; Spark's dynamic partition pruning
    // picks up the bkt equi-join where its heuristics allow), the plan
    // is literal-free across triggers, and the drop-hit anti-join runs
    // IN-PLAN as a union/max trick instead of a fifth broadcast build.
    // The EXTRACTION (markup strip + density gates) is the trigger's
    // expensive pass and is referenced from two subtrees → it is the
    // relation materialized for the trigger (the bh hash pass re-derives
    // from it cheaply).
    val blocksDf = CatalystBridge.materialized(webBlocksOf(batch))
    val bh = bhOf(blocksDf)
      .withColumn("bkt", pmod(col("bh"), lit(B)).cast("int"))
    // Which of the batch's block hashes are corpus-boilerplate: batch
    // probe broadcasts INTO the bucketed artifact scan (serving
    // inversion — the artifact is never reshuffled or broadcast).
    val hits = dropSet.join(broadcast(bh), Seq("bkt", "bh"))
      .select(col("doc_id"), col("idx"), lit(1).as("h"))
    // kept = bh MINUS hits, computed in-plan: tag both sides, per
    // (doc, idx) a hit wins, survivors aggregate to the kept index
    // array. Two micro-batch-bounded exchanges inside the main job
    // replace the broadcast(dropped) build + anti-join.
    val kept = bh.select(col("doc_id"), col("idx"), lit(0).as("h"))
      .unionByName(hits)
      .groupBy(col("doc_id"), col("idx"))
      .agg(max(col("h")).as("h"))
      .filter(col("h") === 0)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("kept_idx"))
    val scored = CatalystBridge.materialized(
      cleanedScoredOf(blocksDf, kept, batchLocal = true)
        .withColumn("ck", md5(col("txt"))))
    // Canonical ids for the batch's content keys (a non-passing doc's
    // ck cannot be in the canonical map — identical txt ⇒ identical q
    // on both docs). Same broadcast-probe-into-artifact shape.
    val cf = canon
      .join(broadcast(scored
        .select(col("ck"), pmod(hash(col("ck")), lit(B)).as("bkt")).distinct()),
        Seq("bkt", "ck"))
      .select(col("ck"), col("canon_id"))
    scored.join(broadcast(cf), Seq("ck"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("n_kept") === 0, "boilerplate_only")
          .when(col("q") < 0.5, "low_quality")
          .when(col("doc_id") =!= col("canon_id"), "duplicate")
          .otherwise("kept").as("stage"))
  }

  /** The pl05 per-doc CTE chain (markup wrap, extraction, paragraph
    * dedup, quality score, pass set, canonical map) — shared verbatim
    * by the pl05 and pl08 oracles so the two can never drift; pl11's
    * incremental-snapshot oracle re-derives the same chain at its own
    * drop threshold. */
  private[operators] def p5CtesFor(minDf: Int,
      src: String = "documents"): String = {
    val dtoks = "list_filter(string_split(text, ' '), x -> x <> '')"
    s"""p5h AS (
            SELECT doc_id, lang,
              concat_ws(chr(10),
                concat('<html><head><title>document ', CAST(doc_id AS VARCHAR),
                       '</title></head><body>'),
                '$p5Nav',
                '<p>$p5Boiler1</p>',
                concat('<p>', array_to_string(tk[1:half], ' '), '</p>'),
                '$p5Ad',
                concat('<p>', array_to_string(tk[half+1:len(tk)], ' '), '</p>'),
                '<p>$p5Boiler2</p>',
                '$p5Footer',
                '</body></html>') AS html
            FROM (SELECT doc_id, lang, tk, CAST(ceil(len(tk) / 2.0) AS INT) AS half
                  FROM (SELECT doc_id, lang, $dtoks AS tk FROM $src))),
          p5b AS (
            SELECT doc_id, lang,
              list_transform(list_filter(
                list_transform(string_split(html, chr(10)), b -> struct_pack(
                  txt := regexp_replace(b, '<[^>]*>', '', 'g'),
                  raw_len := length(b),
                  link_len := coalesce(list_aggregate(list_transform(
                    regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1),
                    x -> length(x)), 'sum'), 0))),
                s -> 2 * length(s.txt) >= s.raw_len
                     AND 2 * s.link_len <= length(s.txt)),
                s -> s.txt) AS blocks
            FROM p5h),
          p5x AS (
            SELECT doc_id,
              unnest(range(len(blocks))) AS idx,
              unnest(blocks) AS blk
            FROM p5b),
          p5hh AS (
            SELECT doc_id, idx, blk,
              CAST(concat('0x', substr(md5(blk), 1, 15)) AS BIGINT) AS bh
            FROM p5x),
          p5drop AS (
            SELECT bh FROM (
              SELECT bh, count(DISTINCT doc_id) AS df FROM p5hh GROUP BY bh)
            WHERE df >= $minDf),
          p5k AS (
            SELECT h.doc_id, count(*) AS n_kept,
              string_agg(h.blk, ' ' ORDER BY h.idx) AS txt
            FROM p5hh h LEFT JOIN p5drop f ON h.bh = f.bh
            WHERE f.bh IS NULL GROUP BY h.doc_id),
          p5c AS (
            SELECT b.doc_id, b.lang, len(b.blocks) AS n_blocks,
              coalesce(k.n_kept, 0) AS n_kept, coalesce(k.txt, '') AS txt
            FROM p5b b LEFT JOIN p5k k ON b.doc_id = k.doc_id),
          p5s AS (
            SELECT *, CASE WHEN n > 0 THEN
                round(least(n / 100e0, 1.0e0) * 0.5 + (u / n) * 0.5, 6)
              ELSE 0e0 END AS q
            FROM (SELECT doc_id, lang, n_blocks, n_kept, txt,
                CAST(len(list_filter(string_split(txt, ' '), x -> x <> ''))
                  AS DOUBLE) AS n,
                CAST(len(list_distinct(list_filter(string_split(txt, ' '),
                  x -> x <> ''))) AS DOUBLE) AS u
              FROM p5c)),
          p5p AS (SELECT *, md5(txt) AS ck FROM p5s WHERE q >= 0.5),
          p5canon AS (SELECT ck, min(doc_id) AS canon_id FROM p5p GROUP BY ck)"""
  }

  /** st32's oracle: pl08's per-doc attribution BEFORE the rollup —
    * the streaming funnel emits rows per document, so the oracle does
    * too (same shared CTE chain). [[funnelRowsSqlFor]] generalizes the
    * drop threshold for pl11's incremental-snapshot oracle. */
  private[operators] def funnelRowsSqlFor(minDf: Int,
      src: String = "documents", extraCtes: String = ""): String =
    s"""WITH $extraCtes${p5CtesFor(minDf, src)}
        SELECT s.doc_id, s.lang,
          CASE WHEN s.n_kept = 0 THEN 'boilerplate_only'
               WHEN s.q < 0.5 THEN 'low_quality'
               WHEN s.doc_id <> c.canon_id THEN 'duplicate'
               ELSE 'kept' END AS stage
        FROM p5s s LEFT JOIN p5p p ON s.doc_id = p.doc_id
                   LEFT JOIN p5canon c ON p.ck = c.ck"""
  private[graft] def funnelRowsSql: String = funnelRowsSqlFor(3)

  def oracleSql: Map[String, String] = Map(
    // Composed from the same constants; each stage is the SQL twin of
    // the Spark stage (ta28's gates, ta27's drop rule, ta03's quality
    // formula in-row, dd01's min-id canonical). The per-doc CTE chain
    // (p5h..p5canon) is shared verbatim with pl08's funnel oracle.
    "pl05_web_curation" ->
      s"""WITH ${p5CtesFor(3)},
          p5pr AS (
            SELECT p.lang, count(*) AS n_pass,
              CAST(sum(CASE WHEN p.doc_id = c.canon_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_canonical
            FROM p5p p JOIN p5canon c ON p.ck = c.ck
            GROUP BY p.lang)
          SELECT c.lang, count(*) AS n_docs,
            CAST(sum(c.n_blocks) AS BIGINT) AS n_blocks,
            CAST(sum(c.n_kept) AS BIGINT) AS n_kept_blocks,
            CAST(coalesce(any_value(r.n_pass), 0) AS BIGINT) AS n_pass,
            CAST(coalesce(any_value(r.n_canonical), 0) AS BIGINT) AS n_canonical
          FROM p5c c LEFT JOIN p5pr r ON c.lang = r.lang
          GROUP BY c.lang""",

    // pl08: the same per-doc chain, attributed to the first failing gate.
    "pl08_funnel_audit" ->
      s"""WITH ${p5CtesFor(3)}
          SELECT lang, stage, count(*) AS n_docs FROM (
            SELECT s.lang,
              CASE WHEN s.n_kept = 0 THEN 'boilerplate_only'
                   WHEN s.q < 0.5 THEN 'low_quality'
                   WHEN s.doc_id <> c.canon_id THEN 'duplicate'
                   ELSE 'kept' END AS stage
            FROM p5s s LEFT JOIN p5p p ON s.doc_id = p.doc_id
                       LEFT JOIN p5canon c ON p.ck = c.ck)
          GROUP BY lang, stage""",


    // pl14: the funnel CTEs + the dd09/dd08 sub-oracles composed as
    // subqueries (pl01's discipline) — stage, content canonical,
    // cluster canonical, split, and contamination in one per-doc row.
    "pl14_provenance" -> {
      val cont = Dedup.oracleSql("dd08_contamination")
      val canon = Dedup.oracleSql("dd09_dedup_clusters")
      s"""WITH ${p5CtesFor(3)},
          pl14_cont AS (SELECT doc_id, n_shared_grams FROM ($cont)),
          pl14_lbl AS (SELECT doc_id, canonical_id FROM ($canon))
          SELECT s.doc_id, s.lang,
            CASE WHEN s.n_kept = 0 THEN 'boilerplate_only'
                 WHEN s.q < 0.5 THEN 'low_quality'
                 WHEN s.doc_id <> c.canon_id THEN 'duplicate'
                 ELSE 'kept' END AS stage,
            CAST(coalesce(c.canon_id, s.doc_id) AS BIGINT) AS content_canon,
            CAST(coalesce(l.canonical_id, s.doc_id) AS BIGINT) AS cluster_canon,
            ${TextAnalysis.dbSplitCase("s.doc_id")} AS split,
            (s.doc_id % 10 = 0) AS bench_member,
            CAST(coalesce(ct.n_shared_grams, 0) AS BIGINT) AS n_shared_grams
          FROM p5s s
          LEFT JOIN p5p p ON s.doc_id = p.doc_id
          LEFT JOIN p5canon c ON p.ck = c.ck
          LEFT JOIN pl14_lbl l ON s.doc_id = l.doc_id
          LEFT JOIN pl14_cont ct ON s.doc_id = ct.doc_id"""
    },

    // pl16: every artifact-derived flag recomputed from the TABLES —
    // ss15's tombstone predicate (vec_id % 7 = 3 in cells < 5, the
    // Similarity.ivfDeleted constants), st38's streamed delete set
    // (vec_id % 16 ∈ {5, 9} — the st38TombFeed batches), the
    // perceptual-cluster canonical via the same recursive closure as
    // mm11/mm12, and manifest membership via mm12's seed∪closure.
    "pl16_provenance_vec" ->
      s"""WITH RECURSIVE p16pairs AS (${Multimodal.mm9BrutePairsSql}),
          p16edges AS (SELECT doc_a AS src, doc_b AS dst FROM p16pairs
                       UNION ALL
                       SELECT doc_b, doc_a FROM p16pairs),
          p16verts AS (SELECT DISTINCT src AS id FROM p16edges),
          p16reach(id, r) AS (
            SELECT id, id FROM p16verts
            UNION
            SELECT p16edges.src, p16reach.r
            FROM p16edges JOIN p16reach ON p16reach.id = p16edges.dst),
          p16lbl AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT)
                       AS canonical_id
                     FROM p16reach GROUP BY id),
          p16seeds AS (SELECT doc_id FROM documents
                       WHERE doc_id % ${Multimodal.TakedownSeedMod}
                         = ${Multimodal.TakedownSeedRem}),
          p16sc AS (SELECT DISTINCT l.canonical_id
                    FROM p16lbl l JOIN p16seeds s ON l.doc_id = s.doc_id),
          p16man AS (
            SELECT DISTINCT doc_id FROM (
              SELECT l.doc_id FROM p16lbl l
              JOIN p16sc c ON l.canonical_id = c.canonical_id
              UNION
              SELECT doc_id FROM p16seeds))
          SELECT e.vec_id, e.label,
            d.doc_id IS NOT NULL AS has_doc,
            NOT (e.vec_id % 7 = 3 AND e.label < 5) AS in_live_index,
            (e.vec_id % 7 = 3 AND e.label < 5) AS tombstoned,
            e.vec_id % 16 IN (5, 9) AS st38_deleted,
            CASE WHEN d.doc_id IS NOT NULL
                 THEN CAST(coalesce(l.canonical_id, d.doc_id) AS BIGINT)
            END AS blob_cluster_canon,
            (d.doc_id IS NOT NULL AND m.doc_id IS NOT NULL)
              AS takedown_member
          FROM embeddings e
          LEFT JOIN documents d ON e.vec_id = d.doc_id
          LEFT JOIN p16lbl l ON d.doc_id = l.doc_id
          LEFT JOIN p16man m ON d.doc_id = m.doc_id""",

    // Composed from the same stages' oracle SQL (public maps) — outer
    // CTE names are pl_-prefixed to avoid capture of the sub-oracles'
    // inner CTE names.
    "pl01_curation" -> {
      val lang = TextAnalysis.oracleSql("ta02_lang_id")
      val qual = TextAnalysis.oracleSql("ta03_quality_score")
      val cont = Dedup.oracleSql("dd08_contamination")
      val canon = Dedup.oracleSql("dd09_dedup_clusters")
      s"""WITH pl_lang AS (SELECT doc_id, pred_lang FROM ($lang)),
          pl_qual AS (SELECT doc_id, quality FROM ($qual)),
          pl_cont AS (SELECT doc_id FROM ($cont)),
          pl_canon AS (SELECT doc_id, canonical_id FROM ($canon))
          SELECT d.doc_id, pl_lang.pred_lang, pl_qual.quality
          FROM documents d
          JOIN pl_lang ON pl_lang.doc_id = d.doc_id
          JOIN pl_qual ON pl_qual.doc_id = d.doc_id
          WHERE pl_lang.pred_lang IN ('en', 'mixed') AND pl_qual.quality >= 0.5
            AND d.doc_id NOT IN (SELECT doc_id FROM pl_cont)
            AND (d.doc_id NOT IN (SELECT doc_id FROM pl_canon)
                 OR EXISTS (SELECT 1 FROM pl_canon pc
                            WHERE pc.doc_id = d.doc_id
                              AND pc.canonical_id = d.doc_id))"""
    },
    "pl03_train_emission" -> {
      val qual = TextAnalysis.oracleSql("ta03_quality_score")
      val toks = TextAnalysis.oracleSql("ta01_token_stats")
      val canon = Dedup.oracleSql("dd09_dedup_clusters")
      val kept = Dedup.oracleSql("dd16_keep_best")
      s"""WITH pl3_qual AS (SELECT doc_id, quality FROM ($qual)),
          pl3_tok AS (SELECT doc_id, n_tokens FROM ($toks)),
          pl3_canon AS (SELECT doc_id FROM ($canon)),
          pl3_kept AS (SELECT kept_doc_id AS doc_id FROM ($kept)),
          pl3_base AS (
            SELECT d.doc_id, d.lang, t.n_tokens,
              ${TextAnalysis.dbSplitCase("d.doc_id")} AS split
            FROM documents d
            JOIN pl3_tok t ON t.doc_id = d.doc_id
            JOIN pl3_qual q ON q.doc_id = d.doc_id
            WHERE q.quality >= 0.5
              AND (d.doc_id NOT IN (SELECT doc_id FROM pl3_canon)
                   OR d.doc_id IN (SELECT doc_id FROM pl3_kept)))
          SELECT split, lang, count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          FROM pl3_base GROUP BY 1, 2"""
    },
    // Composed from ss02's probe oracle and ta26's BPE encode CTEs —
    // the same artifacts, re-derived in DuckDB.
    "pl06_rag_context" -> {
      val topk = Similarity.dIvfTopk
      s"""${Bpe.withSqlPrefix},
          pl6_topk AS (SELECT query_id, neighbor_id, rnk FROM ($topk)),
          pl6_tok AS (
            SELECT d.doc_id AS neighbor_id,
              CAST(coalesce(b.n_subwords, 0) AS BIGINT) AS n_subwords, d.text
            FROM documents d LEFT JOIN bpe_doc b ON d.doc_id = b.doc_id),
          pl6_j AS (
            SELECT t.query_id, t.rnk, k.n_subwords, k.text,
              sum(k.n_subwords) OVER (PARTITION BY t.query_id ORDER BY t.rnk)
                AS cum
            FROM pl6_topk t JOIN pl6_tok k ON t.neighbor_id = k.neighbor_id),
          pl6_k AS (SELECT * FROM pl6_j WHERE cum <= 230 OR rnk = 1)
          SELECT query_id, count(*) AS n_ctx_docs,
            CAST(sum(n_subwords) AS BIGINT) AS n_ctx_tokens,
            md5(string_agg(text, ' ' ORDER BY rnk)) AS ctx_md5
          FROM pl6_k GROUP BY query_id"""
    },

    // pl09: ta35's copy oracle + the BPE per-doc CTE + the same window
    // position and checksum arithmetic.
    "pl09_epoch_plan" -> {
      val ta35 = TextAnalysis.oracleSql("ta35_epoch_upsample")
      s"""${Bpe.withSqlPrefix},
          pl9_c AS ($ta35),
          pl9_j AS (SELECT c.doc_id, c.copy_idx, c.ord_key,
              CAST(coalesce(b.n_subwords, 0) AS BIGINT) AS n_subwords
            FROM pl9_c c LEFT JOIN bpe_doc b ON c.doc_id = b.doc_id),
          pl9_p AS (SELECT doc_id, copy_idx, ord_key, n_subwords,
              ord_key % 8 AS shard,
              row_number() OVER (PARTITION BY ord_key % 8
                ORDER BY ord_key ASC, doc_id ASC, copy_idx ASC) - 1 AS pos
            FROM pl9_j)
          SELECT shard, count(*) AS n_rows,
            CAST(sum(n_subwords) AS BIGINT) AS n_tokens,
            CAST(sum(((pos + 1) % 1000003) * (kh % 1000003)) AS BIGINT)
              AS order_checksum
          FROM (SELECT *,
              CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                ':', CAST(copy_idx AS VARCHAR), ':k')), 1, 12)) AS BIGINT) AS kh
            FROM pl9_p)
          GROUP BY shard"""
    },

    "pl02_embedding_curation" -> {
      val pairs = Dedup.oracleSql("dd07_embedding_neardup")
      s"""WITH pl2_pairs AS ($pairs),
          pl2_dups AS (SELECT DISTINCT vec_b AS vec_id FROM pl2_pairs)
          SELECT label, count(*) AS n_total,
            CAST(sum(CASE WHEN du.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dups_dropped,
            CAST(count(*) - sum(CASE WHEN du.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept
          FROM embeddings e LEFT JOIN pl2_dups du ON e.vec_id = du.vec_id
          GROUP BY label"""
    },

    // pl10: the same quantization/argmin CTEs as pl07's oracle (keeping
    // the winning distance), dd07's list_dot_product cosine, and the
    // outranked-near-dup drop rule — survivors re-derived wholesale.
    "pl10_semantic_prune" ->
      s"""WITH pXq AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(round(x * 1000, 0) AS BIGINT)) AS v
            FROM embeddings),
          pXc AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv
                  FROM pXq WHERE vec_id < 10),
          pXd AS (
            SELECT q.vec_id, c.cid,
              list_aggregate(list_transform(range(len(q.v)),
                i -> (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])
                   * (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])),
                'sum') AS dist2
            FROM pXq q CROSS JOIN pXc c),
          pXcell AS (
            SELECT vec_id, cid, CAST(dist2 AS BIGINT) AS d2 FROM (
              SELECT vec_id, cid, dist2, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist2 ASC, cid ASC) AS rn
              FROM pXd)
            WHERE rn = 1),
          pXe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          pXm AS (
            SELECT c.vec_id, c.cid, c.d2, e.e
            FROM pXcell c JOIN pXe e ON c.vec_id = e.vec_id),
          pXdrop AS (
            SELECT DISTINCT a.vec_id
            FROM pXm a JOIN pXm b ON a.cid = b.cid AND a.vec_id <> b.vec_id
              AND (b.d2 < a.d2 OR (b.d2 = a.d2 AND b.vec_id < a.vec_id))
            WHERE round(list_dot_product(a.e, b.e)
              / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)),
              6) >= 0.4)
          SELECT cid, vec_id, d2 FROM pXm
          WHERE vec_id NOT IN (SELECT vec_id FROM pXdrop)""",

    // pl07: ss05's integer argmin re-derived (same quantization/tiebreak
    // CTEs as the ss05 oracle), ta03's quality composed verbatim, and
    // the per-cell top-5 as the row_number window twin of the native
    // bounded-heap operator (q43's oracle discipline).
    "pl07_diverse_sample" -> {
      val qual = TextAnalysis.oracleSql("ta03_quality_score")
      s"""WITH p7q AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(round(x * 1000, 0) AS BIGINT)) AS v
            FROM embeddings),
          p7c AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv
                  FROM p7q WHERE vec_id < 10),
          p7d AS (
            SELECT q.vec_id, c.cid,
              list_aggregate(list_transform(range(len(q.v)),
                i -> (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])
                   * (q.v[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])),
                'sum') AS dist2
            FROM p7q q CROSS JOIN p7c c),
          p7cell AS (
            SELECT vec_id, cid FROM (
              SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                ORDER BY dist2 ASC, cid ASC) AS rn
              FROM p7d)
            WHERE rn = 1),
          p7qual AS (SELECT doc_id, quality FROM ($qual)),
          p7cand AS (
            SELECT cell.cid, q.doc_id, q.quality
            FROM p7cell cell JOIN p7qual q ON cell.vec_id = q.doc_id)
          SELECT cid, doc_id, quality FROM (
            SELECT cid, doc_id, quality,
              row_number() OVER (PARTITION BY cid
                ORDER BY quality DESC, doc_id ASC) AS rn
            FROM p7cand)
          WHERE rn <= 5"""
    }
  )
}
