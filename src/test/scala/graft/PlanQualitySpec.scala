package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan assertions — the properties that make these plans
  * survive a 100× scale-up. A correctness-green query with the wrong
  * plan (full scan instead of pushdown, shuffle join instead of
  * broadcast, global sort instead of top-k) is a latent 100 TB outage;
  * these specs pin the plan shape so a regression fails loudly. */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("filter and projection are pushed into the parquet scan (q02)") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("l_shipdate"), "shipdate filter not pushed")
    // Column pruning: the scan must not read l_returnflag etc.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), readSchema)
  }

  test("dimension join is planned as broadcast hash join (q03)") {
    val p = plan("q03_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("sort+limit is planned as TakeOrderedAndProject (q13)") {
    val p = plan("q13_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("GlobalSort"), "global sort would not scale")
  }

  test("aggregations run partial then final (map-side combine, q01)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_"), p.take(2000))
  }

  test("semi/anti joins do not multiply rows (q06/q07)") {
    assert(plan("q06_semi_join").contains("LeftSemi"))
    assert(plan("q07_anti_join").contains("LeftAnti"))
  }

  test("whole-stage codegen covers the relational pipelines (q01)") {
    // AQE shows codegen stages only in the final (executed) plan.
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    df.collect() // materialize THIS queryExecution so AQE finalizes it
    val p = df.queryExecution.executedPlan.toString
    // `*(n)` is the WholeStageCodegen stage marker in the plan string.
    assert(p.contains("isFinalPlan=true") && p.contains("*("), p.take(2000))
  }

  test("similarity query set is broadcast, corpus is not shuffled (ss01)") {
    val p = plan("ss01_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  test("global sort plans as range-partitioned exchange, never one task") {
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      .orderBy(col("o_totalprice").desc)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // ORDER BY without LIMIT must distribute via range partitioning
    // (sampled bounds), then sort within partitions — a SinglePartition
    // exchange would serialize the entire dataset through one task.
    assert(p.contains("rangepartitioning"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("range-frame window shuffles once on the partition key (q52)") {
    val p = plan("q52_range_frame")
    assert(p.contains("Window"), p.take(2000))
    // Exactly one plan-required exchange (the window's partition-key
    // shuffle); Tables.load's fixture repartition (REPARTITION_BY_NUM)
    // is test-scale scaffolding, not part of the operator's plan.
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(exchanges == 1, s"expected exactly 1 required exchange:\n${p.take(2000)}")
  }

  test("chunk dedup hashes before the shuffle — exchange carries md5 (dd10)") {
    val p = plan("dd10_chunk_dedup")
    // The window exchange must partition on the 32-byte chunk hash, not
    // ship chunk text: at corpus scale the shuffle carries keys, not data.
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(ch")), p.take(3000))
  }

  test("k-means assignment broadcasts centroids; corpus scan stays narrow (ss05)") {
    val p = plan("ss05_kmeans_iter")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("AQE splits a skewed join partition at runtime (skew-join)") {
    // The runtime complement to q34's manual salting: one hot key
    // carries ~100× the rows of the others; with the skew thresholds
    // scaled to fixture size, AQE must mark the sort-merge join skewed
    // and split the oversized partition into parallel sub-tasks.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      import spark.implicits._
      val skewed = spark.range(0, 40000)
        .select((when(col("id") % 2 =!= 0, col("id") % 199).otherwise(7L)).as("k"),
          col("id").as("v"))
      val dim = spark.range(0, 199).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = skewed.join(dim, "k")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p.take(1000))
      assert(p.contains("skew=true"), "AQE did not split the skewed partition:\n" + p.take(3000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed join has no exchange on either side (q42)") {
    // q42 writes both tables bucketed on the join key; the join subplan
    // must then contain zero shuffles — the pay-once co-location that
    // makes repeated big-big joins viable at 100 TB. Auto-broadcast is
    // disabled for the assertion: at fixture scale AQE would broadcast
    // the small side, hiding the big-big SortMergeJoin path under test.
    SparkEntry.queries("q42_bucketed_join")(spark, sfDir).collect()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.operators.Advanced.bucketedJoinPlan(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
        "bucketed join should not shuffle:\n" + p.take(2000))
      assert(p.contains("SelectedBucketsCount"), p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("LSH probe reads the persisted index, not the signature pipeline (ss07)") {
    val p = plan("ss07_lsh_index_probe")
    // The probe plan must scan the staged index parquet…
    assert(p.contains("graft_lsh_idx"),
      "probe does not read the persisted index:\n" + p.take(2000))
    // …and must NOT rebuild signatures: the build pipeline's fingerprint
    // is the md5-derived plane weights, absent from probe and re-rank.
    assert(!p.contains("md5"),
      "probe plan recomputes the signature pipeline:\n" + p.take(3000))
  }

  test("IVF probe scans the persisted cell-partitioned index (ss02)") {
    val p = plan("ss02_ivf_topk")
    // The corpus side must come from the staged inverted file (vectors +
    // norms stored per cell), not the live embeddings pipeline.
    assert(p.contains("graft_ivf_idx"),
      "probe does not read the persisted IVF index:\n" + p.take(2000))
  }

  test("PQ probe reads the stored codebook and code relation (ss09)") {
    val p = plan("ss09_pq_topk")
    assert(p.contains("graft_pq_enc") && p.contains("graft_pq_codes"),
      "probe does not read the persisted PQ artifacts:\n" + p.take(2000))
    // No corpus re-encode in the probe: the encode stage's distance
    // attribute (d2) exists only in the build pipeline.
    assert(!p.contains("d2#"),
      "probe plan re-runs the corpus encode:\n" + p.take(3000))
  }

  test("manifest-pinned reads keep planning-time partition pruning (Pinned)") {
    // The Pinned doc claims basePath makes a snapshot-listing read
    // identical to a directory read for pruning — pin it: a bkt filter
    // over the pinned doc-serve artifact must land in PartitionFilters
    // (directory pruning), not as a post-scan filter, and the bkt
    // column must come from the path, not the file schema.
    val docServe = graft.operators.Curation.stagedDocServe(spark, sfDir)
    val p = docServe.filter(org.apache.spark.sql.functions.col("bkt") === 3)
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(pf.contains("bkt"),
      s"bkt not in PartitionFilters of the pinned read [$pf]:\n" + p.take(2000))
    val readSchema = "ReadSchema: (struct<[^>]*>)".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("bkt"),
      s"bkt read from files instead of the path [$readSchema]")
  }

  test("partitioned read prunes to the filtered partition (io04)") {
    val p = plan("io04_partitioned_pruning")
    // The lang filter must be INSIDE the PartitionFilters bracket
    // (directory pruning at planning time) — matching the whole scan
    // line would pass vacuously on the attribute list.
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(pf.contains("lang"),
      s"lang not in PartitionFilters [$pf]:\n" + p.take(2000))
    // ReadSchema is the data read from files; the partition column must
    // come from the directory, so it may not appear there. (The scan
    // line also carries the output attrs — slice out just the schema.)
    val readSchema = "ReadSchema: (struct<[^>]*>)".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("lang"),
      "partition column leaked into the data schema: " + readSchema)
  }

  test("fact scan gets a runtime partition filter from the dim side (io09)") {
    val p = plan("io09_dynamic_pruning")
    // The selective filter is on the dim relation; the fact scan must
    // carry a DynamicPruningSubquery in its PartitionFilters — at scale
    // this is what keeps a star-schema join from scanning every fact
    // partition when the static planner can't prune.
    assert(p.toLowerCase.contains("dynamicpruning"),
      "fact scan has no runtime partition filter:\n" + p.take(3000))
  }

  test("z-score joins broadcast stats; no window sort of the data (q56)") {
    val p = plan("q56_zscore_normalize")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Window"),
      "a partition window would sort the whole table for a 3-number summary")
  }

  test("MAD outlier gate broadcasts both median relations back (q62)") {
    val p = plan("q62_mad_outliers")
    // Two flag-back joins (per-type median, then per-type MAD) — both
    // tiny → both broadcast; the corpus shuffles only into the aggs.
    val n = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(n >= 2, s"expected >=2 broadcast flag-backs, saw $n:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "median flag-back shuffled the corpus:\n" + p.take(2000))
  }

  test("filtered ANN pre-filters corpus side; query set broadcast (ss11)") {
    val p = plan("ss11_filtered_ann")
    // The allowed-id predicate must reach the corpus BEFORE scoring
    // (a semi join below the scoring join), and the ~40-row query set
    // is the broadcast side of the scoring join.
    assert(p.contains("LeftSemi"), "allowed-id filter not a semi join:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "query set not broadcast:\n" + p.take(2000))
  }

  // Registry-wide hygiene: a CartesianProduct anywhere is a latent
  // 100 TB outage (O(n·m) with NO broadcast bound — unlike the
  // deliberate, |Q|-bounded BroadcastNestedLoop in ss01/ss04). Every
  // batch query's physical plan is scanned; streaming queries are
  // skipped (invoking them executes the stream). Queries whose plan
  // CONSTRUCTION executes heavy work — the iterative-graph family's
  // eager localCheckpoints and dd09's full convergence loop — are
  // excluded so this stays a plan-only sweep; each of those is covered
  test("heavy-hitter verify joins broadcast candidates; no domain shuffle (ta18)") {
    val p = plan("ta18_heavy_hitters")
    // pass 2: candidates reach the bigram stream via a broadcast hash
    // join — the exchange after it carries candidate keys only.
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the total joins in as a broadcast nested loop (1 row), never a
    // cartesian product.
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("split-leakage audit never broadcasts a corpus-derived relation (ta21)") {
    val p = plan("ta21_split_leakage")
    // The eval gram set is ~20% of all distinct corpus 8-grams — a
    // multi-TB relation at 100 TB. The gram-probe join must be a shuffle
    // hash join on `gh` (8-byte keys, one exchange per side); any
    // BroadcastHashJoin here besides the final tiny per-split counts
    // would be a driver/executor OOM at scale. The leaky-count subtree
    // joins back on `split` (≤2 rows) — that broadcast is fine, so we
    // assert the gram join specifically: a ShuffledHashJoin on gh exists
    // and no broadcast exchange feeds a join keyed on gh.
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") && l.contains("gh")),
      "gram probe is not a shuffle hash join:\n" + p.take(3000))
    val broadcastOnGh = p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) && l.contains("gh#"))
    assert(!broadcastOnGh, "corpus-derived gram relation is broadcast:\n" + p.take(3000))
  }

  test("io11 COUNT/MIN/MAX are pushed into the parquet scan metadata") {
    val p = plan("io11_agg_pushdown")
    // The DSv2 scan must advertise the pushed aggregates — the scan then
    // answers from footer stats and reads zero data pages.
    assert(p.contains("PushedAggregation"),
      "aggregate not pushed into the scan:\n" + p.take(3000))
    assert(p.contains("COUNT(*)") || p.contains("count(*)"),
      "COUNT(*) missing from pushed aggregation:\n" + p.take(3000))
  }

  test("substring-span dedup never broadcasts the duplicated-gram set (dd18)") {
    val p = plan("dd18_substring_spans")
    // The >1-occurrence gram set is corpus-fraction-sized (every
    // boilerplate gram in the corpus) — ta21's discipline applies: the
    // hit join must be a shuffle hash join on gh, and no broadcast
    // exchange may feed a join keyed on gh. Both branches must scan the
    // STAGED positioned index, not re-derive the gram pipeline.
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") && l.contains("gh")),
      "dup-gram join is not a shuffle hash join:\n" + p.take(3000))
    val broadcastOnGh = p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) && l.contains("gh#"))
    assert(!broadcastOnGh, "duplicated-gram set is broadcast:\n" + p.take(3000))
    assert(p.contains("graft_gram_idx"),
      "dd18 does not scan the staged positioned gram index:\n" + p.take(3000))
  }

  test("curation rollups never broadcast cluster/dup-derived relations (pl02/pl03)") {
    // At real web-corpus dup rates 30-60% of documents sit in near-dup
    // clusters, so the cluster-membership, kept and dropped-id relations
    // are corpus FRACTIONS — a broadcast there is a driver OOM at 100 TB
    // (the exact defect class ta21 was cured of). The survivorship joins
    // must be shuffle hash joins on doc_id/vec_id, and no broadcast
    // exchange may feed a join keyed on them. pl03's dim-sized lang/split
    // rollup and the 1-row doc count may still broadcast — we assert on
    // the keyed joins specifically.
    val p3 = plan("pl03_train_emission")
    assert(p3.linesIterator.exists(l =>
        l.contains("ShuffledHashJoin") && l.contains("doc_id")),
      "pl03 survivorship join is not a shuffle hash join:\n" + p3.take(3000))
    assert(!p3.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          l.contains("doc_id#")),
      "pl03 broadcasts a doc_id-keyed corpus-fraction relation:\n" + p3.take(3000))
    val p2 = plan("pl02_embedding_curation")
    assert(p2.linesIterator.exists(l =>
        l.contains("ShuffledHashJoin") && l.contains("vec_id")),
      "pl02 dup-id join is not a shuffle hash join:\n" + p2.take(3000))
    assert(!p2.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          l.contains("vec_id#")),
      "pl02 broadcasts the vec_id-keyed dropped set:\n" + p2.take(3000))
  }

  test("runtime Bloom filter prunes the fact side below its shuffle (io12)") {
    val df = SparkEntry.queries("io12_runtime_bloom_join")(spark, sfDir)
    df.collect() // AQE: assert on the FINAL executed plan
    val p = df.queryExecution.executedPlan.toString
    // The dim side's filtered keys build a bloom_filter_agg subquery…
    assert(p.contains("bloom_filter_agg"),
      "no runtime bloom filter was injected:\n" + p.take(3000))
    // …whose might_contain probe filters the fact rows BELOW the fact
    // side's exchange (prune before shuffling). The plan tree prints
    // top-down, so the probe Filter line must come AFTER the fact
    // side's hashpartitioning exchange on the join key.
    val lines = p.linesIterator.toVector
    val factExchIdx = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning(l_orderkey"))
    val probeIdx = lines.indexWhere(_.contains("might_contain"))
    assert(probeIdx >= 0, "fact side carries no bloom probe:\n" + p.take(3000))
    assert(factExchIdx >= 0 && probeIdx > factExchIdx,
      "bloom probe is not below the fact-side exchange:\n" + p.take(3000))
  }

  test("native NFC normalization runs inside whole-stage codegen (ta25)") {
    val df = SparkEntry.queries("ta25_unicode_normalize")(spark, sfDir)
    df.collect() // finalize AQE so codegen stage markers appear
    val p = df.queryExecution.executedPlan.toString
    // The expression must sit in a codegen'd Project (`*(n)` marker) —
    // the reason it is an Expression and not a UDF.
    assert(p.linesIterator.exists(l =>
        l.contains("*(") && l.contains("nfc_normalize")),
      "nfc_normalize is not inside a WholeStageCodegen stage:\n" + p.take(2000))
  }

  test("AQE splits the skewed sentinel partition at runtime (io13)") {
    val df = SparkEntry.queries("io13_aqe_skew_join")(spark, sfDir)
    df.collect() // skew re-plan happens at stage boundaries — final plan only
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(p.contains("skew=true"),
      "AQE did not split the skewed join partition:\n" + p.take(3000))
  }

  test("refreshed-IVF probe scans the compacted artifact (ss12)") {
    val p = plan("ss12_ivf_refresh")
    // The probe must read the COMPACTED refreshed index (ivf_rfc), and
    // must not fall back to the write-once artifact or the live
    // embeddings pipeline for the corpus side.
    assert(p.contains("graft_ivf_rfc"),
      "ss12 probe does not read the compacted refreshed index:\n" + p.take(2000))
  }

  test("streaming ANN serve's per-batch plan probes the stored index (st22)") {
    import graft.operators.Similarity
    // st22's foreachBatch body is the extracted ivfServePartial; plan it
    // with a stand-in micro-batch (the raw embeddings relation has the
    // arriving-row schema) against the persisted index.
    val probe = Similarity.ivfServePartial(
      graft.sources.Tables.embeddings(spark, sfDir),
      Similarity.ivfIndex(spark, sfDir))
    val p = probe.queryExecution.executedPlan.toString
    // Corpus side comes from the cell-partitioned artifact…
    assert(p.contains("graft_ivf_idx"),
      "serving probe does not scan the persisted IVF index:\n" + p.take(2000))
    // …with stored norms READ, not recomputed: the index-side scan's
    // schema must include nrm (only the batch-sized query side may
    // compute its own norms).
    val idxScan = p.linesIterator.filter(_.contains("graft_ivf_idx")).mkString
    assert(idxScan.contains("nrm"),
      "index scan does not read the stored norm column:\n" + idxScan.take(1000))
    // …and cell routing prunes it: the batch's label set must appear as
    // a PartitionFilter (planning-time directory pruning — per-batch
    // cost O(touched cells), not O(index)).
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(idxScan).map(_.group(1)).getOrElse("")
    assert(pf.contains("label"),
      s"batch cell set not in the index scan's PartitionFilters [$pf]:\n" +
        idxScan.take(1000))
  }

  // --- Key-partitioned serving artifacts: every per-trigger probe must
  //     PRUNE its staged artifact scan to the batch's key buckets
  //     (PartitionFilters — io04's discipline applied to point lookups).
  //     Unpruned, each trigger reads a corpus-scale relation end-to-end.

  private def scanLine(p: String, dirFragment: String): String = {
    val l = p.linesIterator.filter(_.contains(dirFragment)).mkString(" ")
    assert(l.nonEmpty, s"no scan of $dirFragment in plan:\n" + p.take(3000))
    l
  }
  private def partitionFilters(scan: String): String =
    "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")

  test("st28's per-batch RAG assembly prunes the doc-serve artifact and never exchanges it") {
    import graft.operators.Curation
    // Stand-in batch probe with the (query_id, neighbor_id, rnk) shape.
    val topk = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("query_id"),
        (col("vec_id") + 1).as("neighbor_id"), lit(1).as("rnk"))
      .limit(50)
    val df = Curation.ragAssembleLocal(topk,
      Curation.stagedDocServe(spark, sfDir))
    val p = df.queryExecution.executedPlan.toString
    // The lookup-artifact scan carries the batch's bucket set as a
    // static PartitionFilter (planning-time directory pruning).
    val pf = partitionFilters(scanLine(p, "graft_docserve"))
    assert(pf.contains("bkt"),
      s"docserve scan not bucket-pruned (PartitionFilters [$pf]):\n" + p.take(3000))
    // The probe broadcasts INTO the artifact scans…
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // …so the ONLY row exchange is the window/rollup's query_id shuffle
    // of the batch-bounded resolved rows. A hashpartitioning exchange on
    // anything else would be the batch leg's per-trigger corpus-sized
    // re-shuffle (the round-7 scale-killer this plan retires).
    // (Tables.load's fixture REPARTITION_BY_NUM is test scaffolding —
    // only plan-REQUIRED exchanges count, the q52 spec's rule.)
    val badEx = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        l.contains("ENSURE_REQUIREMENTS") && !l.contains("query_id")).toList
    assert(badEx.isEmpty,
      "corpus-side exchange inside the per-batch plan:\n" + badEx.mkString("\n"))
  }

  test("st32's per-batch funnel prunes the staged drop-set and canonical-map scans") {
    import graft.operators.Curation
    val batch = graft.sources.Tables.documents(spark, sfDir).limit(40)
    val df = Curation.funnelPartial(batch,
      Curation.stagedDropSet(spark, sfDir), Curation.stagedCanon(spark, sfDir))
    val p = df.queryExecution.executedPlan.toString
    for (dir <- Seq("graft_funnel_drop", "graft_funnel_canon")) {
      val pf = partitionFilters(scanLine(p, dir))
      assert(pf.contains("bkt"),
        s"$dir scan not bucket-pruned (PartitionFilters [$pf]):\n" + p.take(3000))
    }
  }

  test("st26's per-batch encode prunes the word-bucketed dict scan") {
    import graft.operators.Bpe
    val batch = graft.sources.Tables.documents(spark, sfDir).limit(40)
    val df = Bpe.subwordsPartial(batch,
      Bpe.bpeDict(spark, sfDir).select(col("word"), col("s"), col("wbkt")),
      batchLocal = true)
    val p = df.queryExecution.executedPlan.toString
    val pf = partitionFilters(scanLine(p, "graft_bpe_dict"))
    assert(pf.contains("wbkt"),
      s"dict scan not word-bucket-pruned (PartitionFilters [$pf]):\n" + p.take(3000))
  }

  test("st30's per-batch sampling prunes the staged quality-artifact scan") {
    import graft.operators.{Curation, Similarity, TextAnalysis}
    val batch = graft.sources.Tables.embeddings(spark, sfDir).limit(40)
    val df = Curation.diversePartial(batch,
      Similarity.kmeansCentroids(spark, sfDir),
      TextAnalysis.stagedQuality(spark, sfDir)
        .select(col("doc_id"), col("quality"), col("bkt")))
    val p = df.queryExecution.executedPlan.toString
    val pf = partitionFilters(scanLine(p, "graft_qual"))
    assert(pf.contains("bkt"),
      s"quality scan not bucket-pruned (PartitionFilters [$pf]):\n" + p.take(3000))
  }

  test("pl11's staged artifact probes are partition-pruned (df buckets, ck/cm shards)") {
    import graft.operators.Incremental
    val audit = Incremental.pl11Run(spark, sfDir)
    // A delta-night-shaped probe of each staged artifact: the filters a
    // night applies must land as planning-time PartitionFilters, so a
    // night reads O(touched buckets / affected shards), never a ledger.
    val df1 = spark.read.parquet(audit.dirs.df).filter(col("bhbkt").isin(1, 3))
    val pf1 = partitionFilters(scanLine(
      df1.queryExecution.executedPlan.toString, "/df"))
    assert(pf1.contains("bhbkt"), s"df scan not bucket-pruned: [$pf1]")
    val ck1 = spark.read.parquet(audit.dirs.ck).filter(col("part").isin(2, 5))
    val pfCk = partitionFilters(scanLine(
      ck1.queryExecution.executedPlan.toString, "/ck"))
    assert(pfCk.contains("part"), s"ck scan not shard-pruned: [$pfCk]")
    val cm1 = spark.read.parquet(audit.dirs.cm)
      .filter(col("ckbkt").isin(1, 3) && !col("part").isin(2))
    val pfCm = partitionFilters(scanLine(
      cm1.queryExecution.executedPlan.toString, "/cm"))
    assert(pfCm.contains("ckbkt") && pfCm.contains("part"),
      s"cm scan not bucket+shard-pruned: [$pfCm]")
  }

  test("boilerplate flag-back joins the frequent-gram set by shuffle, not broadcast (ta10)") {
    // The frequent-gram set is corpus-derived (every template gram in a
    // web corpus clears df >= 3) — same class as dd18's duplicated-gram
    // set: shuffle hash join on gh, no broadcast exchange on the key.
    val p = plan("ta10_boilerplate")
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") && l.contains("gh")),
      "ta10 flag-back is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          l.contains("gh#")),
      "ta10 broadcasts the corpus-derived frequent-gram set:\n" + p.take(3000))
  }

  test("OOV scoring joins the vocabulary by shuffle, not broadcast (ta17)") {
    // The vocabulary is corpus-derived (Heaps-law growth; a frequency
    // cutoff thins the tail but the kept head still scales with the
    // corpus) — ta05's df-relation discipline applies to the anti join.
    val p = plan("ta17_vocab_oov")
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") && l.contains("tok")),
      "ta17 vocab flag-back is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          l.contains("tok#")),
      "ta17 broadcasts the corpus-derived vocabulary:\n" + p.take(3000))
  }

  test("BPE encode joins the trained dictionary by shuffle, not broadcast (ta26)") {
    // The dictionary is the corpus vocabulary (Heaps-law growth) and the
    // per-doc relation is corpus-sized — both joins must shuffle.
    val p = plan("ta26_bpe_tokenize")
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") && l.contains("word")),
      "ta26 dict join is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          (l.contains("word#") || l.contains("doc_id#"))),
      "ta26 broadcasts a corpus-derived relation:\n" + p.take(3000))
  }

  test("round-trip audit joins the dictionary by shuffle, not broadcast (ta33)") {
    // Same relation classes as ta26: vocab-sized dict (Heaps-law) and
    // a corpus-sized per-doc completion join — both must shuffle.
    val p = plan("ta33_bpe_roundtrip")
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") && l.contains("word")),
      "ta33 dict join is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          (l.contains("word#") || l.contains("doc_id#"))),
      "ta33 broadcasts a corpus-derived relation:\n" + p.take(3000))
  }

  test("pl07 selects through the native bounded-heap operator over shuffled joins") {
    val p = plan("pl07_diverse_sample")
    // Selection must be the native TopKPerGroup physical operator, not
    // a window sort (10 cells → a window would sort the corpus in ~10
    // skewed partitions).
    assert(p.contains("TopKPerGroup"),
      "pl07 does not use the native top-k operator:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("quality")),
      "pl07 fell back to a window sort for selection:\n" + p.take(3000))
    // The cells/quality join is corpus-sized on both sides.
    assert(p.linesIterator.exists(l =>
        l.contains("ShuffledHashJoin") && l.contains("doc_id")),
      "pl07 quality join is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          l.contains("doc_id#")),
      "pl07 broadcasts a corpus-derived relation:\n" + p.take(3000))
  }

  test("line dedup's hash exchanges never carry line text (ta27)") {
    val p = plan("ta27_line_dedup")
    // Both the df branch and the reassembly branch read the STAGED
    // positioned line-hash index — (doc_id, idx, lh) only; line text
    // exists nowhere above it until the final doc_id-keyed rewrite join
    // re-derives lines in-row from the original documents.
    assert(p.contains("graft_line_idx"),
      "ta27 does not scan the staged line-hash index:\n" + p.take(3000))
    val idxScans = p.linesIterator.filter(_.contains("graft_line_idx")).mkString("\n")
    assert(!idxScans.contains("line#") && !idxScans.contains("lines#"),
      "staged line index scan carries line text:\n" + idxScans.take(1000))
    // The drop-set anti join is lh-keyed shuffle hash, never broadcast.
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") && l.contains("lh")),
      "ta27 drop-set join is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          l.contains("lh#")),
      "ta27 broadcasts the corpus-derived drop set:\n" + p.take(3000))
  }

  test("web curation shuffles its dedup relations, never broadcasts them (pl05)") {
    // The block-hash drop set, the kept-index relation and the
    // content-key canonical relation are all corpus-derived.
    val p = plan("pl05_web_curation")
    assert(p.linesIterator.exists(l => l.contains("ShuffledHashJoin") && l.contains("bh")),
      "pl05 block-dedup join is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          (l.contains("bh#") || l.contains("ck#") || l.contains("doc_id#"))),
      "pl05 broadcasts a corpus-derived relation:\n" + p.take(3000))
  }

  test("SimHash fingerprints fold once, never below the loader's repartition (dd06)") {
    import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
    // Every node of the final plan, through AQE stages, reused exchanges,
    // subqueries and materialized relations.
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case o => (o.children ++ o.subqueries).flatMap(nodes)
    })
    val df = SparkEntry.queries("dd06_simhash_pairs")(spark, sfDir)
    df.collect()
    val loaderShuffles = nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    assert(loaderShuffles.nonEmpty, "no loader repartition in dd06's plan")
    val folds = loaderShuffles.flatMap(e => nodes(e.child)).filter(
      _.expressions.exists(_.find(_.isInstanceOf[ArrayAggregate]).isDefined))
    assert(folds.isEmpty,
      "dd06 evaluates the SimHash fold below the loader's repartition:\n" +
        folds.map(_.simpleString(200)).mkString("\n"))
  }

  test("token-window chunking plans with zero operator exchanges (ta31)") {
    // Explode + project only: the in-row class (ta23/ta28). The ONLY
    // admissible exchange is the fixture loader's REPARTITION_BY_NUM
    // scaffold (Tables.load redistributes the unsplittable single-row-
    // group fixture; a real multi-row-group layout never fires it) —
    // any other Exchange is a plan regression.
    val p = plan("ta31_doc_chunks")
    val badExchanges = p.linesIterator
      .filter(_.contains("Exchange"))
      .filterNot(_.contains("REPARTITION_BY_NUM"))
      .toList
    assert(badExchanges.isEmpty,
      "ta31 gained a shuffle:\n" + badExchanges.mkString("\n"))
  }

  test("key-skew top-10 uses the bounded-heap path, never a global sort (dq09)") {
    val p = plan("dq09_key_skew")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("partial_"), "key counting lost map-side combine")
  }

  test("RAG assembly resolves documents by shuffle, never broadcast (pl06)") {
    // The retrieved (query_id, neighbor_id) relation is queries×k — a
    // corpus fraction at serving volume — and the token/text resolves
    // key on doc_id against corpus-sized relations: every doc_id-keyed
    // join must shuffle. (The probe's interior keeps ss02's shape,
    // pinned by its own test.)
    val p = plan("pl06_rag_context")
    assert(p.linesIterator.exists(l =>
        l.contains("ShuffledHashJoin") && l.contains("neighbor_id")),
      "pl06 document resolve is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          (l.contains("neighbor_id#") || l.contains("word#"))),
      "pl06 broadcasts a corpus-derived relation:\n" + p.take(3000))
  }

  test("TF-IDF joins the document-frequency relation by shuffle, not broadcast (ta05)") {
    // Distinct-term count of a web corpus is billions (heavy tail) —
    // |vocab| is NOT broadcastable even though token mass concentrates.
    // The df join must shuffle on term; the 1-row n_docs broadcast
    // nested loop is fine.
    val p = plan("ta05_tfidf_top3")
    assert(p.linesIterator.exists(l =>
        l.contains("ShuffledHashJoin") && l.contains("term")),
      "ta05 df join is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          l.contains("term#")),
      "ta05 broadcasts the term-keyed df relation:\n" + p.take(3000))
  }

  // by its own plan/oracle spec, and their checkpointed subplans would
  // print as opaque RDD scans here anyway. io04/io05's fixture writes
  // are cheap and their plans worth scanning, so they stay in.
  private val eagerConstruction =
    Set("dd09_dedup_clusters", "dd11_khop_neighborhood",
        "dd13_pagerank", "dd14_triangles",
        "dd16_keep_best", // runs dd09's convergence loop at construction
        "pp01_fanout_diamond", // runs the whole Runner; result = sink scans
        "pp02_stream_diamond", // runs two streaming queries at construction
        "pl04_stream_curation") // drives the full curation stream at construction
  test("funnel audit shuffles its canonical relation, never broadcasts it (pl08)") {
    // Same corpus-derived relations as pl05 (block-hash drop set,
    // content-key canonical map) plus the doc_id-keyed flag-back join.
    val p = plan("pl08_funnel_audit")
    assert(p.linesIterator.exists(l =>
        l.contains("ShuffledHashJoin") && l.contains("doc_id")),
      "pl08 canonical flag-back is not a shuffle hash join:\n" + p.take(3000))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange")) &&
          (l.contains("bh#") || l.contains("ck#") || l.contains("doc_id#"))),
      "pl08 broadcasts a corpus-derived relation:\n" + p.take(3000))
  }

  test("corpus-overlap sketch aggregates with map-side combine (dd20)") {
    // The 64-permutation minima must partial-aggregate before the
    // exchange — the shuffle carries |sources|×64 partial rows per
    // task, never the gram stream.
    val p = plan("dd20_corpus_overlap")
    assert(p.contains("partial_min") || p.contains("partial_"),
      "dd20 sketch lost map-side combine:\n" + p.take(3000))
  }

  test("classifier serving is one narrow pass — no exchanges (st31 fragment)") {
    // st31's per-batch plan: features + integer sigmoid in-row against
    // the 4-long model; the only admissible exchange is the fixture
    // loader's REPARTITION_BY_NUM scaffold (ta31's rule).
    val w = graft.operators.TextAnalysis.trainClassifier(spark, sfDir)._2
    val p = graft.operators.TextAnalysis.classifierServe(
      graft.sources.Tables.documents(spark, sfDir), w)
      .queryExecution.executedPlan.toString
    val badExchanges = p.linesIterator
      .filter(_.contains("Exchange"))
      .filterNot(_.contains("REPARTITION_BY_NUM"))
      .toList
    assert(badExchanges.isEmpty,
      "classifier serve gained a shuffle:\n" + badExchanges.mkString("\n"))
  }

  test("dq10's refinement rounds push a raw-column range to the scan") {
    // The envelope predicate a round applies must reach the parquet
    // reader (row-group min/max skipping) — the integer-cents
    // expression itself is not pushable, which is why the envelope
    // exists. This pins the round's scan shape.
    import graft.Exprs.cents
    val round = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice"), cents(col("l_extendedprice")).as("c"))
      .filter(col("l_extendedprice") >= 100.0 &&
        col("l_extendedprice") <= 2000.0)
    val p = round.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") &&
        p.contains("GreaterThanOrEqual(l_extendedprice"),
      "dq10 envelope not pushed to the scan:\n" + p.take(2000))
  }

  test("no query in the registry plans a cartesian product") {
    // Each query is constructed under its own Try: a construction
    // failure (e.g. a fixture-schema regression) is reported per query
    // NAME alongside the cartesian verdicts, instead of aborting the
    // sweep at the first unrelated exception and masking the assertion.
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("st"))
      .filterNot(q => eagerConstruction(q._1))
      .flatMap { case (name, fn) =>
        scala.util.Try(fn(spark, sfDir).queryExecution.executedPlan.toString) match {
          case scala.util.Failure(e) =>
            Some(s"$name: construction failed: ${e.getMessage.linesIterator.next()}")
          case scala.util.Success(p) if p.contains("CartesianProduct") =>
            Some(s"$name: plans a cartesian product:\n" + p.take(1000))
          case _ => None
        }
      }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
