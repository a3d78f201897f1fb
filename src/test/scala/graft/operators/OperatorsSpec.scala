package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Operator-library invariants that the DuckDB oracle cannot express
  * (approximation quality, LSH recall), plus a smoke sweep of the whole
  * registry at sf0.001. */
class OperatorsSpec extends SparkSpec {

  test("every registered query runs and yields a non-empty schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.schema.nonEmpty, s"$name: empty schema")
      assert(df.count() >= 0, s"$name: count failed")
    }
  }

  test("every query has an oracle") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"oracle-less queries: $noOracle")
  }

  // q19 self-asserts the HLL bound via its approx_within_5pct flag (the
  // oracle expects TRUE); this spec checks the raw estimate too.
  test("approx_count_distinct within 5% of exact") {
    val flags = SparkEntry.queries("q19_approx_distinct")(spark, sfDir)
      .select(col("event_type"), col("approx_within_5pct")).collect()
    assert(flags.nonEmpty)
    flags.foreach(r => assert(r.getBoolean(1), s"${r.getString(0)}: HLL outside 5%"))
    val approx = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("a")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      assert(math.abs(ap - ex) / ex <= 0.05, s"$k: approx=$ap exact=$ex")
    }
  }

  // LSH candidate recall vs brute force at the verification threshold:
  // with 4 bands × 2 rows, P(candidate | j≥0.8) ≥ 98% — on this fixture
  // every true pair must be found (they are all j≥0.8).
  test("MinHash-LSH finds all brute-force near-dup pairs at j>=0.8") {
    val lsh = SparkEntry.queries("dd03_minhash_lsh_pairs")(spark, sfDir)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Brute force over all pairs (test scale only).
    val toks = "filter(split(text, ' '), x -> x <> '')"
    // Same 60-bit-hashed shingle sets as the library (see Dedup).
    val sh = s"array_distinct(transform(transform(sequence(0, size($toks) - 3), " +
      s"i -> concat(element_at($toks, i+1), ' ', element_at($toks, i+2), ' ', element_at($toks, i+3))), " +
      s"g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)))"
    val sets = graft.sources.Tables.documents(spark, sfDir)
      .filter(expr(s"size($toks) >= 3")).select(col("doc_id"), expr(sh).as("sh"))
    val brute = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
         (size(col("a.sh")) + size(col("b.sh")) - size(array_intersect(col("a.sh"), col("b.sh")))))
          .as("j"))
      .filter(col("j") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.subsetOf(lsh), s"LSH missed: ${brute -- lsh}")
  }

  // SimHash byte-banding is exact for hamming<=3 (pigeonhole) — the
  // banded pair set must equal the brute-force hamming pair set.
  test("SimHash banding finds exactly the hamming<=3 pairs") {
    val banded = SparkEntry.queries("dd06_simhash_pairs")(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = SparkEntry.queries("dd05_simhash")(spark, sfDir)
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.simhash ^ b.simhash) <= 3"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute)
  }

  // ANN quality: quantitative recall@3 of the multi-table LSH against
  // the brute-force ground truth. With L=4 OR-amplified 6-plane tables
  // the candidate union must recover at least half of every query's
  // true top-3 in aggregate (single-table AND-only LSH fails this).
  test("LSH ANN recall@3 vs brute force is >= 0.5") {
    val ann = SparkEntry.queries("ss03_lsh_ann")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteTop3 = SparkEntry.queries("ss01_cosine_topk")(spark, sfDir)
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ann intersect bruteTop3).size.toDouble / bruteTop3.size
    info(f"recall@3 = $recall%.3f (${(ann intersect bruteTop3).size}/${bruteTop3.size})")
    assert(recall >= 0.5, f"recall@3 = $recall%.3f below 0.5")
  }

  // ss13: the 32-dim coarse pass + exact re-rank must recover most of
  // the full-dim brute-force top-3 (the MRL two-stage quality claim —
  // measured, since the fixture embeddings are not MRL-trained).
  test("MRL truncated retrieval recall@3 vs brute force is >= 0.7") {
    val mrl = SparkEntry.queries("ss13_mrl_topk")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SparkEntry.queries("ss01_cosine_topk")(spark, sfDir)
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (mrl intersect brute).size.toDouble / brute.size
    info(f"MRL recall@3 = $recall%.3f")
    assert(recall >= 0.7, f"MRL recall@3 = $recall%.3f below 0.7")
  }

  // dd20: the K=64 corpus sketch must estimate every source pair's true
  // shingle-set Jaccard within 4σ ≈ 0.25 (and the estimator is bounded).
  test("dd20 corpus-overlap estimate within 0.25 of exact Jaccard") {
    import spark.implicits._
    val est = SparkEntry.queries("dd20_corpus_overlap")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getLong(3).toDouble / 1e6).toMap
    assert(est.nonEmpty)
    est.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
    // exact per-source distinct hashed-shingle sets, small at sf0.001
    val toks = "filter(split(text, ' '), x -> x <> '')"
    val sets = graft.sources.Tables.documents(spark, sfDir)
      .select(col("source"), expr(toks).as("tk"))
      .filter(expr("size(tk) >= 3"))
      .select(col("source"), explode(expr(
        "transform(transform(sequence(0, size(tk) - 3), " +
        "i -> concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2), ' ', element_at(tk, i + 3))), " +
        "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint) % 2147483647)"))
        .as("h"))
      .collect().groupBy(_.getString(0))
      .map { case (src, rows) => src -> rows.map(_.getLong(1)).toSet }
    est.foreach { case ((a, b), e) =>
      val (sa, sb) = (sets(a), sets(b))
      val exact = (sa intersect sb).size.toDouble / (sa union sb).size
      assert(math.abs(e - exact) <= 0.25,
        f"$a×$b: est=$e%.3f exact=$exact%.3f")
    }
  }

  // dd21: more bands (fewer rows per band) can only ADD candidates, so
  // candidate volume and recall are monotone in band count, and the
  // (8×1) row — which defines the measured truth — reads exactly 1e6.
  test("dd21 sweep: candidates and recall monotone in bands; 8x1 is total") {
    val rows = SparkEntry.queries("dd21_lsh_band_sweep")(spark, sfDir)
      .orderBy(col("bands")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 4, 8))
    val cands = rows.map(_.getLong(2))
    val recall = rows.map(_.getLong(5))
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b },
      cands.mkString(","))
    assert(recall.zip(recall.tail).forall { case (a, b) => a <= b },
      recall.mkString(","))
    assert(recall.last == 1000000L, s"8x1 recall = ${recall.last}")
  }

  // ss14: recall must be monotone non-decreasing in nprobe (probing
  // more cells can only add candidates), bounded in [0, 1e6], and the
  // full sweep must cover all three operating points.
  test("ss14 recall is monotone in nprobe") {
    val rows = SparkEntry.queries("ss14_nprobe_recall")(spark, sfDir)
      .orderBy(col("nprobe")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val recalls = rows.map(_.getLong(3))
    recalls.foreach(r => assert(r >= 0L && r <= 1000000L))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      recalls.mkString(","))
  }

  // ta37: the three bands partition the corpus, and the p10/p90 rank
  // rule keeps the dominant middle band (>= 60% even under ties).
  test("ta37 surprisal bands partition the corpus, kept band dominant") {
    val rows = SparkEntry.queries("ta37_surprisal_prune")(spark, sfDir).collect()
    val total = rows.map(_.getLong(2)).sum
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    assert(total == nDocs, s"bands sum to $total, corpus has $nDocs")
    val kept = rows.filter(_.getString(1) == "kept").map(_.getLong(2)).sum
    assert(kept >= (nDocs * 6) / 10, s"kept=$kept of $nDocs")
  }

  // dq11: a synthetically stale artifact (count short of contract) must
  // flag inconsistent; the intact fixture must reconcile clean.
  test("dq11 flags a stale artifact and passes the intact fixture") {
    val stale = Profile.reconcileArtifacts(spark, Seq(
      ("fresh", 100L, 100L), ("stale", 100L, 73L), ("orphaned", 0L, 4L)))
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(stale == Map("fresh" -> true, "stale" -> false, "orphaned" -> false))
    val rows = SparkEntry.queries("dq11_artifact_reconciliation")(spark, sfDir)
      .collect()
    assert(rows.length == 3)
    rows.foreach(r => assert(r.getBoolean(3),
      s"${r.getString(0)}: expected ${r.getLong(1)}, actual ${r.getLong(2)}"))
  }

  // q65: the recursion must actually plan through Spark 4's UnionLoop
  // operator (not silently degrade), and the depth histogram must
  // partition the customer table.
  test("q65 recursive CTE plans through UnionLoop and partitions customers") {
    val df = SparkEntry.queries("q65_recursive_cte")(spark, sfDir)
    assert(df.queryExecution.optimizedPlan.toString.contains("UnionLoop"),
      "recursive CTE did not plan through the UnionLoop operator")
    val rows = df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.values.sum ==
      graft.sources.Tables.customer(spark, sfDir).count(),
      "depth histogram does not partition the customer table")
    // custkey 0 (the root itself) legitimately has depth 0; multiple
    // depth levels prove the recursion actually iterated.
    assert(rows.keys.min >= 0 && rows.size >= 2, "degenerate hierarchy")
  }

  // dq12: the calibration table's bins PARTITION the scored corpus —
  // doc totals conserve, positives equal the label definition's count,
  // and every rate/mean stays in [0, 1e6] ppm.
  test("dq12 calibration bins partition the corpus and conserve labels") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val rows = SparkEntry.queries("dq12_classifier_calibration")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate bins")
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 9))
    assert(rows.map(_._2).sum == docs.count(), "docs not conserved")
    assert(rows.map(_._3).sum ==
      docs.filter(org.apache.spark.sql.functions.col("lang") === "en").count(),
      "positives != label definition count")
    assert(rows.forall(r => r._4 >= 0 && r._4 <= 1000000L &&
      r._5 >= 0 && r._5 <= 1000000L), "ppm out of range")
    assert(rows.length >= 2, "degenerate: every score in one bin")
  }

  // pl14: the provenance ledger is a COMPOSITION — every column must
  // agree exactly with the registered query that owns that dimension
  // (funnel stages with pl08, contamination with dd08, split with
  // ta08, cluster labels with the staged dd09 relation).
  test("pl14 provenance cross-checks its constituent queries") {
    val rows = SparkEntry.queries("pl14_provenance")(spark, sfDir).collect()
    assert(rows.length ==
      graft.sources.Tables.documents(spark, sfDir).count())
    val stages = rows.groupBy(r => (r.getString(1), r.getString(2)))
      .view.mapValues(_.length.toLong).toMap
    val pl08 = SparkEntry.queries("pl08_funnel_audit")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(stages == pl08, "stage rollup diverged from pl08")
    val cont = SparkEntry.queries("dd08_contamination")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotCont = rows.filter(_.getLong(7) > 0)
      .map(r => r.getLong(0) -> r.getLong(7)).toMap
    assert(gotCont == cont, "contamination column diverged from dd08")
    val ta08 = SparkEntry.queries("ta08_split_assign")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val gotSplit = rows.groupBy(r => (r.getString(5), r.getString(1)))
      .view.mapValues(_.length.toLong).toMap
    assert(gotSplit == ta08, "split rollup diverged from ta08")
    val lbl = Dedup.stagedClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(4) == lbl.getOrElse(r.getLong(0), r.getLong(0)),
        s"doc ${r.getLong(0)}: cluster canonical diverged from dd09's labels")
    }
  }

  // webScored materializes once per query WITHOUT a registered cache: a
  // CacheManager entry would outlive the query and serve later calls
  // stale rows once the fixture files at the same path change.
  test("web curation queries leave no CacheManager entry (pl05/pl08/pl14)") {
    import org.apache.spark.sql.graft.CatalystBridge
    val before = CatalystBridge.cachedEntries(spark)
    Seq("pl05_web_curation", "pl08_funnel_audit", "pl14_provenance")
      .foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
    assert(CatalystBridge.cachedEntries(spark) == before,
      "a web curation query registered a session cache entry")
  }

  // ...and keeps lineage: blocks lost after a first reader are recomputed
  // from the scan for the next (a localCheckpoint'ed relation fails here).
  // Each rollup is a fresh plan over the same relation, so it cannot be
  // served from the first one's shuffle output.
  test("webScored recomputes its materialized relations after their blocks are lost") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val scored = Curation.webScored(spark, sfDir)
    def rollup() = scored.groupBy(col("lang"))
      .agg(count(lit(1)), sum(col("n_blocks")), sum(col("n_kept")), sum(length(col("txt"))))
      .collect().map(_.toString).sorted.toSeq
    val first = rollup()
    val fresh = sc.getPersistentRDDs.keySet -- before
    assert(fresh.nonEmpty, "webScored persisted nothing")
    fresh.foreach(id => org.apache.spark.SparkEnv.get.blockManager.master.removeRdd(id, true))
    assert(rollup() == first)
  }

  // A materialized frame read twice in one plan (the Pipes diamond's
  // fan-in union, st19's band self-join): the analyzer renews one copy's
  // output attributes, and every CacheManager lookup canonicalizes the
  // plan. An ordered source (range) must survive both.
  test("a materialized frame can be read twice in one plan") {
    import org.apache.spark.sql.graft.CatalystBridge
    val m = CatalystBridge.materialized(spark.range(10).toDF("id"))
    val union = m.unionByName(m)
    val self = m.join(m.select(col("id").as("id2")), col("id") === col("id2"))
    Seq(union, self).foreach(_.queryExecution.analyzed.canonicalized)
    assert(union.agg(sum(col("id"))).head().getLong(0) == 90L)
    assert(self.count() == 10L)
  }

  /** Partition counts of the relations `body` shares through
    * CatalystBridge.materialized, in creation order. Read off the stage
    * infos while the body runs: a site's relations are released once it
    * returns, so `sc.getPersistentRDDs` may no longer list them
    * afterwards. A materialized relation's RDD is named by its cached
    * plan; a localCheckpoint's RDD is unnamed (its info carries the
    * class name) and is left out. */
  private def materializedWidths(body: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val marker = s"materialized-widths-${System.nanoTime()}"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos
          .filter(r => r.storageLevel.isValid && r.name != "MapPartitionsRDD")
          .foreach(r => seen.put(r.id, r.numPartitions))
      // Events reach a listener in order: once this marker job's start
      // arrives, every stage of the body has been seen.
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  // The width of every converted site's shared relation at sf0.001 on
  // local[4]. A materialized relation keeps its plan's output
  // partitioning. A plan whose last stage reads the fixture scan's
  // fixed repartition(4, key) layout, or a parquet scan with no
  // exchange at all, stays 4 wide (8 for nightOf's two-scan union);
  // AQE coalesces the rest to 1. webScored's scored relation is 4 wide
  // because its join's blocks side is a scan of the materialized blocks
  // relation, which already reports hashpartitioning(doc_id, 4): no
  // exchange is planned on that side, and AQE does not coalesce a stage
  // with a leaf that is not a shuffle stage.
  test("each materialized site's relations keep their plan's width") {
    import graft.streaming.Streams
    import spark.implicits._
    def widths(body: => Any): Seq[Int] = materializedWidths { body; () }
    val tmp = java.nio.file.Files.createTempDirectory("graft_widths").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assert(widths(Curation.webScored(spark, sfDir).count()) == Seq(4, 4))
    val topk = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("query_id"),
        (col("vec_id") + 1).as("neighbor_id"), lit(1).as("rnk")).limit(50)
    val docServe = Curation.stagedDocServe(spark, sfDir)
    assert(widths(Curation.ragAssembleLocal(topk, docServe).collect()) == Seq(1))
    val (dropSet, canon) =
      (Curation.stagedDropSet(spark, sfDir), Curation.stagedCanon(spark, sfDir))
    assert(widths(Curation.funnelPartial(docs.limit(40), dropSet, canon)
      .collect()) == Seq(1, 1))
    assert(widths(Similarity.compactCells(spark.range(100).select(
      col("id").as("vec_id"), (col("id") % 3).cast("int").as("label")),
      s"$tmp/cells")) == Seq(1))
    val pairs = Dedup.queries("dd03_minhash_lsh_pairs")(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    assert(widths(Dedup.componentsOf(pairs).collect()) == Seq(4))
    val half = docs.filter(col("doc_id") % 2 === 0)
    Streams.neardupSeed(docs.limit(0), s"$tmp/bands", s"$tmp/sets", s"$tmp/pairs")
    assert(widths(Streams.neardupStep(half, s"$tmp/bands", s"$tmp/sets",
      s"$tmp/pairs")) == Seq(4, 4))
    Streams.phashSeed(docs.limit(0), s"$tmp/pbands", s"$tmp/ppairs")
    assert(widths(Streams.phashStep(half, s"$tmp/pbands", s"$tmp/ppairs")) == Seq(4))
    val d = Incremental.Dirs(s"$tmp/inc")
    val night = col("doc_id") % Incremental.Parts === 7
    assert(widths(Incremental.baseBuild(spark, d, docs.filter(!night))) == Seq(4, 1))
    assert(widths(Incremental.nightOf(spark, d, docs.filter(night), 7)) ==
      Seq(4, 1, 1, 1, 1, 8, 1))
    // Three of purgeNightOf's four relations: its tier-1 hashes (aff1Bh)
    // are empty for this purge, a relation of 0 partitions, so no stage.
    assert(widths(Incremental.purgeNightOf(spark, d, Seq(13L, 14L).toDF("doc_id")))
      == Seq(1, 1, 1))
    // A fresh copy of the fixture: the feeds are staged once per
    // (application, fixture), so the shared test session may have
    // staged sfDir's already.
    val fixture = s"$tmp/fixture"
    new java.io.File(fixture).mkdirs()
    new java.io.File(sfDir).listFiles().foreach(f => java.nio.file.Files.copy(
      f.toPath, new java.io.File(fixture, f.getName).toPath))
    // st06, st14, st16, docs, emb, pl11's delta shards.
    assert(widths(Streams.prepareFeeds(spark, fixture)) == Seq(4, 4, 4, 4, 4, 4))
    // pl04's per-batch frame, one per micro-batch of the docs feed.
    assert(widths(graft.SparkEntry.queries("pl04_stream_curation")(spark, fixture)
      .collect()) == Seq(4, 4))
  }

  // pl09: the epoch plan must account for EVERY upsampled copy exactly
  // once across shards, with non-degenerate routing and budgets.
  test("pl09 shards cover every ta35 copy exactly once") {
    val plan9 = SparkEntry.queries("pl09_epoch_plan")(spark, sfDir).collect()
    val nCopies = SparkEntry.queries("ta35_epoch_upsample")(spark, sfDir).count()
    assert(plan9.map(_.getLong(1)).sum == nCopies)
    assert(plan9.length >= 2, "degenerate shard routing")
    plan9.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < 8)
      assert(r.getLong(2) > 0, s"shard ${r.getLong(0)}: zero token budget")
    }
  }

  // pl08: the funnel stages PARTITION the corpus — every document is
  // attributed to exactly one stage, so the rollup sums to the table
  // count and the kept stage equals pl05's canonical total.
  test("pl08 funnel stages partition the corpus and match pl05") {
    val funnel = SparkEntry.queries("pl08_funnel_audit")(spark, sfDir).collect()
    val total = funnel.map(_.getLong(2)).sum
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    assert(total == nDocs, s"funnel sums to $total, corpus has $nDocs")
    val kept = funnel.filter(_.getString(1) == "kept").map(_.getLong(2)).sum
    val pl05Canonical = SparkEntry.queries("pl05_web_curation")(spark, sfDir)
      .agg(sum(col("n_canonical"))).collect()(0).getLong(0)
    assert(kept == pl05Canonical, s"kept=$kept pl05 canonical=$pl05Canonical")
  }

  // ta15: the replace-trick histogram must yield the same Shannon
  // entropy as a direct Scala recomputation from the raw text, and the
  // 27-bin entropy is bounded by log2(27).
  test("char entropy matches a driver-side recomputation") {
    val rows = SparkEntry.queries("ta15_char_entropy")(spark, sfDir)
      .join(graft.sources.Tables.documents(spark, sfDir), "doc_id")
      .select(col("doc_id"), col("entropy_bits"), col("text"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(1), s"doc ${r.getLong(0)}: null entropy")
      val ent = r.getDouble(1)
      // 0.0 is legitimate (single-bin text, e.g. one repeated letter).
      assert(ent >= 0.0 && ent <= math.log(27.0) / math.log(2.0) + 1e-9,
        s"doc ${r.getLong(0)}: entropy $ent out of range")
      // Locale.ROOT: Spark's lower() is locale-independent; a Turkish
      // default locale would map 'I' to dotless ı and diverge.
      val lt = r.getString(2).toLowerCase(java.util.Locale.ROOT)
      val counts = ('a' to 'z').map(c => lt.count(_ == c)) :+
        (lt.length - ('a' to 'z').map(c => lt.count(_ == c)).sum)
      val expected = counts.filter(_ > 0).map { c =>
        val p = c.toDouble / lt.length; -p * math.log(p) / math.log(2.0)
      }.sum
      assert(math.abs(ent - expected) < 1e-5,
        s"doc ${r.getLong(0)}: $ent vs recomputed $expected")
    }
  }

  // ss06: int8 quantization + top-10 refine must recover nearly all of
  // the true top-3 (SQ8's 127 levels lose little cosine precision).
  test("SQ8 refine recall@3 vs brute force is >= 0.8") {
    val sq = SparkEntry.queries("ss06_sq8_topk")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SparkEntry.queries("ss01_cosine_topk")(spark, sfDir)
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq intersect brute).size.toDouble / brute.size
    info(f"SQ8 recall@3 = $recall%.3f")
    assert(recall >= 0.8, f"SQ8 recall@3 = $recall%.3f below 0.8")
  }

  // ss09: PQ with a sampled 8-codeword book and a 20-pool is the coarse
  // tier — the bound is calibrated loose; the oracle (exact replay of
  // the integer PQ pipeline) is the correctness check, this pins that
  // the ADC ordering is informative rather than noise.
  test("PQ ADC recall@3 vs brute force is >= 0.3") {
    val pq = SparkEntry.queries("ss09_pq_topk")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SparkEntry.queries("ss01_cosine_topk")(spark, sfDir)
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq intersect brute).size.toDouble / brute.size
    info(f"PQ recall@3 = $recall%.3f")
    assert(recall >= 0.3, f"PQ recall@3 = $recall%.3f below 0.3")
  }

  // dd13: damped fixed-point PageRank contracts rank mass — every node
  // keeps at least the base 0.15·SCALE, and floors only lose mass, so
  // the total never exceeds the initial n·SCALE.
  test("pagerank ranks are bounded by the damping invariants") {
    val rows = SparkEntry.queries("dd13_pagerank")(spark, sfDir)
      .collect().map(_.getLong(1))
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r >= 150000L, s"rank $r below damping base"))
    assert(rows.sum <= rows.length * 1000000L,
      s"total mass ${rows.sum} exceeds initial ${rows.length * 1000000L}")
  }

  // dd11's scale invariant: on a clique of m near-dup docs the old
  // UNION ALL path walk materialized m·(m-1)² depth-2 rows; the deduped
  // frontier must stay at m·m (start × node), i.e. O(nodes) per start.
  test("khop frontiers stay O(start x node) on a clique, not O(paths)") {
    import spark.implicits._
    val m = 20
    val edges = (for {
      a <- 0 until m; b <- 0 until m if a != b
    } yield (a.toLong, b.toLong)).toDF("src", "dst")
    val fronts = Dedup.khopFrontiers(edges, 2)
    assert(fronts.size === 3)
    assert(fronts(1).count() === m.toLong * (m - 1)) // hop 1: all others
    val paths2 = m.toLong * (m - 1) * (m - 1)        // what the walk built
    val front2 = fronts(2).count()
    assert(front2 === m.toLong * m, s"hop-2 frontier $front2 != ${m * m}")
    assert(front2 < paths2 / 10,
      s"frontier $front2 not materially below path count $paths2")
  }

  // dd04's scale invariant: prefix-filter blocking must NOT generate
  // within-block candidates for dissimilar docs — a hot (lang, source)
  // block of m pairwise-disjoint docs yields zero candidates (the old
  // bare-block join yielded m(m-1)/2), while identical docs still block
  // together (recall is exact for j >= 0.3, proven in Dedup.scala).
  test("ngram prefix blocking bounds hot blocks and keeps recall") {
    import spark.implicits._
    val m = 100
    val disjoint = (0 until m).map { i =>
      (i.toLong, "en", "web", (0 until 20).map(j => (i * 1000 + j).toLong).sorted.toArray)
    }.toDF("doc_id", "lang", "source", "sh")
    assert(Dedup.ngramCandidates(disjoint).count() === 0L,
      "disjoint docs in one hot block must produce no candidates")
    val dup = Seq(
      (1L, "en", "web", (0L until 20L).toArray),
      (2L, "en", "web", (0L until 20L).toArray),          // identical → pair
      (3L, "en", "web", (100L until 120L).toArray),       // disjoint → none
      (4L, "de", "web", (0L until 20L).toArray)           // other block → none
    ).toDF("doc_id", "lang", "source", "sh")
    val cands = Dedup.ngramCandidates(dup).as[(Long, Long)].collect().toSet
    assert(cands === Set((1L, 2L)))
  }

  // Lloyd's algorithm never increases inertia: ss08's round-3 total must
  // be <= ss05's round-1 total (same quantization scale; ss08's +10000
  // positivity offset cancels in every distance difference).
  test("k-means training inertia is monotone non-increasing") {
    val round1 = SparkEntry.queries("ss05_kmeans_iter")(spark, sfDir)
      .agg(sum(col("inertia"))).collect()(0).getLong(0)
    val round3 = SparkEntry.queries("ss08_kmeans_train")(spark, sfDir)
      .agg(sum(col("inertia"))).collect()(0).getLong(0)
    assert(round3 <= round1,
      s"inertia rose across Lloyd rounds: $round1 -> $round3")
  }

  // dd12: the Bloom sketch may add false positives but NEVER false
  // negatives, and its exact audit columns must agree with dd08.
  test("bloom decontamination has no false negatives and matches dd08") {
    val d12 = SparkEntry.queries("dd12_bloom_contamination")(spark, sfDir).collect()
    assert(d12.nonEmpty)
    d12.foreach(r => assert(!r.getBoolean(3),
      s"doc ${r.getLong(0)}: bloom false negative"))
    val exact12 = d12.filter(_.getBoolean(2))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d08 = SparkEntry.queries("dd08_contamination")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact12 === d08)
  }

  // ta18's guarantee under EVICTION: the fixture vocabulary fits in the
  // 1024 counters, so this synthetic stream (domain 200k >> k, 5 truly
  // heavy keys, deterministic md5-interleaved order) is what actually
  // exercises the Misra-Gries decrement path and the superset invariant.
  test("Misra-Gries survivors superset the true heavy hitters under eviction") {
    import spark.implicits._
    val hot = (1 to 5).flatMap(i => Seq.fill(3000)(s"hot_$i"))
    val cold = (1 to 200000).map(i => s"cold_$i")
    val stream = (hot ++ cold).sortBy(x =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes).map("%02x".format(_)).mkString)
    val n = stream.length.toLong
    val survivors = spark.sparkContext.parallelize(stream, 4)
      .mapPartitions(it =>
        graft.operators.HeavyHitters.misraGries(it, 1024)._2.iterator)
      .collect().toSet
    assert(survivors.size <= 4 * 1024)
    (1 to 5).foreach(i => assert(survivors.contains(s"hot_$i"),
      s"hot_$i (count 3000 > n/1000 = ${n / 1000}) evicted from every partition"))
    // single-partition form of the textbook invariant: count > n/(k+1)
    val (n1, s1) = graft.operators.HeavyHitters.misraGries(stream.iterator, 1024)
    assert(n1 === n)
    (1 to 5).foreach(i => assert(s1.contains(s"hot_$i")))
  }

  // ta18 end-to-end equals the declarative exact answer on the fixture.
  test("ta18 heavy hitters equal the exact filtered bigram counts") {
    val hh = SparkEntry.queries("ta18_heavy_hitters")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = SparkEntry.queries("ta06_bigram_freq")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = counts.map(_._2).sum
    val exact = counts.filter { case (_, c) => c * 1000 > total }.toMap
    assert(hh === exact)
  }

  // mm06: the blob path must carry genuinely NON-TEXT bytes (high-bit
  // magic, arbitrary digest payload incl. NULs) unmangled, and the
  // ByteBuffer parse must round-trip every header field.
  test("mm06 blobs are non-text bytes and the header parse round-trips") {
    import spark.implicits._
    val blobs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        unhex(concat(lit("89475246"), lit("01"),
          lpad(hex(pmod(col("doc_id") * 7919 + 13, lit(4096))), 4, "0"),
          lpad(hex(pmod(col("doc_id") * 104729 + 7, lit(4096))), 4, "0"),
          md5(col("text")))).as("blob"))
      .as[(Long, Array[Byte])].collect()
    assert(blobs.nonEmpty)
    blobs.foreach { case (_, b) =>
      assert(b.length == 25)
      assert((b(0) & 0xff) == 0x89) // non-ASCII, invalid UTF-8 lead byte
    }
    // digest payloads are arbitrary bytes: across the corpus some byte
    // must be >= 0x80 and some must be 0x00 (probability ~1 at 500 docs)
    val payload = blobs.flatMap(_._2.drop(9))
    assert(payload.exists(b => (b & 0xff) >= 0x80))
    assert(payload.contains(0.toByte))
    val parsed = SparkEntry.queries("mm06_binary_header")(spark, sfDir).collect()
    assert(parsed.length == blobs.length)
    parsed.foreach { r =>
      assert(r.getBoolean(1), s"doc ${r.getLong(0)}: magic mismatch")
      assert(r.getInt(2) == 1)
      val id = r.getLong(0)
      assert(r.getLong(3) == (id * 7919 + 13) % 4096)
      assert(r.getLong(4) == (id * 104729 + 7) % 4096)
      assert(r.getString(5).length == 32)
    }
  }

  // ss10: the nprobe=2 IVF k-NN join against the exact per-query brute
  // force over the SAME query set (label<2 — a table, not ss01's
  // vec_id%50 sample). 2-of-8 cells must recover a solid majority of
  // true top-3s; the oracle pins exactness of the probe pipeline, this
  // pins that the cell geometry is informative.
  test("kNN join recall@3 vs brute force is >= 0.5") {
    val knn = SparkEntry.queries("ss10_knn_join")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val v = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding").as("e"))
    val brute = v.filter(col("label") < 2).as("a")
      .join(v.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        (expr("aggregate(zip_with(a.e, b.e, (x, y) -> cast(x as double) * y), 0D, (acc, z) -> acc + z)") /
         sqrt(expr("aggregate(a.e, 0D, (acc, x) -> acc + cast(x as double) * x)") *
              expr("aggregate(b.e, 0D, (acc, x) -> acc + cast(x as double) * x)"))).as("cos"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (knn intersect brute).size.toDouble / brute.size
    info(f"kNN-join recall@3 = $recall%.3f")
    assert(recall >= 0.5, f"kNN-join recall@3 = $recall%.3f below 0.5")
  }

  // q60: the densified calendar must be gap-free per user (row count =
  // span days), zero-fill must not invent events (sum preserved), and
  // the forward-filled value is never null (day 1 is always an active
  // day — it's the user's own min).
  test("gap fill emits a dense, sum-preserving calendar") {
    val out = SparkEntry.queries("q60_gap_fill")(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(!_.isNullAt(3)), "filled_cents null after densify")
    val byUser = out.groupBy(_.getLong(0))
    val days = byUser.view.mapValues(_.map(_.getTimestamp(1).getTime).sorted).toMap
    days.foreach { case (u, ds) =>
      val expected = (ds.max - ds.min) / 86400000L + 1
      assert(ds.length.toLong == expected, s"user $u: ${ds.length} rows, span $expected")
      assert(ds.distinct.length == ds.length, s"user $u: duplicate days")
    }
    val filled = out.map(_.getLong(2)).sum
    val raw = graft.sources.Tables.events(spark, sfDir).count()
    assert(filled == raw, s"event mass changed: $filled vs $raw")
  }

  // ta19: the deterministic augmentation is ground truth — every
  // doc_id%3==0 doc has exactly its injected email (the corpus has
  // none), likewise IPs (%5) and phones (%7); the redacted text must
  // hash differently from the raw text iff something was injected.
  test("PII scan matches the injected ground truth") {
    val rows = SparkEntry.queries("ta19_pii_scan")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (if (id % 3 == 0) 1 else 0), s"doc $id emails")
      assert(r.getInt(2) == (if (id % 5 == 0) 1 else 0), s"doc $id ips")
      assert(r.getInt(3) == (if (id % 7 == 0) 1 else 0), s"doc $id phones")
    }
  }

  // ta27: full driver-side recomputation of the C4 line-dedup pass —
  // same injected line structure, corpus df counts, >= 3-distinct-doc
  // drop rule, ordered reassembly md5. Also pins the ground truth: the
  // injected boilerplate lines MUST be in the drop set.
  test("ta27 line dedup equals a driver-side recomputation") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val boiler1 = "subscribe to our newsletter today"
    val boiler2 = "all rights reserved by the site owner"
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val lined = docs.map { case (id, text) =>
      val tk = text.split(" ").filter(_.nonEmpty)
      val content = tk.grouped(10).map(_.mkString(" ")).toVector
      val pre = if (id % 2 == 0) Vector(boiler1) else Vector()
      val post = if (id % 3 == 0) Vector(boiler2) else Vector()
      id -> (pre ++ content ++ post)
    }.toMap
    val df = lined.toSeq.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
    val drop = df.collect { case (l, n) if n >= 3 => l }.toSet
    assert(drop.contains(boiler1) && drop.contains(boiler2),
      "injected boilerplate did not clear the df threshold")
    val got = SparkEntry.queries("ta27_line_dedup")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got.keySet == lined.keySet)
    lined.foreach { case (id, ls) =>
      val kept = ls.filterNot(drop)
      val exp = (ls.size, kept.size, md5hex(kept.mkString("\n")))
      assert(got(id) == exp, s"doc $id: got ${got(id)}, expected $exp")
    }
  }

  // ta28: the injected markup is ground truth — extraction must keep
  // EXACTLY the two content paragraphs (never the title/nav/ad/footer),
  // i.e. the extracted text equals the doc's normalized token stream.
  test("ta28 extraction recovers exactly the injected content blocks") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .toMap
    val got = SparkEntry.queries("ta28_html_extract")(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getLong(0)
      val tk = texts(id)
      assert(r.getInt(1) == 7, s"doc $id: block count")
      // Both paragraphs are content on this fixture (docs are >= 10
      // tokens, so each paragraph clears the density bar).
      assert(r.getInt(2) == 2, s"doc $id: content block count ${r.getInt(2)}")
      // p1 + ' ' + p2 rejoins to exactly the normalized token stream.
      val norm = tk.mkString(" ")
      assert(r.getInt(3) == norm.length, s"doc $id: content_chars")
      assert(r.getString(4) == md5hex(norm), s"doc $id: content md5")
    }
  }

  // dq06: a synthetically drifted parquet (narrowed key type, dropped
  // column, extra column) must surface exactly the right verdicts —
  // the r4 fixture-regeneration lesson as an executable check.
  test("dq06 detects a synthetic type change, drop and addition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dq06_spec").toFile
    try {
      graft.sources.Tables.documents(spark, sfDir)
        .selectExpr("cast(doc_id as int) as doc_id", "text", "lang",
          "source", "1.5 as extra_col")
        .write.mode("overwrite").parquet(dir.getPath + "/documents.parquet")
      val observed = spark.read.parquet(dir.getPath + "/documents.parquet")
        .schema.fields.map(f => ("documents", f.name, f.dataType.simpleString)).toSeq
      val declared = Profile.declaredContract.filter(_._1 == "documents")
      val st = Profile.schemaDrift(spark, declared, observed)
        .collect().map(r => r.getString(1) -> r.getString(4)).toMap
      assert(st("doc_id") == "type_drift", st.toString)
      assert(st("n_chars") == "missing", st.toString)
      assert(st("extra_col") == "unexpected", st.toString)
      assert(st("text") == "ok" && st("lang") == "ok" && st("source") == "ok")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }

  // dq06 on the intact fixture: every declared column checks out ok.
  test("dq06 reports all-ok on the intact fixture") {
    val rows = SparkEntry.queries("dq06_schema_drift")(spark, sfDir).collect()
    assert(rows.length == Profile.declaredContract.length)
    assert(rows.forall(_.getString(4) == "ok"),
      rows.filterNot(_.getString(4) == "ok").mkString(", "))
  }

  // dq07: every corruption class the audit exists to catch, injected
  // once (plus one clean row), must be counted exactly once — and a
  // NULL embedding must count ONLY as null_embedding, never leaking
  // into the per-component checks.
  test("dq07 detects each synthetic vector corruption exactly once") {
    import spark.implicits._
    val rows: Seq[(Long, Option[Array[Float]], Option[Int])] = Seq(
      (1L, Some(Array(1f, 0f, 2f)), Some(0)),                     // clean
      (2L, None, Some(0)),                                        // null embedding
      (3L, Some(Array(1f, 2f)), Some(0)),                         // wrong dim
      (4L, Some(Array(Float.NaN, 1f, 1f)), Some(0)),              // NaN
      (5L, Some(Array(Float.PositiveInfinity, 1f, 1f)), Some(0)), // Inf
      (6L, Some(Array(0f, 0f, 0f)), Some(0)),                     // zero vector
      (7L, Some(Array(1f, 1f, 1f)), None))                        // null label
    val got = Profile.embeddingContract(
        rows.toDF("vec_id", "embedding", "label"), dim = 3)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map(
      "null_embedding" -> 1L, "wrong_dim" -> 1L, "nonfinite_component" -> 2L,
      "zero_vector" -> 1L, "null_label" -> 1L, "null_vec_id" -> 0L), got.toString)
  }

  // dq07 on the intact fixture: zero violations on every check.
  test("dq07 reports zero violations on the intact fixture") {
    val rows = SparkEntry.queries("dq07_embedding_contract")(spark, sfDir).collect()
    assert(rows.length == 6)
    assert(rows.forall(_.getLong(2) == 0L),
      rows.filter(_.getLong(2) != 0L).mkString(", "))
  }

  // dq08: a synthetic population shift (current half re-centered two
  // buckets up, with partial overlap) must flag — the overlapping
  // buckets as major PSI terms, the disjoint ones as empty_side.
  test("dq08 flags an injected length shift in the current half") {
    import spark.implicits._
    val ref = (0 until 160).map(i => (i.toLong * 2, 100L)) ++ // bucket 0
      (0 until 40).map(i => (400L + i * 2, 300L))             // bucket 1
    val cur = (0 until 40).map(i => (i.toLong * 2 + 1, 100L)) ++
      (0 until 160).map(i => (401L + i * 2, 300L))
    val got = Profile.distributionDrift((ref ++ cur).toDF("doc_id", "n_chars"))
      .collect().map(r => r.getInt(0) -> r.getString(4)).toMap
    assert(got == Map(0 -> "major", 1 -> "major"), got.toString)
  }

  // dq08 on the intact fixture: even/odd halves of the same corpus —
  // every populated bucket must sit below the moderate threshold, and
  // the bucket counts must partition the corpus exactly.
  test("dq08 reports no drift between fixture halves") {
    val rows = SparkEntry.queries("dq08_distribution_drift")(spark, sfDir).collect()
    assert(rows.forall(_.getString(4) == "ok"),
      rows.filterNot(_.getString(4) == "ok").mkString(", "))
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(total == graft.sources.Tables.documents(spark, sfDir).count())
  }

  // ta32: driver-side recomputation of the α=0.5 mixture — micro-unit
  // weights, integer-sum normalization, floor quotas; flattening must
  // actually flatten (largest source's quota share < its doc share).
  test("ta32 temperature mixture matches a driver recomputation and flattens") {
    val counts = graft.sources.Tables.documents(spark, sfDir)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wMicro = counts.map { case (s, n) =>
      s -> math.round(math.sqrt(n.toDouble) * 1e6)
    }
    val wTotal = wMicro.values.sum
    val got = SparkEntry.queries("ta32_mixture_weights")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == counts.keySet)
    got.foreach { case (s, (n, w, q)) =>
      assert(n == counts(s) && w == wMicro(s) && q == w * 10000L / wTotal,
        s"source $s")
    }
    assert(got.values.map(_._3).sum <= 10000L)
    val nTotal = counts.values.sum
    val (bigSrc, bigN) = counts.maxBy(_._2)
    if (counts.size > 1 && counts.values.toSet.size > 1)
      assert(got(bigSrc)._3.toDouble / 10000 < bigN.toDouble / nTotal,
        "α=0.5 did not flatten the largest source")
  }

  // dq09: the top-10 heaviest keys with exact integer shares must match
  // a driver recomputation including the tie-break at the boundary.
  test("dq09 key-skew report matches a driver recomputation") {
    val rows = graft.sources.Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = rows.map(_._2).sum
    val expect = rows.sortBy { case (k, n) => (-n, k) }.take(10)
      .map { case (k, n) => (k, n, n * 1000L / total) }
    val got = SparkEntry.queries("dq09_key_skew")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expect.toSeq, s"got ${got.toList}\nexpected ${expect.toList}")
  }

  // ta31: driver-side recomputation of the window rule for every doc —
  // full coverage, declared stride/width, md5 per chunk.
  test("ta31 chunks cover every token with the declared overlap") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val (w, st) = (64, 48)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val got = SparkEntry.queries("ta31_doc_chunks")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getString(3)))).toMap
    var checked = 0
    docs.foreach { case (id, tk) =>
      val n = tk.length
      val nChunks = if (n == 0) 0 else math.ceil(math.max(n - w, 0) / st.toDouble).toInt + 1
      (0 until nChunks).foreach { i =>
        val ctk = tk.slice(i * st, math.min(i * st + w, n))
        assert(got((id, i)) == ((ctk.length, md5hex(ctk.mkString(" ")))),
          s"doc $id chunk $i")
        checked += 1
      }
    }
    assert(checked == got.size, s"extra chunks: ${got.size - checked}")
    // The overlap actually exercises: some doc must produce >= 2 chunks.
    assert(got.keys.exists(_._2 >= 1), "no doc long enough to chunk twice")
  }

  // pl06: driver-side recomputation of the packed context from ss02's
  // retrieved ranks and ta26's subword counts — the budget rule (rank
  // prefix, never-empty) and the rank-ordered assembly md5 must both
  // reproduce.
  test("pl06 packs a rank-prefix context under the token budget") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val topk = SparkEntry.queries("ss02_ivf_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val toks = graft.operators.Bpe.docSubwords(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = topk.groupBy(_._1).map { case (q, rows) =>
      val sorted = rows.sortBy(_._3)
      var cum = 0L
      val kept = sorted.flatMap { t =>
        cum += toks(t._2)
        if (cum <= 230 || t._3 == 1) Some(t) else None
      }
      q -> ((kept.length.toLong, kept.map(t => toks(t._2)).sum,
        md5hex(kept.map(t => texts(t._2)).mkString(" "))))
    }
    val got = SparkEntry.queries("pl06_rag_context")(spark, sfDir)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == expect, s"got $got\nexpected $expect")
    // The budget actually binds somewhere AND never empties a context.
    assert(got.values.exists(_._1 < 3), "budget never truncated — raise fixture sizes?")
    assert(got.values.forall(_._1 >= 1))
  }

  // ta36: sequential driver-side gradient descent over collected
  // integer features must reproduce the distributed training curve
  // exactly (weights and accuracy per round), and training must
  // actually improve on the entering (all-zero) accuracy.
  test("ta36 classifier training curve equals a sequential recomputation") {
    val toks = "filter(split(text, ' '), x -> x <> '')"
    val feats = graft.sources.Tables.documents(spark, sfDir).select(
        col("doc_id"),
        expr(s"size($toks)").cast("long").as("n"),
        expr(s"size(array_distinct($toks))").cast("long").as("u"),
        expr(s"size(filter($toks, x -> array_contains(" +
          "array('the','a','of','and','in','to','is'), x)))").cast("long").as("h"),
        when(col("lang") === "en", 1000000L).otherwise(0L).as("y"))
      .collect().map { r =>
        val (n, u, h) = (r.getLong(1), r.getLong(2), r.getLong(3))
        Array(r.getLong(4), 1000000L, math.min(n * 10000, 1000000L),
          if (n > 0) u * 1000000 / n else 0L, if (n > 0) h * 1000000 / n else 0L)
      } // (y, f0, f1, f2, f3)
    val w = Array(0L, 0L, 0L, 0L)
    val expect = (1 to 3).map { r =>
      var ok = 0L
      val g = Array(0L, 0L, 0L, 0L)
      feats.foreach { fr =>
        val z = (0 to 3).map(i => w(i) * fr(i + 1)).sum / 1000000L
        val p = 500000L + z * 1000000L / (2L * (1000000L + math.abs(z)))
        if ((p >= 500000L) == (fr(0) == 1000000L)) ok += 1
        for (i <- 0 to 3) g(i) += (fr(0) - p) * fr(i + 1) / 1000000L
      }
      for (i <- 0 to 3) w(i) += g(i) / feats.length
      (r, w(0), w(1), w(2), w(3), ok)
    }.toList
    val got = SparkEntry.queries("ta36_classifier_train")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toList
    assert(got == expect, s"got $got\nexpected $expect")
    // Training binds: post-round-1 accuracy beats the all-zero model's.
    assert(got(1)._6 > got(0)._6, s"no improvement in the curve: $got")
  }

  // ta35: full driver-side recomputation of the deterministic
  // fractional-epoch expansion, plus the property that the fractional
  // branch actually splits a source's docs both ways on the fixture.
  test("ta35 epoch upsampling equals a driver-side recomputation") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(s: String): Long = java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.flatMap { case (id, src) =>
      val centi = (bucket(src) % 3) match {
        case 0 => 250L; case 1 => 125L; case _ => 50L
      }
      val n = centi / 100 + (if (bucket(id.toString) % 100 < centi % 100) 1 else 0)
      (1 to n.toInt).map(c =>
        (id, src, c, bucket(s"$id:$c") & 0xffffffffL))
    }.toSet
    val got = SparkEntry.queries("ta35_epoch_upsample")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got == expect,
      s"extra=${(got diff expect).take(5)} missed=${(expect diff got).take(5)}")
    // The fractional branch must bind: some source where per-doc copy
    // counts differ (the 25/50-percent remainder splits its docs).
    val perDoc = got.toSeq.groupBy(t => (t._2, t._1)).map { case ((s2, id), rows) =>
      (s2, id, rows.size)
    }
    val splitSources = perDoc.groupBy(_._1).filter(_._2.map(_._3).toSet.size > 1)
    assert(splitSources.nonEmpty, "no source exercised the fractional remainder")
  }

  // pl07: driver-side recomputation of the cluster-balanced sample —
  // cells from ss05's integer argmin (recomputed here from raw
  // embeddings), quality from ta03, per-cell top-5 by (quality desc,
  // doc_id asc). Also pins the balance property itself: every cell
  // with at least one candidate contributes to the sample (a global
  // quality cut collapses onto the highest-quality cells instead).
  test("pl07 diversity sample equals a driver-side recomputation") {
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000, 0) as bigint))")
          .as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val ctr = vecs.filter(_._1 < 10).map { case (id, v) => id.toInt -> v }.sortBy(_._1)
    val cellOf = vecs.map { case (id, v) =>
      id -> ctr.map { case (cid, cv) =>
        (v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min._2
    }.toMap
    val qual = SparkEntry.queries("ta03_quality_score")(spark, sfDir)
      .select(col("doc_id"), col("quality"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = cellOf.toSeq.collect { case (id, cid) if qual.contains(id) =>
      (cid, id, qual(id))
    }.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(t => (-t._3, t._2)).take(5)
    }.toSet
    val got = SparkEntry.queries("pl07_diverse_sample")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect,
      s"extra=${(got diff expect).take(5)} missed=${(expect diff got).take(5)}")
    // Cluster balance — the property a global quality cut does NOT
    // have: every cell with at least one candidate is represented.
    val nonEmptyCells = cellOf.toSeq
      .collect { case (id, cid) if qual.contains(id) => cid }.toSet
    assert(got.map(_._1) == nonEmptyCells,
      s"cells missing from the sample: ${nonEmptyCells diff got.map(_._1)}")
  }

  // pl10: driver-side per-cell recomputation of the SemDeDup prune —
  // cells+distances from ss05's integer argmin, cosine via the same
  // float→double fold and 6-dp HALF_UP rounding, drop rule applied
  // INSIDE cells only. Cross-cell near-dup pairs exist on the fixture
  // (checked below), so per-cell ≠ global pruning here — matching the
  // per-cell recompute proves pruning never crossed a cell.
  test("pl10 semantic prune equals a per-cell driver recomputation; never crosses cells") {
    val rows = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val quant = rows.map { case (id, e) =>
      id -> e.map(x => math.round(x.toDouble * 1000))
    }.toMap
    val ctr = quant.filter(_._1 < 10).map { case (id, v) => id.toInt -> v }
    val cellOf = quant.map { case (id, v) =>
      id -> ctr.map { case (cid, cv) =>
        (v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = a.map(x => x.toDouble * x.toDouble).sum
      val nb = b.map(x => x.toDouble * x.toDouble).sum
      BigDecimal(dot / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val emb = rows.toMap
    val byCell = cellOf.groupBy(_._2._2)
    val droppedInCell = byCell.values.flatMap { members =>
      val ms = members.toSeq.map { case (id, (d2, _)) => (id, d2) }
      val ord = Ordering.Tuple2[Long, Long]
      ms.collect { case (a, da) if ms.exists { case (b, db) =>
        b != a && ord.lt((db, b), (da, a)) && cos(emb(a), emb(b)) >= 0.4 } => a }
    }.toSet
    // GLOBAL pruning would drop more: the fixture has cross-cell
    // near-dup pairs, so the "never crosses cells" claim is exercised,
    // not vacuous.
    val crossPairExists = cellOf.toSeq.combinations(2).exists {
      case Seq((a, (_, ca)), (b, (_, cb))) =>
        ca != cb && cos(emb(a), emb(b)) >= 0.4
      case _ => false
    }
    assert(crossPairExists, "fixture has no cross-cell near-dup pair — shielding untested")
    val expect = cellOf.collect {
      case (id, (d2, cid)) if !droppedInCell(id) => (cid, id, d2)
    }.toSet
    val got = SparkEntry.queries("pl10_semantic_prune")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(droppedInCell.nonEmpty, "fixture exercises no in-cell pruning")
    assert(got == expect,
      s"extra=${(got diff expect).take(5)} missed=${(expect diff got).take(5)}")
    // Plan: pairwise comparison must key on the cell id — a cartesian
    // product would be the global pairwise the cells exist to avoid.
    val p = SparkEntry.queries("pl10_semantic_prune")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "pl10 pairwise went cartesian:\n" + p.take(2000))
  }

  // mm09: the banded pair join is EXACT for hamming <= 2 (pigeonhole
  // over 3 bands), so it must equal brute force; the hash itself must
  // match an independent driver recompute of the gradient bits from
  // the payload's md5 derivation.
  test("mm09 banded phash pairs equal brute force on a driver recompute") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def phash(text: String): Long = {
      val p = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map(_ & 0xff)
      var h = 0L
      for (i <- 0 until 15) if (p(i) < p(i + 1)) h |= 1L << i
      for (i <- 0 until 12) if (p(i) < p(i + 4)) h |= 1L << (15 + i)
      h
    }
    val hs = docs.map { case (id, t) => (id, phash(t)) }
    val expect = (for {
      (a, ha) <- hs; (b, hb) <- hs
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb))).toSet
    assert(expect.nonEmpty, "fixture has no near-dup blobs — banding untested")
    val got = SparkEntry.queries("mm09_phash_neardup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expect,
      s"extra=${(got diff expect).take(5)} missed=${(expect diff got).take(5)}")
  }

  // componentsOf: the star-rewriting CC must label a LONG CHAIN — the
  // adversarial shape that puts min-label propagation at O(diameter)
  // rounds (mm11's real pair graph hit exactly this) — plus disjoint
  // components and interleaved ids, inside the fixed round cap.
  test("componentsOf labels a 60-node chain and disjoint components exactly") {
    import spark.implicits._
    val path = (0L until 59L).map(i => (i, i + 1))
    val tri = Seq((100L, 102L), (102L, 101L), (101L, 100L))
    val pair = Seq((200L, 201L))
    val labels = Dedup.componentsOf((path ++ tri ++ pair).toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 65)
    assert((0L to 59L).forall(labels(_) == 0L), "chain not fully labeled to its min")
    assert(Seq(100L, 101L, 102L).forall(labels(_) == 100L))
    assert(labels(200L) == 200L && labels(201L) == 200L)
  }

  // ss15: the delete leg of the index lifecycle — merge-on-read serving
  // over (index-with-tombstones, ledger) must equal the post-compaction
  // probe; tombstoned ids must be PHYSICALLY gone from the compacted
  // artifact; and cells without deletions must be byte-identical across
  // the compaction (only affected cell dirs rewritten).
  test("ss15 delete lifecycle: merge-on-read ≡ compacted probe; untouched cells byte-identical") {
    import graft.operators.Similarity
    val audit = Similarity.ivfDeleted(spark, sfDir)
    // Affected = some but not all cells (tombstones confined to label<5).
    assert(audit.affected.nonEmpty && audit.affected.forall(_ < 5))
    // Physical removal: no tombstoned id survives in the compacted index.
    val live = spark.read.parquet(audit.live)
    assert(live.filter(col("vec_id") % 7 === 3 && col("label") < 5).count() == 0,
      "tombstoned rows survived compaction")
    // Merge-on-read over the ORIGINAL index (still holding the rows)
    // must serve the identical answer the compacted index serves.
    val q = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding").as("e"))
      .withColumn("nrm",
        graft.functions.VectorFunctions.vecDot(col("e"), col("e")))
      .filter(col("vec_id") % 50 === 0)
    val mor = Similarity.probeWithTombstones(q,
      spark.read.parquet(audit.live).unionByName( // reconstruct pre-state:
        spark.read.parquet(audit.tomb)            // tombstoned rows rejoin
          .select(col("vec_id"))
          .join(graft.sources.Tables.embeddings(spark, sfDir), Seq("vec_id"))
          .select(col("vec_id"), col("embedding").as("e"), col("label"))
          .withColumn("nrm",
            graft.functions.VectorFunctions.vecDot(col("e"), col("e")))
          .select(col("vec_id"), col("e"), col("nrm"), col("label"))),
      spark.read.parquet(audit.tomb))
    val post = SparkEntry.queries("ss15_ivf_delete_compact")(spark, sfDir)
    assert(mor.count() == post.count())
    assert(mor.except(post).isEmpty && post.except(mor).isEmpty,
      "merge-on-read serving diverges from the compacted index")
    // Byte audit: cells outside the affected set untouched by the rewrite.
    def cellOf(rel: String): Option[Int] =
      "label=(\\d+)".r.findFirstMatchIn(rel).map(_.group(1).toInt)
    val untouched = (0 until 10).toSet -- audit.affected.toSet
    def restrict(m: Map[String, (Long, Long)]) =
      m.filter { case (k, _) => cellOf(k).exists(untouched) }
    assert(restrict(audit.preFiles).nonEmpty, "nothing untouched to compare")
    assert(restrict(audit.postFiles) == restrict(audit.preFiles),
      "untouched cell directories changed across delete compaction")
  }

  // Hot-cell guard: cell-local pairwise consumers (pl10) are bounded by
  // a per-cell membership cap — an adversarial ALL-ONE-CELL corpus of
  // bit-identical vectors (every distance tied, the worst case for both
  // occupancy and the tiebreak) must re-split BALANCED, bounding the
  // candidate-pair count at N²/k instead of N²; cold inputs must pass
  // through untouched; and the real fixture must sit under the cap, so
  // pl10's unguarded oracle remains the ground truth.
  test("hot-cell guard re-splits a degenerate cell balanced and is inert when cold") {
    import spark.implicits._
    import graft.operators.Similarity
    val n = 12
    val cells = (0L until n).map(i => (i, 0, 0L)).toDF("vec_id", "cid", "d2")
    val vecs = (0L until n).map(i => (i, Seq(0L, 0L))).toDF("vec_id", "v")
    val out = Similarity.hotCellResplit(cells, vecs, cap = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // k = ceil(12/4) = 3 sub-cells, rotation tiebreak ⇒ exactly balanced.
    val bySub = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySub.size == 3, s"expected 3 sub-cells, got $bySub")
    assert(bySub.values.forall(_ == 4), s"unbalanced split: $bySub")
    // Candidate-pair bound: sum n_i² = 48 ≪ 144 = N².
    assert(bySub.values.map(c => c.toLong * c).sum <= (n.toLong * n) / 3)
    // Identical vectors ⇒ distance-to-seed 0 everywhere.
    assert(out.forall(_._3 == 0L))
    // Deterministic: a second run assigns identically.
    val out2 = Similarity.hotCellResplit(cells, vecs, cap = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq == out2.sortBy(_._1).toSeq)
    // Cold input (nothing over the cap): byte-for-byte pass-through.
    val cold = Similarity.hotCellResplit(cells, vecs, cap = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(cold == (0L until n).map(i => (i, 0, 0L)).toSet)
    // The real fixture never trips the guard — pl10's oracle stays the
    // unguarded recompute.
    val mx = Similarity.kmeansCellsDist(spark, sfDir)
      .groupBy(col("cid")).count().agg(max(col("count"))).head().getLong(0)
    assert(mx <= Similarity.CellCap,
      s"fixture has a hot cell ($mx > ${Similarity.CellCap}) — oracle invalid")
  }

  // mm10: the production-shaped wide-hash tier — the derived band
  // layout must clear the corpus-scale occupancy floor (>= 2^15
  // buckets/band, the SimHash design rule) while covering the hash
  // exactly, a sub-floor configuration must refuse to build, and the
  // banded join must equal brute force (pigeonhole exactness at
  // hamming <= 2) against an independent driver recompute of the
  // 60-bit gradient hash from the v3 raster payload.
  test("mm10 band layout clears the occupancy floor; banded pairs equal brute force") {
    val layout = Multimodal.bandLayout(Multimodal.WideHashBits, 2, 15)
    assert(layout.size == 3, "radius 2 needs exactly 3 pigeonhole bands")
    assert(layout.forall(_._2 >= 15),
      s"a band is under 2^15 buckets: $layout")
    assert(layout.map(_._2).sum == Multimodal.WideHashBits &&
      layout.map(_._1) == layout.scanLeft(0)(_ + _._2).init,
      s"bands do not tile the hash: $layout")
    // The occupancy guard itself: mm09's 27-bit hash CANNOT be banded
    // at production discipline — it must refuse, not plan an O(n²) join.
    intercept[IllegalArgumentException] {
      Multimodal.bandLayout(27, 2, 15)
    }
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def phashW(text: String): Long = {
      val g = text.take(66).padTo(66, ' ').map(_.toInt) // ASCII bytes
      var h = 0L
      for (b <- 0 until Multimodal.WideHashBits) {
        val r = b / 10; val c = b % 10
        if (g(r * 11 + c) < g(r * 11 + c + 1)) h |= 1L << b
      }
      h
    }
    val hs = docs.map { case (id, t) => (id, phashW(t)) }
    val expect = (for {
      (a, ha) <- hs; (b, hb) <- hs
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb))).toSet
    assert(expect.nonEmpty, "fixture has no wide-hash near-dups — banding untested")
    val got = SparkEntry.queries("mm10_phash_wide_neardup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expect,
      s"extra=${(got diff expect).take(5)} missed=${(expect diff got).take(5)}")
  }

  // Decode-failure sentinels must never masquerade as duplicates: two
  // malformed blobs share phash -1, so unfiltered they would pair at
  // hamming 0 (and mm11 would cluster them). phashBands excludes the
  // sentinel; legit pairs are unaffected.
  test("phash sentinel rows are excluded from banding and pair output") {
    import spark.implicits._
    // Non-ASCII text makes hex(rpad(text)) yield > 66 payload bytes —
    // the v3 length check fails and phashWideOf emits the -1 sentinel.
    val docs = Seq(
      (1L, "tötally nön-ascii tëxt with ümlaut paddings here yes"),
      (2L, "ალსო ბად ბლობ"), // also multi-byte
      (3L, "plain ascii text one two three four five six seven"),
      (4L, "plain ascii text one two three four five six seven")
    ).toDF("doc_id", "text")
    val ph = Multimodal.phashWideOf(docs)
    val sentinels = ph.filter(col("phash") === -1L)
      .collect().map(_.getLong(0)).toSet
    assert(sentinels == Set(1L, 2L),
      s"expected docs 1,2 to decode-fail, got $sentinels")
    val pairs = Multimodal.bandedPhashPairs(
        ph, Multimodal.WideHashBits, 2, 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 4L)),
      s"sentinel rows leaked into the pair output: $pairs")
  }

  // Sub-cell namespacing guard: a parent cid that would overflow (or
  // alias) the cid*2^16+seed namespace must refuse loudly, not emit
  // colliding cell ids.
  test("hot-cell guard refuses a cid outside the sub-cell namespace") {
    import spark.implicits._
    import graft.operators.Similarity
    val n = 12
    val cells = (0L until n).map(i => (i, 40000, 0L)).toDF("vec_id", "cid", "d2")
    val vecs = (0L until n).map(i => (i, Seq(0L, 0L))).toDF("vec_id", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.hotCellResplit(cells, vecs, cap = 4).collect()
    }
    assert(e.getMessage.contains("namespacing"), e.getMessage)
  }

  // mm11: blob survivorship must agree with a driver union-find over
  // mm09's pair graph + a max-pixels representative scan — the same
  // answer through a wholly different algorithm.
  test("mm11 phash survivorship equals a driver union-find recompute") {
    val pairs = SparkEntry.queries("mm09_phash_neardup")(spark, sfDir)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    def px(id: Long): Long =
      (16 + (id * 7919 + 13) % 4080) * (16 + (id * 104729 + 7) % 4080)
    val members = parent.keys.toSeq.groupBy(find)
    val expect = members.map { case (root, ms) =>
      val best = ms.minBy(m => (-px(m), m))
      (root, ms.size.toLong, ms.map(px).sum, best, px(best))
    }.toSet
    val got = SparkEntry.queries("mm11_phash_survivorship")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expect,
      s"extra=${(got diff expect).take(3)} missed=${(expect diff got).take(3)}")
  }

  // mm12: the takedown manifest must be the CLOSURE of the seed set
  // under perceptual-cluster membership — every cluster touching a
  // manifest member is fully contained, the expansion is non-vacuous
  // (real neardup rows on the fixture), and nothing outside
  // seeds ∪ their clusters leaks in.
  test("mm12 takedown manifest is the exact seed-cluster closure") {
    val pairs = SparkEntry.queries("mm09_phash_neardup")(spark, sfDir)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allDocs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0))
    val seeds = allDocs.filter(id =>
      id % Multimodal.TakedownSeedMod == Multimodal.TakedownSeedRem).toSet
    val seedRoots = seeds.filter(parent.contains).map(find)
    val expect = seeds ++ parent.keys.filter(m => seedRoots(find(m)))
    val got = SparkEntry.queries("mm12_takedown_propagation")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == expect,
      s"extra=${(got.keySet diff expect).take(3)} " +
        s"missed=${(expect diff got.keySet).take(3)}")
    assert(got.count(_._2 == "neardup") > 0,
      "no propagation on the fixture — the expansion is vacuous")
    assert(got.forall { case (id, reason) =>
      (reason == "seed") == seeds(id)
    }, "reason labels disagree with the seed predicate")
  }

  // pl05: full driver-side recomputation of the composed web-curation
  // pipeline (extract -> paragraph dedup -> quality gate -> exact
  // dedup) — the structural ground truth (4 extracted blocks per doc,
  // both injected boilerplate paragraphs dropped everywhere) falls out
  // of the recompute matching.
  test("pl05 web curation equals a driver-side recomputation") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").filter(_.nonEmpty)))
    // Stage 1: extraction keeps exactly [boiler1, p1, p2, boiler2].
    val boiler1 = "subscribe to our newsletter today"
    val boiler2 = "all rights reserved by the site owner"
    val blocks = docs.map { case (id, lang, tk) =>
      val half = math.ceil(tk.length / 2.0).toInt
      (id, lang, Vector(boiler1, tk.take(half).mkString(" "),
        tk.drop(half).mkString(" "), boiler2))
    }
    // Stage 2: drop blocks in >= 3 distinct docs.
    val df = blocks.flatMap { case (id, _, bs) => bs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).distinct.size }
    val drop = df.collect { case (b, n) if n >= 3 => b }.toSet
    assert(drop.contains(boiler1) && drop.contains(boiler2))
    val cleaned = blocks.map { case (id, lang, bs) =>
      (id, lang, bs.filterNot(drop).mkString(" "))
    }
    // Stage 3: ta03's quality formula; stage 4: min-id canonical.
    def quality(txt: String): Double = {
      val tk = txt.split(" ").filter(_.nonEmpty)
      if (tk.isEmpty) 0d
      else {
        val n = tk.length.toDouble; val u = tk.distinct.length.toDouble
        BigDecimal(math.min(n / 100d, 1d) * 0.5 + (u / n) * 0.5)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val pass = cleaned.filter { case (_, _, txt) => quality(txt) >= 0.5 }
    val canon = pass.groupBy(_._3).map { case (_, xs) => xs.map(_._1).min }.toSet
    val expect = cleaned.groupBy(_._2).map { case (lang, xs) =>
      val p = pass.filter(_._2 == lang)
      lang -> ((xs.size.toLong, 4L * xs.size,
        xs.map { case (id, _, txt) =>
          blocks.find(_._1 == id).get._3.count(b => !drop(b)).toLong }.sum,
        p.size.toLong, p.count(x => canon(x._1)).toLong))
    }
    val got = SparkEntry.queries("pl05_web_curation")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expect, s"got $got\nexpected $expect")
  }

  // dd16 must agree with dd09: same clusters (member counts), kept doc
  // is a member with the maximal n_chars in its cluster.
  test("keep-best representatives are maximal cluster members") {
    val labels = SparkEntry.queries("dd09_dedup_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chars = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = SparkEntry.queries("dd16_keep_best")(spark, sfDir).collect()
    assert(kept.map(_.getLong(1)).sum == labels.size, "member counts disagree")
    kept.foreach { r =>
      val (cid, keptDoc) = (r.getLong(0), r.getLong(3))
      assert(labels(keptDoc) == cid, s"kept doc $keptDoc not in cluster $cid")
      val clusterMax = labels.collect { case (d, c) if c == cid => chars(d) }.max
      assert(chars(keptDoc) == clusterMax, s"cluster $cid kept non-maximal doc")
    }
  }

  // dd18's distributed gaps-and-islands must equal a trivially-correct
  // single-machine recomputation of the ExactSubstr spans (test scale).
  test("dd18 spans equal a driver-side recomputation") {
    val n = 8
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val occ = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val grams = docs.map { case (id, text) =>
      val tk = text.split(" ").filter(_.nonEmpty)
      val gs =
        if (tk.length < n) Vector.empty[String]
        else (0 to tk.length - n).map(i => tk.slice(i, i + n).mkString(" ")).toVector
      gs.foreach(g => occ(g) += 1)
      id -> gs
    }
    val expected = grams.flatMap { case (id, gs) =>
      val dup = gs.zipWithIndex.collect { case (g, i) if occ(g) >= 2 => i }
      if (dup.isEmpty) None
      else {
        var spans = List.empty[(Int, Int)] // (start, lastGramStart)
        dup.foreach { i =>
          spans match {
            case (s0, last) :: rest if i - last <= n => spans = (s0, i) :: rest
            case _ => spans = (i, i) :: spans
          }
        }
        val dupTokens = spans.map { case (s0, last) => last + n - s0 }.sum
        Some(id -> ((spans.size.toLong, dupTokens.toLong)))
      }
    }.toMap
    val got = SparkEntry.queries("dd18_substring_spans")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"span mismatch: got=${got.size} exp=${expected.size}")
  }

  // q62's two-level percentile pipeline vs a driver-side exact median/MAD.
  test("q62 median/MAD outlier counts equal a driver-side recomputation") {
    def medianOf(xs: Array[Double]): Double = {
      val s = xs.sorted; val m = s.length
      if (m % 2 == 1) s(m / 2) else (s(m / 2 - 1) + s(m / 2)) / 2.0
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ev = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("event_type", "cast(round(value * 1e6) as bigint) as v")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.toDouble) }
    val got = SparkEntry.queries("q62_mad_outliers")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    ev.foreach { case (t, vs) =>
      val med = r6(medianOf(vs))
      val dev = vs.map(v => math.abs(v - med))
      val mad = r6(medianOf(dev))
      val outliers = dev.count(_ > 3 * mad).toLong
      assert(got(t) == ((vs.length.toLong, outliers)),
        s"$t: got=${got(t)} exp=(${vs.length}, $outliers)")
    }
  }

  // mm07: the batched extractor's output must be invariant to partition
  // and batch boundaries — repartitioning reshapes every grouped(32)
  // micro-batch, and the results must not move.
  test("mm07 batched inference is invariant to partitioning and batch shape") {
    import spark.implicits._
    val base = SparkEntry.queries("mm07_batch_infer")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(base.nonEmpty)
    val reshaped = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .repartition(1) // one giant partition → entirely different batching
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val m = java.security.MessageDigest.getInstance("MD5")
        it.grouped(32).flatMap(_.iterator.map { case (id, blob) =>
          m.reset(); val h = m.digest(blob)
          val emb = (0 until 8).map(i => ((h(i) & 0xff) - 128).toLong)
          (id, emb.sum, emb.map(x => x * x).sum)
        })
      }.collect().map { case (id, s0, n2) => id -> ((s0, n2)) }.toMap
    assert(base == reshaped, "batch boundaries changed mm07 output")
  }

  // The property that justifies dd19's content-defined chunking over
  // dd10's fixed grid: after an insertion, CDC boundaries re-synchronize
  // and the unchanged tail still dedups; fixed-grid chunks ALL shift.
  test("dd19 CDC chunks re-synchronize after an insertion; fixed grid does not") {
    import spark.implicits._
    val words = (0 until 1200).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).take(2).map(b => f"${b & 0xff}%02x").mkString)
    val orig = words.mkString(" ")
    val edited = ("EDITEDTOKEN" +: words).mkString(" ")
    val docs = Seq((1L, orig), (2L, edited)).toDF("doc_id", "text")
    val chunks = graft.operators.Dedup.cdcChunksOf(
      docs, graft.operators.Dedup.gramStreamPosOf(docs, 8), 8)
      .collect().map(r => (r.getLong(0), r.getString(3)))
    val a = chunks.filter(_._1 == 1L).map(_._2)
    val b = chunks.filter(_._1 == 2L).map(_._2).toSet
    val shared = a.count(b.contains)
    // Everything after the first boundary following the edit is
    // identical: expect nearly all of doc 1's chunks to reappear.
    assert(a.length >= 5, s"degenerate chunking: ${a.length} chunks")
    assert(shared >= a.length - 2,
      s"CDC did not re-synchronize: ${shared}/${a.length} chunks shared")
    // The fixed 64-token grid shares NOTHING once everything shifts by 1.
    val fixedA = words.grouped(64).map(_.mkString(" ")).toSet
    val fixedB = ("EDITEDTOKEN" +: words).grouped(64).map(_.mkString(" ")).toSet
    assert(fixedA.intersect(fixedB).isEmpty,
      "fixed-grid chunks unexpectedly survived the shift")
  }

  // Pins the session-window BOUNDARY semantics q28/q64's oracles must
  // mirror: an event landing exactly on the session end (ts == prev
  // event's ts + gap).
  test("session_window boundary: event at exactly ts+gap") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-01 00:00:00", "click"), // dyn gap 5m -> end 00:05
      (1L, "2024-01-01 00:05:00", "view"),  // exactly on the end
      (2L, "2024-01-01 00:00:00", "view"),  // 30m -> end 00:30
      (2L, "2024-01-01 00:30:00", "view"),  // exactly on the end
      (3L, "2024-01-01 00:00:00", "click"),
      (3L, "2024-01-01 00:04:59", "view")   // strictly inside
    ).toDF("user_id", "ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val dynGap = when(col("event_type") === "click",
        expr("make_interval(0,0,0,0,0,5,0)"))
      .otherwise(expr("make_interval(0,0,0,0,0,30,0)"))
    def sessions(gapped: org.apache.spark.sql.DataFrame) = gapped
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dyn = sessions(df.groupBy(session_window(col("ts"), dynGap), col("user_id"))
      .agg(count(lit(1))))
    val stat = sessions(df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1))))
    // Spark MERGES an event landing exactly on the session end (the
    // overlap test treats the window as a closed interval), so the
    // q28/q64/st04/st14 oracles must break islands STRICTLY
    // (`ts > prev_end -> new`). Verified here for both gap forms; this
    // spec exists because the fixtures' sub-second-random timestamps
    // never exercise the boundary, so the oracle gate alone can't.
    assert(dyn === Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"dynamic: $dyn")
    assert(stat === Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"static 30m: $stat")
  }

  // dq05's value proven POSITIVELY: the driver's generator emits
  // duplicate (l_orderkey, l_linenumber) pairs — a real composite-key
  // defect in the fixture itself (143k surplus rows at sf0.1) that this
  // audit exists to surface — while every single-column PK is clean.
  // A vacuous all-zeros audit would prove nothing.
  test("dq05 detects the fixture's real lineitem composite-key duplication") {
    val rows = SparkEntry.queries("dq05_pk_uniqueness")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.size == 10, s"expected 10 audited keys, got ${rows.size}")
    rows.filterNot(_._1.startsWith("lineitem")).foreach {
      case (k, (_, _, dup)) =>
        assert(dup == 0L, s"$k: unexpected $dup duplicate-key rows")
    }
    val (n, dk, dup) = rows("lineitem.(l_orderkey,l_linenumber)")
    assert(dup > 0L && dup == n - dk,
      s"lineitem composite-key duplication not detected (n=$n keys=$dk dup=$dup)")
  }

  // dq04: every vector must trace to a document (the provenance
  // direction the curation stack depends on); the reverse direction may
  // legitimately be partial (the generator embeds a doc subset at
  // larger SFs), so text-only is only bounded, not pinned to zero.
  test("dq04: every embedding pairs with a document") {
    val r = SparkEntry.queries("dq04_modality_pairing")(spark, sfDir).collect()(0)
    val (docs, vecs, paired, textOnly, vecOnly) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(vecOnly == 0L, s"$vecOnly vectors have no source document")
    assert(paired == vecs, s"paired=$paired != vecs=$vecs")
    assert(textOnly == docs - paired)
  }

  // ss12: the index-maintenance lifecycle must change LAYOUT, never
  // ANSWERS — probe parity across base+delta (pre-compaction) and the
  // compacted artifact, and compaction must actually leave one file per
  // cell directory (the small-file debt the op exists to pay down).
  test("ss12 refresh: compaction is answer-preserving and one-file-per-cell") {
    val (raw, compacted) = Similarity.ivfRefreshedDirs(spark, sfDir)
    def cellFiles(p: String): Map[String, Int] =
      new java.io.File(p).listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("label="))
        .map(cd => cd.getName -> cd.listFiles.count(_.getName.endsWith(".parquet")))
        .toMap
    val rawF = cellFiles(raw); val cF = cellFiles(compacted)
    assert(rawF.keySet == cF.keySet, s"cell set changed: $rawF vs $cF")
    assert(cF.values.forall(_ == 1), s"compacted cells not single-file: $cF")
    assert(rawF.values.sum > cF.values.sum,
      s"compaction did not reduce files: $rawF -> $cF")
    // Probe parity through st22's serving partial (same shared probe).
    def probe(dir: String) =
      Similarity.ivfServePartial(
        graft.sources.Tables.embeddings(spark, sfDir), spark.read.parquet(dir))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(probe(raw) == probe(compacted),
      "compaction changed probe answers")
  }

  // mm02's decoder is a real byte parser now — the malformed-input path
  // (which the well-formed fixture can never exercise) must fail loudly
  // with the sentinel row, not poison downstream arithmetic.
  test("mm02 GRF-v2 decoder rejects corrupt blobs with the sentinel") {
    val good = Array[Byte](0x89.toByte, 'G', 'R', 'P', 2,
      0, 100, 0, 50) ++ new Array[Byte](16)
    val g = Multimodal.decodeGrf2(7L, good)
    assert(g == DecodedMeta(7L, 100, 50, "png", 5000L), g.toString)
    val badMagic = good.clone(); badMagic(0) = 0x42
    assert(Multimodal.decodeGrf2(7L, badMagic).format == "invalid")
    val badTag = good.clone(); badTag(3) = 'X'
    assert(Multimodal.decodeGrf2(7L, badTag).format == "invalid")
    val badVersion = good.clone(); badVersion(4) = 3
    assert(Multimodal.decodeGrf2(7L, badVersion).format == "invalid")
    assert(Multimodal.decodeGrf2(7L, good.take(10)).format == "invalid")
  }

  // dq10: the histogram-refinement engine must land on exactly the value
  // a global sort would pick, including under heavy duplication, negative
  // values, and extreme percentiles — the distributions where bucket
  // boundary arithmetic goes wrong if it is going to.
  test("dq10 refinement equals the sort-based quantile on adversarial data") {
    import spark.implicits._
    val data: Seq[Long] = Seq.fill(500)(42L) ++ (-200L to 300L) ++
      Seq(Long.MinValue / 4, Long.MaxValue / 4, 0L, 0L, 0L)
    val pcts = Seq(1, 25, 50, 75, 99, 100)
    val got = Profile.exactQuantiles(spark, data.toDF("c"), pcts)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sorted = data.sorted
    pcts.foreach { p =>
      val r = math.max(1L, (p.toLong * sorted.size + 99L) / 100L)
      assert(got(p) == sorted((r - 1).toInt),
        s"p$p: got ${got(p)}, want ${sorted((r - 1).toInt)}")
    }
  }

  // dq10 on the fixture: percentiles are monotone and present in the data.
  test("dq10 fixture percentiles are monotone non-decreasing") {
    val rows = SparkEntry.queries("dq10_exact_quantiles")(spark, sfDir)
      .orderBy(col("p_pct")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(50, 90, 99))
    val vs = rows.map(_.getLong(1))
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b }, vs.mkString(","))
  }

  // dq03: the generated fixtures are referentially intact — every edge
  // audits to zero orphans, with full child counts.
  test("dq03 finds zero orphans on the intact fixture star") {
    val rows = SparkEntry.queries("dq03_referential_integrity")(spark, sfDir)
      .collect()
    assert(rows.length == 5, s"expected 5 edges, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(1) > 0, s"${r.getString(0)}: empty child side")
      assert(r.getLong(3) == 0L, s"${r.getString(0)}: ${r.getLong(3)} orphans")
    }
  }
}
