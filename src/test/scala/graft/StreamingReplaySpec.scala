package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.Streams

/** Pins the ingest-leg guarantees the streaming dedup operators CLAIM:
  *
  *  - st17: merge-on-read equals the one-shot batch dedup for ANY batch
  *    split, and is unchanged when an at-least-once foreachBatch replays
  *    a batch (duplicate partials under the same batch_id).
  *  - st19: the incremental signature-ledger union equals dd03's batch
  *    all-pairs for a DIFFERENT split than the registered query uses
  *    (3-way here vs 2-way there), and replaying a middle step changes
  *    nothing.
  *
  * These are the properties that make the operators safe on a real
  * at-least-once feed — asserted directly on the extracted per-batch
  * functions, no streaming machinery needed.
  */
class StreamingReplaySpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir)

  test("st17 partials merge to the batch dedup under any split + replay") {
    val expected = docs
      .groupBy(md5(lower(trim(col("text")))).as("content_key"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
    // 3-way split (the registered query streams a 2-way split) with
    // batch 1 REPLAYED: its partial is appended twice, as an
    // at-least-once foreachBatch would after a sink-commit failure.
    val partials = Seq(
      Streams.exactDedupPartial(docs.filter(col("doc_id") % 3 === 0), 0L),
      Streams.exactDedupPartial(docs.filter(col("doc_id") % 3 === 1), 1L),
      Streams.exactDedupPartial(docs.filter(col("doc_id") % 3 === 1), 1L), // replay
      Streams.exactDedupPartial(docs.filter(col("doc_id") % 3 === 2), 2L)
    ).reduce(_ unionByName _)
    val merged = Streams.exactDedupMerge(partials)
    assert(merged.count() == expected.count())
    assert(merged.except(expected).isEmpty && expected.except(merged).isEmpty)
  }

  test("st19 ledger union equals dd03 all-pairs under a 3-way split + replay") {
    val tmp = System.getProperty("java.io.tmpdir")
    val (bandsDir, setsDir, outDir) = (
      s"$tmp/graft_spec_st19_bands", s"$tmp/graft_spec_st19_sets",
      s"$tmp/graft_spec_st19_out")
    Streams.neardupSeed(docs.limit(0), bandsDir, setsDir, outDir)
    val splits = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    Streams.neardupStep(splits(0), bandsDir, setsDir, outDir)
    Streams.neardupStep(splits(1), bandsDir, setsDir, outDir)
    Streams.neardupStep(splits(1), bandsDir, setsDir, outDir) // replay
    Streams.neardupStep(splits(2), bandsDir, setsDir, outDir)
    val got: DataFrame = spark.read.parquet(outDir).distinct()
    val expected = graft.operators.Dedup
      .queries("dd03_minhash_lsh_pairs")(spark, sfDir)
    assert(got.count() == expected.count(),
      s"pair counts differ: got ${got.count()}, expected ${expected.count()}")
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("st36 phash ledger union equals mm10 banded pairs under a 3-way split + replay") {
    val tmp = System.getProperty("java.io.tmpdir")
    val (bandsDir, outDir) = (
      s"$tmp/graft_spec_st36_bands", s"$tmp/graft_spec_st36_out")
    Streams.phashSeed(docs.limit(0), bandsDir, outDir)
    val splits = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    Streams.phashStep(splits(0), bandsDir, outDir)
    Streams.phashStep(splits(1), bandsDir, outDir)
    Streams.phashStep(splits(1), bandsDir, outDir) // replay
    Streams.phashStep(splits(2), bandsDir, outDir)
    val got = spark.read.parquet(outDir).distinct()
    val expected = graft.operators.Multimodal
      .queries("mm10_phash_wide_neardup")(spark, sfDir)
    assert(got.count() == expected.count(),
      s"pair counts differ: got ${got.count()}, expected ${expected.count()}")
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("st19 ledger compaction collapses delta files without changing content") {
    val tmp = System.getProperty("java.io.tmpdir")
    val (bandsDir, setsDir, outDir) = (
      s"$tmp/graft_spec_lc19_bands", s"$tmp/graft_spec_lc19_sets",
      s"$tmp/graft_spec_lc19_out")
    def dataFiles(dir: String) =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    Streams.neardupSeed(docs.limit(0), bandsDir, setsDir, outDir)
    val splits = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    // maxDeltas = 0: compact after EVERY step — the hostile cadence.
    // Fixture rows sit far under one file budget, so each ledger
    // collapses to a single hash-bucketed file.
    Streams.neardupStep(splits(0), bandsDir, setsDir, outDir, maxDeltas = 0)
    assert(dataFiles(bandsDir).size == 1 && dataFiles(setsDir).size == 1,
      s"compaction did not collapse the ledgers: " +
        s"bands=${dataFiles(bandsDir).size} sets=${dataFiles(setsDir).size}")
    val compacted = graft.sources.Scratch
      .snapshotTree(new java.io.File(bandsDir))
    // A later append below threshold must leave the compacted file
    // byte-identical (appends only ADD deltas — io07's discipline).
    Streams.neardupStep(splits(1), bandsDir, setsDir, outDir,
      maxDeltas = 1000000)
    val after = graft.sources.Scratch
      .snapshotTree(new java.io.File(bandsDir))
    assert(compacted.forall { case (k, v) => after.get(k).contains(v) },
      "a sub-threshold append rewrote a compacted ledger file")
    assert(after.size > compacted.size, "append produced no delta files")
    Streams.neardupStep(splits(2), bandsDir, setsDir, outDir, maxDeltas = 0)
    assert(dataFiles(bandsDir).size == 1 && dataFiles(setsDir).size == 1)
    // Content preservation end-to-end: pairs through two compactions
    // still equal the batch all-pairs oracle.
    val got = spark.read.parquet(outDir).distinct()
    val expected = graft.operators.Dedup
      .queries("dd03_minhash_lsh_pairs")(spark, sfDir)
    assert(got.count() == expected.count() &&
      got.except(expected).isEmpty && expected.except(got).isEmpty,
      "pairs diverged from the batch oracle across compactions")
  }

  test("st36 ledger compaction + interrupted-swap recovery are content-preserving") {
    val tmp = System.getProperty("java.io.tmpdir")
    val (bandsDir, outDir) = (
      s"$tmp/graft_spec_lc36_bands", s"$tmp/graft_spec_lc36_out")
    def dataFiles(dir: String) =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    Streams.phashSeed(docs.limit(0), bandsDir, outDir)
    val splits = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    Streams.phashStep(splits(0), bandsDir, outDir, maxDeltas = 0)
    assert(dataFiles(bandsDir).size == 1)
    // Interrupted-swap window: the live dir was renamed away and the
    // complete (_SUCCESS-marked) compacted dir not yet promoted — the
    // next step's recovery must promote it, not fail or rebuild.
    val live = new java.io.File(bandsDir)
    assert(live.renameTo(new java.io.File(bandsDir + "_compacting")),
      "fixture: could not simulate the interrupted swap")
    Streams.phashStep(splits(1), bandsDir, outDir, maxDeltas = 0)
    // Dead-attempt window: junk _compacting WITHOUT _SUCCESS while the
    // live ledger is intact — recovery must discard it.
    val junk = new java.io.File(bandsDir + "_compacting")
    assert(junk.mkdirs())
    Streams.phashStep(splits(2), bandsDir, outDir, maxDeltas = 0)
    assert(!junk.exists(), "dead compaction attempt not discarded")
    assert(dataFiles(bandsDir).size == 1)
    val got = spark.read.parquet(outDir).distinct()
    val expected = graft.operators.Multimodal
      .queries("mm10_phash_wide_neardup")(spark, sfDir)
    assert(got.count() == expected.count() &&
      got.except(expected).isEmpty && expected.except(got).isEmpty,
      "pairs diverged from the batch oracle across compaction + recovery")
  }

  test("st38 streamed vector tombstones: replay-idempotent, merge-on-read ≡ post-compaction") {
    import org.apache.spark.sql.functions.lit
    import graft.operators.Similarity
    val tmp = System.getProperty("java.io.tmpdir")
    val live = s"$tmp/graft_spec_st38_live"
    val tombDir = s"$tmp/graft_spec_st38_tomb"
    val vecsAll = Similarity.vecs(spark, sfDir)
      .select(col("vec_id"), col("e"), col("nrm"), col("label"))
    vecsAll.write.mode("overwrite").partitionBy("label").parquet(live)
    vecsAll.filter(lit(false)).select(col("vec_id"), col("label"))
      .write.mode("overwrite").parquet(tombDir)
    val tombs = Similarity.vecs(spark, sfDir)
      .select(col("vec_id"), col("label"))
      .filter(col("vec_id") % 16 === 5 || col("vec_id") % 16 === 9)
    // 3-way split (the registered query streams 2 batches) with the
    // middle batch REPLAYED: deletes are self-collapsing, so no marker
    // protects this path — the replay must converge byte-for-byte.
    val splits = (0 to 2).map(r => tombs.filter(col("vec_id") % 3 === r))
    Streams.vecTombStep(splits(0), live, tombDir)
    Streams.vecTombStep(splits(1), live, tombDir)
    Streams.vecTombStep(splits(1), live, tombDir) // replay
    Streams.vecTombStep(splits(2), live, tombDir)
    assert(spark.read.parquet(live)
      .filter(col("vec_id") % 16 === 5 || col("vec_id") % 16 === 9).isEmpty,
      "tombstoned vector survived the streamed compaction")
    val q = Similarity.vecs(spark, sfDir).filter(col("vec_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // Post-compaction serve (pending ledger empty, anti-join a no-op).
    val got = rows(Similarity.probeWithTombstones(q,
      spark.read.parquet(live), spark.read.parquet(tombDir)))
    // Merge-on-read serve over a NEVER-compacted copy: full index +
    // full pending ledger — must answer identically.
    val gotMor = rows(Similarity.probeWithTombstones(q, vecsAll, tombs))
    // Ground truth: the probe over the surviving corpus.
    val expected = rows(Similarity.ivfProbe(q,
      vecsAll.join(tombs.select(col("vec_id")), Seq("vec_id"), "left_anti")))
    assert(got == expected, "post-compaction probe diverged from survivors")
    assert(gotMor == expected, "merge-on-read probe diverged from survivors")
  }

  test("deleteCompactCells recovers a crash between a cell's delete and its promote") {
    import graft.operators.Similarity
    import graft.sources.Scratch
    val tmp = System.getProperty("java.io.tmpdir")
    val live = s"$tmp/graft_spec_delrec_live"
    val vecsAll = Similarity.vecs(spark, sfDir)
      .select(col("vec_id"), col("e"), col("nrm"), col("label"))
    vecsAll.write.mode("overwrite").partitionBy("label").parquet(live)
    val tomb = vecsAll.filter(col("label") === 0 && col("vec_id") % 7 === 2)
      .select(col("vec_id"), col("label")).localCheckpoint()
    assert(tomb.count() > 0 && vecsAll.filter(col("label") === 0).count() > tomb.count(),
      "fixture: cell 0 needs both tombstones and survivors")
    // Reconstruct the EXACT crash window the kernel's contract covers:
    // a previous run fully staged cell 0's survivors (_SUCCESS marker
    // written), deleted the live cell dir, and died before the promote.
    val staging = new java.io.File(live + "_delcompact")
    spark.read.parquet(live).filter(col("label") === 0)
      .join(tomb.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("e"), col("nrm"), col("label"))
      .write.mode("overwrite").partitionBy("label").parquet(staging.getPath)
    Scratch.deleteRec(new java.io.File(live, "label=0"))
    val otherCellsPre = Scratch.snapshotTree(new java.io.File(live))
    // The replayed compaction (tombstones still pending) must PROMOTE
    // the committed staging — discarding it would destroy the only
    // remaining copy of cell 0's survivors.
    Similarity.deleteCompactCells(spark, live, tomb)
    val cell0 = spark.read.parquet(live).filter(col("label") === 0)
    assert(cell0.count() ==
      vecsAll.filter(col("label") === 0).count() - tomb.count(),
      "cell 0's survivors were lost across the crash window")
    assert(cell0.filter(col("vec_id") % 7 === 2).isEmpty,
      "a tombstoned vector survived the recovered compaction")
    // Untouched cells byte-identical through recovery + re-compaction.
    val otherCellsPost = Scratch.snapshotTree(new java.io.File(live))
      .filter { case (k, _) => !k.startsWith("/label=0") }
    assert(otherCellsPre.filter { case (k, _) => !k.startsWith("/label=0") }
      == otherCellsPost, "an untouched cell changed during recovery")
    assert(!staging.exists(), "staging not cleaned after recovery")
  }

  test("st24 streamed index ingest is split- and replay-invariant at compaction") {
    val emb = Tables.embeddings(spark, sfDir)
    val tmp = System.getProperty("java.io.tmpdir")
    def build(tag: String, splits: Seq[DataFrame], replayIdx: Int): DataFrame = {
      val raw = s"$tmp/graft_spec_st24_${tag}_raw"
      val dest = s"$tmp/graft_spec_st24_${tag}_c"
      Seq(raw, dest).foreach { p =>
        val h = new org.apache.hadoop.fs.Path(p)
        h.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(h, true)
      }
      (splits :+ splits(replayIdx)) // at-least-once re-append
        .foreach(b => Streams.indexIngestBatch(b, raw))
      Streams.indexCompact(spark, raw, dest)
      spark.read.parquet(dest)
    }
    val twoWay = build("a",
      Seq(emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0)), 0)
    val threeWay = build("b",
      (0 to 2).map(r => emb.filter(col("vec_id") % 3 === r)), 1)
    // Same index CONTENT regardless of split or replay…
    assert(twoWay.count() == emb.count(), "replay rows survived compaction")
    assert(twoWay.select(col("vec_id"), col("label"), col("nrm"))
      .except(threeWay.select(col("vec_id"), col("label"), col("nrm"))).isEmpty,
      "index content depends on the batch split")
    // …and identical probe answers through st22's serving partial.
    def probe(idx: DataFrame) =
      graft.operators.Similarity.ivfServePartial(emb, idx)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(probe(twoWay) == probe(threeWay))
  }

  test("st26 encode partials union to ta26's batch answer under split + replay") {
    // batchLocal = what st26 actually runs per trigger: the word-bucket-
    // pruned dict scan must be answer-invariant vs the batch encode.
    val dict = graft.operators.Bpe.bpeDict(spark, sfDir)
      .select(col("word"), col("s"), col("wbkt"))
    // 3-way split (the registered query streams a 2-way split), middle
    // batch replayed — byte-identical rows the read-back distinct kills.
    val partials = Seq(0, 1, 1, 2).map(r =>
      graft.operators.Bpe.subwordsPartial(
        docs.filter(col("doc_id") % 3 === r), dict, batchLocal = true))
      .reduce(_ unionByName _).distinct()
    val expected = graft.operators.Bpe.docSubwords(spark, sfDir)
    assert(partials.count() == expected.count())
    assert(partials.except(expected).isEmpty && expected.except(partials).isEmpty)
  }

  test("st27 chunk partials union to ta31's batch answer under split + replay") {
    val partials = Seq(0, 1, 1, 2).map(r =>
      graft.operators.TextAnalysis.chunksOf(
        docs.filter(col("doc_id") % 3 === r)))
      .reduce(_ unionByName _).distinct()
    val expected = graft.operators.TextAnalysis.chunksOf(docs)
    assert(partials.count() == expected.count())
    assert(partials.except(expected).isEmpty && expected.except(partials).isEmpty)
  }

  test("st29 drift partials merge to dq08's batch audit under split + replay") {
    import graft.operators.Profile
    val dn = docs.select(col("doc_id"), col("n_chars"))
    // 3-way split, middle batch replayed under the SAME batch_id —
    // (bucket, batch_id) dedup must absorb it before the sums.
    val partials = Seq((0, 0L), (1, 1L), (1, 1L), (2, 2L)).map { case (r, bid) =>
      Profile.driftBuckets(dn.filter(col("doc_id") % 3 === r))
        .withColumn("batch_id", lit(bid))
    }.reduce(_ unionByName _)
    val merged = partials
      .groupBy(col("bucket"), col("batch_id"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"))
      .select(col("bucket"), col("n_ref"), col("n_cur"))
    val got = Profile.driftFinalize(merged)
    val expected = graft.SparkEntry.queries("dq08_distribution_drift")(spark, sfDir)
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("st30 diverse-sample partials merge to pl07's batch answer under split + replay") {
    import graft.operators.{Curation, Similarity, TextAnalysis}
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val ctr = Similarity.kmeansCentroids(spark, sfDir)
    val qual = TextAnalysis.stagedQuality(spark, sfDir)
      .select(col("doc_id"), col("quality"), col("bkt"))
    // 3-way split with the middle batch replayed — distinct must absorb
    // the byte-identical replay before the bounded-heap merge.
    val partials = Seq(0, 1, 1, 2).map { r =>
      Curation.diversePartial(emb.filter(col("vec_id") % 3 === r), ctr, qual)
    }.reduce(_ unionByName _)
    val got = graft.plans.TopK.topKPerGroup(partials.distinct(),
      keys = Seq(col("cid")),
      order = Seq(col("quality").desc, col("doc_id").asc), k = 5)
    val expected = graft.SparkEntry.queries("pl07_diverse_sample")(spark, sfDir)
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("st28 serve partials union to pl06's batch answer under split + replay") {
    import graft.operators.{Bpe, Curation, Similarity}
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Similarity.ivfIndex(spark, sfDir)
    // What st28 actually runs per trigger: the bucket-pruned lookup-
    // artifact scan with the probe broadcast (ragAssembleLocal) — must
    // be answer-invariant vs pl06's batch-leg shuffle-hash assembly.
    val docServe = Curation.stagedDocServe(spark, sfDir)
    val assembled = Seq(0, 1, 1, 2).map { r =>
      val topk = Similarity
        .ivfServePartial(emb.filter(col("vec_id") % 3 === r), idx)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
      Curation.ragAssembleLocal(topk, docServe)
    }
    val partials = assembled.reduce(_ unionByName _).distinct()
    val expected = graft.SparkEntry.queries("pl06_rag_context")(spark, sfDir)
    assert(partials.count() == expected.count())
    assert(partials.except(expected).isEmpty && expected.except(partials).isEmpty)
  }

  test("pl04 curation partials merge identically under any split + replay") {
    val benchSet = graft.operators.Dedup.benchGramSet(spark, sfDir)
    def merged(splits: Seq[DataFrame], replayIdx: Int): DataFrame = {
      val parts = splits.zipWithIndex.map { case (b, i) =>
        Streams.curationPartial(b, i.toLong, benchSet)
      }
      val withReplay = parts :+ parts(replayIdx) // at-least-once re-append
      Streams.curationMerge(withReplay.reduce(_ unionByName _))
    }
    val twoWay = merged(
      Seq(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0)), 0)
    val threeWay = merged(
      (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r)), 1)
    assert(twoWay.count() > 0)
    assert(twoWay.except(threeWay).isEmpty && threeWay.except(twoWay).isEmpty,
      "curation result depends on the batch split")
  }
}
