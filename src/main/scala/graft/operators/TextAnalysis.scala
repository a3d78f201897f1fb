package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.{Scratch, Tables}

/** Text-analysis operators (SURVEY.md §2.5) over the `documents` table.
  *
  * The reference's MiddleFunc contract (/root/reference/pipe/node.go:19)
  * permits arbitrary per-element text processing inside a node; here each
  * pattern a training-data pipeline needs (token stats, language ID,
  * quality scoring, fingerprinting, TF-IDF, n-grams) is a declarative
  * Spark plan built purely from codegen'd built-ins — no UDFs, so
  * whole-stage codegen spans the entire pipeline and column pruning
  * reaches the parquet scan (only `doc_id`/`text` are read).
  *
  * Scale notes (100 TB):
  *   - Everything here is embarrassingly parallel per document except the
  *     df/tfidf join (ta05) and global bigram counts (ta06), which are
  *     single-shuffle hash aggregations with map-side partial combine.
  *   - Cross-engine determinism: token sums are exact integers; every
  *     emitted double is `round(x, 6)`; ranking always happens on the
  *     *rounded* value with a lexical tiebreaker so Spark and the DuckDB
  *     oracle agree bit-for-bit.
  */
object TextAnalysis {

  /** Non-empty whitespace tokens of `text` (SQL-expression form so the
    * same lambda works inside any surrounding expression). */
  private val toks = "filter(split(text, ' '), x -> x <> '')"

  /** ta35's fractional-epoch copy materialization, extracted relation-
    * parametric so the tensor materialization (ta39, which emits each
    * copy's token ids into the training stream) runs the IDENTICAL
    * copy-count arithmetic — a drifted reimplementation there would
    * silently break the copy-count conservation ta39's spec pins.
    * Output: (doc_id, source, copy_idx ∈ [1, n_copies], ord_key). */
  private[graft] def epochCopies(docs: DataFrame): DataFrame = {
    val centi = expr(
      "CASE cast(conv(substring(md5(source), 1, 8), 16, 10) as bigint) % 3 " +
        "WHEN 0 THEN 250 WHEN 1 THEN 125 ELSE 50 END")
    val bucket = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100")
    docs
      .select(col("doc_id"), col("source"), centi.as("centi"),
        bucket.as("bucket"))
      .select(col("doc_id"), col("source"),
        (expr("centi div 100") +
          when(col("bucket") < col("centi") % 100, 1L).otherwise(0L))
          .as("n_copies"))
      .select(col("doc_id"), col("source"),
        explode(expr(
          "CASE WHEN n_copies > 0 THEN sequence(1, cast(n_copies as int)) " +
            "ELSE cast(array() as array<int>) END")).as("copy_idx"))
      .select(col("doc_id"), col("source"), col("copy_idx"),
        expr("cast(conv(substring(md5(concat(cast(doc_id as string), ':', " +
          "cast(copy_idx as string))), 1, 8), 16, 10) as bigint)").as("ord_key"))
  }

  /** ta31's window rule, parametric over the document relation so the
    * streaming chunking leg (st27) chunks each micro-batch with the
    * SAME in-row pass the batch op uses — chunking is per-doc, so batch
    * boundaries cannot change it (qualityOf's discipline). W=64-token
    * windows at stride S=48; n ≤ W → one chunk; full coverage with the
    * final chunk never fully contained in its predecessor. */
  private[graft] def chunksOf(docs: DataFrame): DataFrame = {
    val (w, st) = (64, 48)
    docs
      .select(col("doc_id"), expr(toks).as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("tk"), col("n"),
        explode(expr(
          s"sequence(0, cast(ceil(greatest(n - $w, 0) / $st.0) as int))"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"slice(tk, chunk_idx * $st + 1, least($w, n - chunk_idx * $st))")
          .as("ctk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ctk")).as("n_tokens"),
        md5(concat_ws(" ", col("ctk"))).as("chunk_md5"))
  }

  /** ta03's quality relation, parametric over the document relation so
    * the streaming curation leg (pl04) scores each micro-batch with the
    * SAME pipeline the batch gate uses — quality is per-doc, so batch
    * boundaries cannot change it. */
  private[graft] def qualityOf(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(expr(toks)).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_tf"), sum(col("c")).as("n_toks"),
           count(lit(1)).as("n_uniq"))
    tf.select(
      col("doc_id"),
      round(least(col("n_toks").cast("double") / 100d, lit(1d)), 6).as("len_score"),
      round(col("n_uniq").cast("double") / col("n_toks"), 6).as("diversity"),
      round(col("max_tf").cast("double") / col("n_toks"), 6).as("max_tf_ratio"),
      round(
        least(col("n_toks").cast("double") / 100d, lit(1d)) * 0.5
          + (col("n_uniq").cast("double") / col("n_toks")) * 0.5, 6).as("quality"))
  }

  /** [[qualityOf]] staged to parquet once per fixture (the gram-index /
    * Bpe.stagedDocStats discipline) — the keyed lookup a PER-MICRO-BATCH
    * consumer (st30's streaming diversity sampling) joins against:
    * recomputing the corpus quality aggregation per trigger would be a
    * corpus scan per batch. */
  private[graft] def stagedQuality(s: SparkSession, d: String): DataFrame =
    // Bucket-partitioned by doc_id (Scratch.ServeBuckets): the
    // per-trigger consumer (st30) routes its batch's buckets into the
    // scan as PartitionFilters instead of reading the whole
    // corpus-sized relation every micro-batch.
    Scratch.stagedParquet(s, d, "qual", partCols = Seq("bkt"))(
      qualityOf(Tables.documents(s, d))
        .withColumn("bkt", pmod(col("doc_id"),
          lit(Scratch.ServeBuckets.toLong)).cast("int")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- Token statistics: counts + average token length. Narrow (no
    //    shuffle) — one pass over the scan, codegen end-to-end.
    "ta01_token_stats" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        expr(s"size($toks)").as("n_tokens"),
        expr(s"size(array_distinct($toks))").as("n_unique"),
        round(
          expr(s"aggregate(transform($toks, x -> length(x)), 0, (a, x) -> a + x)")
            .cast("double") / expr(s"size($toks)"), 6).as("avg_tok_len"))
    }),

    // -- Language ID, n-gram-heuristic style: score = share of tokens in a
    //    tiny function-word set; thresholds bucket into en/mixed/other.
    //    The scoring table is a broadcast-sized constant folded into the
    //    plan (array_contains on a literal array).
    "ta02_lang_id" -> ((s, d) => {
      val stop = "array('the','a','of','and','in','to','is')"
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          expr(s"size(filter($toks, x -> array_contains($stop, x)))")
            .cast("double").as("hits"),
          expr(s"size($toks)").cast("double").as("n"))
        .select(col("doc_id"), col("lang"),
          round(col("hits") / col("n"), 6).as("stop_ratio"),
          when(col("hits") / col("n") >= 0.15, "en")
            .when(col("hits") / col("n") >= 0.05, "mixed")
            .otherwise("other").as("pred_lang"))
    }),

    // -- Quality scoring: length score, lexical diversity, max-token
    //    repetition penalty, composite. The per-doc max token frequency
    //    needs one explode + two hash aggs (both partial-agg friendly).
    "ta03_quality_score" -> ((s, d) => qualityOf(Tables.documents(s, d))),

    // -- ADAPTIVE quality gating: the threshold is not a constant (ta03's
    //    fixed 0.5 in pl01) but each language's own exact median quality —
    //    the per-stratum dynamic cutoff a multilingual curation run needs
    //    (a fixed global bar over-prunes low-resource languages). Two
    //    aggregations + a broadcast of the per-lang medians back over the
    //    rows (q56's windowless discipline — no sort of the corpus).
    //    Medians are rounded to 6 dp in BOTH engines before the >=
    //    comparison (q36's cross-engine percentile convention), and
    //    quality itself is already a 6-dp-rounded value, so the boundary
    //    test is deterministic.
    "ta22_adaptive_quality_gate" -> ((s, d) => {
      val qual = queries("ta03_quality_score")(s, d)
        .select(col("doc_id"), col("quality"))
      val dq = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(qual, "doc_id")
      val med = dq.groupBy(col("lang"))
        .agg(round(expr("percentile(quality, 0.5)"), 6).as("median_q"))
      dq.join(broadcast(med), "lang")
        .groupBy(col("lang"), col("median_q"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("quality") >= col("median_q"), 1L).otherwise(0L))
               .as("n_kept"))
        .select(col("lang"), col("median_q"), col("n_docs"), col("n_kept"))
    }),

    // -- Document fingerprinting: whole-doc md5, a 1024-way shard bucket
    //    from its leading 8 hex digits, and a winnowing-style min-hash
    //    over word 3-gram shingles. Narrow; md5 is codegen'd.
    "ta04_fingerprint" -> ((s, d) => {
      // Stage the token array and normalized text once; downstream
      // expressions reference the columns instead of re-splitting.
      Tables.documents(s, d)
        .select(col("doc_id"), expr(toks).as("tk"))
        .filter(expr("size(tk) >= 3"))
        .withColumn("norm_text", concat_ws(" ", col("tk")))
        .withColumn("fp_md5", md5(col("norm_text")))
        .select(
          col("doc_id"),
          col("fp_md5"),
          (expr("cast(conv(substring(fp_md5, 1, 8), 16, 10) as bigint)") % 1024)
            .as("fp_bucket"),
          expr("array_min(transform(" +
            "transform(sequence(0, size(tk) - 3), " +
            "i -> concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2), ' ', element_at(tk, i + 3))), " +
            "g -> md5(g)))").as("min_shingle_md5"))
    }),

    // -- TF-IDF top-3 terms per document. Two hash aggs + a term-keyed
    //    SHUFFLE join with the document-frequency relation: the distinct-
    //    term count of a web corpus is billions (heavy tail), beyond any
    //    broadcast, even though token MASS concentrates in a small head.
    //    The tf side already shuffles on (doc_id, term), so the df join
    //    costs one term-keyed exchange per side and has no size ceiling.
    //    Ranking happens on the rounded score so both engines agree on
    //    ties; the 1-row doc count stays a broadcast nested loop.
    "ta05_tfidf_top3" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val term = docs.select(col("doc_id"), explode(expr(toks)).as("term"))
      val tf = term.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = term.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
      val scored = tf.hint("shuffle_hash").join(df_.hint("shuffle_hash"), "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rnk"))
    }),

    // -- Corpus-level word-bigram frequencies: shingle then one hash agg
    //    (map-side combine keeps the shuffle tiny — vocab², not corpus).
    "ta06_bigram_freq" -> ((s, d) => {
      // Index-explode: building the bigram in the outer projection keeps
      // the per-output work O(1) (exploding a constructed array would
      // re-run its lambda per output element — O(len²) per doc).
      Tables.documents(s, d)
        .select(expr(toks).as("tk"))
        .filter(expr("size(tk) >= 2"))
        .select(col("tk"), explode(expr("sequence(0, size(tk) - 2)")).as("i"))
        .select(expr("concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2))").as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
    }),

    // -- Exact heavy hitters (frequency > total/1000) with Misra-Gries
    //    candidate pruning — the 2-pass plan that works at 100 TB where
    //    a naive groupBy would shuffle the ENTIRE key domain (trillions
    //    of distinct n-grams) to answer a question about ~1000 keys.
    //    Pass 1: per-partition Misra-Gries summaries (k=1024 counters >
    //    1/φ=1000, so any key with global share > φ provably survives in
    //    at least one partition — pigeonhole over partition totals) plus
    //    per-partition stream totals, all in one mapPartitions; the
    //    summary relation is ≤ k+1 rows per partition and localCheckpoints
    //    so the corpus isn't rescanned for candidates vs total. Pass 2:
    //    exact counts for candidates only — the broadcast semi-join means
    //    the shuffle carries candidate keys, never the domain. Output is
    //    EXACT (candidate superset + exact verify), so the oracle is the
    //    plain SQL answer, no error-bound columns needed. The eviction
    //    path (domain >> k) is pinned by an adversarial spec; the fixture
    //    vocabulary is smaller than k so the fixture checks end-to-end
    //    plumbing, not eviction.
    "ta18_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      def bigrams = Tables.documents(s, d)
        .select(expr(toks).as("tk"))
        .filter(expr("size(tk) >= 2"))
        .select(col("tk"), explode(expr("sequence(0, size(tk) - 2)")).as("i"))
        .select(expr("concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2))").as("bigram"))
      val summaries = bigrams.as[String].mapPartitions { it =>
        val (np, survivors) = HeavyHitters.misraGries(it, 1024)
        Iterator((null: String, np)) ++ survivors.iterator.map((_, 0L))
      }.toDF("bigram", "np").localCheckpoint()
      val total = summaries.filter(col("bigram").isNull)
        .agg(sum(col("np")).as("total"))
      val cands = summaries.filter(col("bigram").isNotNull)
        .select(col("bigram")).distinct()
      bigrams.join(broadcast(cands), "bigram")
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * 1000 > col("total"))
        .select(col("bigram"), col("cnt"))
    }),

    // -- Regex ("BPE-ish") token counting: alpha runs extracted by
    //    regexp_extract_all; counts stay exact integers.
    "ta07_regex_tokens" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        expr("size(regexp_extract_all(text, '[a-z]+', 0))").as("n_alpha_runs"),
        expr("size(array_distinct(regexp_extract_all(text, '[a-z]+', 0)))").as("n_uniq_runs"))
    }),

    // -- Deterministic train/val/test split: assignment = md5(doc_id)
    //    mod 100 (80/10/10), so the split is reproducible across runs,
    //    partitionings, AND engines — the property a training pipeline
    //    needs for held-out integrity (a seeded random split is none of
    //    those things across engines). Narrow, no shuffle until the
    //    audit aggregation.
    "ta08_split_assign" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("split", splitCol)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(expr(s"size($toks)").cast("long")).as("n_tokens"))
    }),

    // -- Boilerplate detection (C4-style): word 3-grams appearing in many
    //    DISTINCT documents are boilerplate; each doc reports how much of
    //    it is boilerplate. One df-count shuffle over (gram, doc) pairs;
    //    the frequent-gram set is CORPUS-DERIVED (at web scale every
    //    template/navigation gram clears a df threshold — the set grows
    //    with the corpus, like ta21's eval grams), so the flag-back is a
    //    SHUFFLE HASH join on the 8-byte gram key, never a broadcast:
    //    both sides are already gram-keyed, one exchange each, no size
    //    ceiling, no driver materialization (PlanQualitySpec pins it).
    "ta10_boilerplate" -> ((s, d) => {
      // Staged write-once gram index (Dedup.stagedGrams): the df-count
      // branch and the probe branch both scan the materialized parquet
      // instead of re-evaluating the tokenize→shingle pipeline twice —
      // the corpus-scale curation shape. HASHED form: the md5 is paid
      // once at index build; every exchange (the df distinct, the
      // flag-back join key) carries 8-byte longs, never gram text —
      // identical df semantics on both engines (the oracle hashes the
      // same way; a 60-bit collision shifts both identically).
      val grams = Dedup.stagedGrams(s, d, 3)
      val frequent = grams.select(col("doc_id"), col("gh")).distinct()
        .groupBy(col("gh")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3)
        .select(col("gh"))
      grams.hint("shuffle_hash")
        .join(frequent.withColumn("is_boiler", lit(1)).hint("shuffle_hash"),
          Seq("gh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
             sum(coalesce(col("is_boiler"), lit(0))).cast("long").as("n_boiler"))
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          round(col("n_boiler").cast("double") / col("n_grams"), 6).as("boiler_ratio"))
    }),

    // -- Deterministic weighted mixture sampling: each source tier keeps
    //    a fixed fraction of its documents (100/50/10%), with membership
    //    decided by md5(doc_id) buckets — the training-mixture op, and
    //    like ta08 it is reproducible across runs, partitionings, and
    //    engines. Narrow until the per-source audit aggregation.
    "ta11_mixture_sample" -> ((s, d) => {
      val bucket = expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100")
      val tier = expr(
        "cast(conv(substring(md5(source), 1, 8), 16, 10) as bigint) % 3")
      Tables.documents(s, d)
        .withColumn("rate_pct",
          when(tier === 0, 100L).when(tier === 1, 50L).otherwise(10L))
        .withColumn("kept", (bucket < col("rate_pct")).cast("long"))
        .groupBy(col("source"), col("rate_pct"))
        .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
    }),

    // -- Blocklist redaction (PII-scrub shape): replace blocklisted terms
    //    with a placeholder and report how much was redacted. The regex
    //    is anchored on word boundaries and uses only RE2-compatible
    //    syntax so Spark (java.util.regex) and DuckDB (RE2) agree
    //    character-for-character. Narrow, codegen'd, no shuffle — the
    //    shape a PII pass (emails/phones/IDs) takes at 100 TB; only the
    //    pattern list differs. Redacted text is emitted as md5, not the
    //    string: verifying content equality without shipping the corpus.
    "ta12_blocklist_redact" -> ((s, d) => {
      val pat = "\\b(?:customer|vector|spark)\\b"
      // Inside a SQL literal the backslash must itself be escaped ('\b'
      // would parse as backspace); the Column-API regexp_replace takes
      // the pattern string verbatim.
      val patSql = pat.replace("\\", "\\\\")
      Tables.documents(s, d).select(
        col("doc_id"),
        expr(s"size(regexp_extract_all(text, '$patSql', 0))").as("n_redacted"),
        md5(regexp_replace(col("text"), pat, "[TERM]")).as("redacted_md5"))
    }),

    // -- PII detection + redaction (the production scrub pass ta12 is
    //    the shape of): per-doc counts of emails / IPv4s / phone numbers
    //    and an md5 of the fully-redacted text. The fixture corpus has
    //    no PII, so both engines deterministically augment it first
    //    (doc_id-derived emails/hosts/phones on a modular schedule) —
    //    the scan then exercises real multi-class extraction with known
    //    ground truth. RE2-compatible patterns only (no lookaround), so
    //    java.util.regex and DuckDB RE2 agree character-for-character.
    //    Narrow and codegen'd: no shuffle at any corpus size.
    "ta19_pii_scan" -> ((s, d) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ip = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
      val phone = "\\+1-[0-9]{3}-[0-9]{4}"
      def sqlPat(p: String) = p.replace("\\", "\\\\")
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string"), lit(" up")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today"))).otherwise(lit("")))
      Tables.documents(s, d)
        .withColumn("aug", aug)
        .select(
          col("doc_id"),
          expr(s"size(regexp_extract_all(aug, '${sqlPat(email)}', 0))")
            .as("n_emails"),
          expr(s"size(regexp_extract_all(aug, '${sqlPat(ip)}', 0))")
            .as("n_ips"),
          expr(s"size(regexp_extract_all(aug, '${sqlPat(phone)}', 0))")
            .as("n_phones"),
          md5(regexp_replace(regexp_replace(regexp_replace(
            col("aug"), email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>"))
            .as("redacted_md5"))
    }),

    // -- Train/test split LEAKAGE audit: does any held-out (val/test)
    //    document share an 8-token gram with the training split? The
    //    cross-split cousin of dd08's decontamination, and the audit a
    //    training pipeline must run after ta08's hash split (dedup can
    //    only remove near-identical docs; partial overlap still leaks).
    //    Scale shape: the eval gram set is a CORPUS-FRACTION-sized
    //    relation (20% of all distinct 8-grams) — far too big to
    //    broadcast at 100 TB (multi-TB driver/executor OOM). Both sides
    //    are already gram-keyed, so the right plan is a shuffle hash
    //    join on `gh`: one 8-byte-key exchange per side, no sort, no
    //    driver materialization. The hint pins that choice against
    //    auto-broadcast at fixture scale. Output: per held-out split,
    //    gram-bearing docs and how many leak.
    "ta21_split_leakage" -> ((s, d) => {
      val grams = Dedup.stagedGrams(s, d, 8)
        .withColumn("split", splitCol)
      val evalG = grams.filter(col("split") =!= "train")
        .select(col("split"), col("doc_id"), col("gh")).distinct()
      val trainG = grams.filter(col("split") === "train")
        .select(col("gh")).distinct()
      val leaky = trainG.hint("shuffle_hash").join(evalG.hint("shuffle_hash"), "gh")
        .groupBy(col("split"))
        .agg(countDistinct(col("doc_id")).as("n_leaky"))
      evalG.select(col("split"), col("doc_id")).distinct()
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .join(leaky, Seq("split"), "left")
        .select(col("split"), col("n_docs"),
          coalesce(col("n_leaky"), lit(0L)).as("n_leaky"))
    }),

    // -- N-gram novelty (dataset-growth signal): per doc, the fraction
    //    of its DISTINCT word 3-grams whose corpus-wide first occurrence
    //    (min doc_id) is this doc — "how much text that no earlier doc
    //    contributed". Reads the staged write-once HASHED gram index
    //    (ta10's discipline) twice instead of re-tokenizing; the only
    //    shuffles are the per-gram min (map-side combine over 8-byte
    //    keys) and the per-doc rollup. At 100 TB the first-occurrence
    //    relation is |vocab|-sized, not corpus-sized.
    "ta20_ngram_novelty" -> ((s, d) => {
      val grams = Dedup.stagedGrams(s, d, 3)
        .select(col("doc_id"), col("gh")).distinct()
      val firsts = grams.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
      grams.join(firsts, "gh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
             sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
               .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams"), 6)
            .as("novelty_ratio"))
    }),

    // -- Repetition signals (Gopher-style quality filters): per-doc top
    //    bigram concentration and duplicate-bigram mass. Explode + two
    //    hash aggs (ta03's scale shape — never a per-doc O(len²) array
    //    scan): both aggs partial-combine map-side, so the shuffle
    //    carries (doc, bigram) partial counts, not token streams.
    "ta13_repetition" -> ((s, d) => {
      Dedup.gramStrings(s, d, 2)
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bigrams"),
             count(lit(1)).as("n_uniq"))
        .select(col("doc_id"), col("n_bigrams").cast("long").as("n_bigrams"),
          round(col("top_c").cast("double") / col("n_bigrams"), 6).as("top_bigram_ratio"),
          round(lit(1d) - col("n_uniq").cast("double") / col("n_bigrams"), 6)
            .as("dup_bigram_ratio"),
          (col("top_c").cast("double") / col("n_bigrams") > 0.08).as("is_repetitive"))
    }),

    // -- Deterministic training-order shuffle: every document gets a
    //    (shard, position) that is a pure function of doc_id — the
    //    "global shuffle" step before sequence packing, reproducible
    //    across runs, partitionings, and engines (a rand() shuffle is
    //    none of those). Shard = md5 bucket; position = rank of a second,
    //    independent md5 within the shard. At 100 TB each shard sorts
    //    independently (the window partitions by shard — no global sort).
    "ta14_training_order" -> ((s, d) => {
      val shard = expr(
        "cast(conv(substring(md5(concat('sh', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 8")
      val ord = expr(
        "cast(conv(substring(md5(concat('ord', cast(doc_id as string))), 1, 15), 16, 10) as bigint)")
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("ord").asc, col("doc_id").asc)
      Tables.documents(s, d)
        .select(col("doc_id"), shard.as("shard"), ord.as("ord"))
        .withColumn("pos", row_number().over(w) - 1)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // -- Sequence packing: documents packed into fixed token-budget bins
    //    (4096) per language shard — the training-batch construction
    //    step. The budget counts BPE SUBWORD tokens (ta26's trained
    //    tokenizer — what a training batch actually holds), read from
    //    the staged dictionary's per-doc encoding, not whitespace
    //    tokens. Deterministic greedy-by-doc_id packing via windowed
    //    cumulative sum; partitioned by lang so no global window (the
    //    single-partition trap) — at 100 TB shards are the parallel unit.
    "ta09_sequence_packing" -> ((s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang")).hint("shuffle_hash")
        .join(Bpe.docSubwords(s, d).select(col("doc_id"), col("n_subwords"))
            .hint("shuffle_hash"),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_subwords").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        // Bin by the document's starting offset within its shard.
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          ((col("cum") - col("n_tokens")) / 4096L).cast("long").as("bin"))
    }),

    // -- Character-entropy quality signal (low-entropy text = keyboard
    //    mashing / repeated boilerplate; natural English ≈ 4.1 bits).
    //    The shared 27-bin histogram (entroBound below) — NO explode,
    //    NO shuffle, one pass per doc; exploding characters would
    //    multiply the row count by avg doc length (500× at 100 TB).
    //    Entropy uses the shuffle-free identity
    //    H = log2(n) − (Σ c·log2 c)/n; the quality bucket cuts on the
    //    ROUNDED value (cross-engine determinism convention) at
    //    thresholds no rounded value is expected to sit on.
    "ta15_char_entropy" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          expr(entroBound(entroH)).as("entropy_bits"))
        .withColumn("quality",
          when(col("entropy_bits") >= 3.95, "natural")
            .when(col("entropy_bits") >= 2.95, "mixed")
            .otherwise("low"))
    }),

    // -- Vocabulary build + OOV scoring — the tokenizer-training prep
    //    pass: corpus token counts (one explode → hash agg with
    //    map-side combine), a frequency cutoff that bounds the vocab,
    //    then each document scored for out-of-vocabulary mass against
    //    the vocab. The vocab is CORPUS-DERIVED and grows ~Heaps-law
    //    with corpus size (a df cutoff thins the tail but the kept head
    //    still scales with |corpus|), so the flag-back is a SHUFFLE
    //    HASH anti join on the token key — ta05's df-join discipline,
    //    one token-keyed exchange per side, no broadcast ceiling
    //    (PlanQualitySpec pins it). High-OOV docs are the noise/
    //    foreign/garbled candidates a curation pass drops or routes.
    "ta17_vocab_oov" -> ((s, d) => {
      val tokens = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr(toks)).as("tok"))
      val vocab = tokens.groupBy(col("tok"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 5)
        .select(col("tok"))
      // Per-doc OOV counts (only docs that HAVE oov tokens appear) …
      val oov = tokens.hint("shuffle_hash")
        .join(vocab.hint("shuffle_hash"), Seq("tok"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_oov"))
      // … joined back onto ALL documents so token-less docs (the
      // highest-priority garbage class) still get a row instead of
      // silently vanishing from the curation signal. n_tokens comes
      // from size() on the doc — no dependence on the explode stream.
      Tables.documents(s, d)
        .select(col("doc_id"), expr(s"size($toks)").cast("long").as("n_tokens"))
        .join(oov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          when(col("n_tokens") > 0,
            round(coalesce(col("n_oov"), lit(0L)).cast("double")
              / col("n_tokens"), 6)).otherwise(0.0).as("oov_rate"))
    }),

    // -- Character-LM scoring: cross-entropy of each doc's char
    //    distribution against a FIXED reference English model (letter
    //    frequencies × 0.75 + 0.25 "other" mass) — the cheap tier of
    //    perplexity-based quality filtering (a KenLM pass has the same
    //    plan shape: per-row fold against broadcast model constants).
    //    The model's log2-probs are precomputed on the driver and
    //    embedded as CAST(… AS DOUBLE) literals, so the reference-model
    //    side is the same IEEE value in both engines by construction;
    //    the doc-side log2 terms remain covered by the repo-wide
    //    round-6 convention. KL(doc ‖ english) = CE − H ranks "how
    //    un-English"; same explode-free histogram as ta15, no shuffle.
    "ta16_english_kl" -> ((s, d) => {
      val ce = entroBound(
        s"round(-aggregate(zip_with(cs2, array($refLog2Lits), (c, l) -> c * l), " +
        "cast(0 as double), (a, x) -> a + x) / greatest(length(lt), 1), 6)")
      Tables.documents(s, d)
        .select(col("doc_id"), expr(ce).as("ce_bits"),
          expr(entroBound(entroH)).as("h_bits"))
        .withColumn("kl_bits", round(col("ce_bits") - col("h_bits"), 6))
        .withColumn("englishness",
          when(col("kl_bits") < 0.45, "native")
            .when(col("kl_bits") < 1.45, "close")
            .otherwise("far"))
        .select(col("doc_id"), col("ce_bits"), col("kl_bits"), col("englishness"))
    }),

    // -- Model-based quality scoring: a fixed-weight LINEAR classifier
    //    over in-row features (the fastText-quality-classifier shape:
    //    featurize → w·x → squash → threshold). Features are ta03's
    //    length/diversity signals plus ta02's stopword ratio, all
    //    computed WITHOUT a shuffle (array_distinct instead of the
    //    explode+agg of ta03) — the whole classifier is one narrow
    //    codegen'd pass over the scan, which is exactly how a learned
    //    filter runs over 100 TB: embarrassingly parallel, no state.
    //    Cross-engine determinism BY CONSTRUCTION: every weight is an
    //    exactly-representable binary double (2.5, 2.0, 1.5, -2.0) and
    //    the squash is the RATIONAL sigmoid 0.5 + z/(2(1+|z|)) — only
    //    IEEE-exact +,*,/,abs, no libm exp — so Spark and DuckDB emit
    //    bit-identical scores before the 6-dp round even touches them.
    "ta23_quality_classifier" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(s"size($toks)").cast("double").as("n"),
          expr(s"size(array_distinct($toks))").cast("double").as("u"),
          expr(s"size(filter($toks, x -> array_contains(" +
            "array('the','a','of','and','in','to','is'), x)))")
            .cast("double").as("hits"))
        .select(col("doc_id"),
          when(col("n") > 0, least(col("n") / 100d, lit(1d))).otherwise(0d).as("f_len"),
          when(col("n") > 0, col("u") / col("n")).otherwise(0d).as("f_div"),
          when(col("n") > 0, col("hits") / col("n")).otherwise(0d).as("f_stop"))
        .withColumn("z",
          lit(-2.0d) + lit(2.5d) * col("f_len") + lit(2.0d) * col("f_div")
            + lit(1.5d) * col("f_stop"))
        .select(col("doc_id"),
          round(col("f_len"), 6).as("f_len"),
          round(col("f_div"), 6).as("f_div"),
          round(col("f_stop"), 6).as("f_stop"),
          round(lit(0.5d) + col("z") / (lit(2.0d) * (lit(1.0d) + abs(col("z")))), 6)
            .as("score"))
        .withColumn("keep", col("score") >= 0.55)
    }),

    // -- Corpus-trained bigram language model, add-one smoothing: per
    //    doc, average surprisal -log2 P(w2|w1) where P = (c(w1 w2)+1) /
    //    (c(w1)+V) with counts trained on THIS corpus — the KenLM-style
    //    perplexity filter, self-trained (the production shape: train
    //    counts on a trusted slice, score everything). Two gram-keyed
    //    hash aggregations build the model; scoring joins each doc's
    //    bigram stream to the model — all shuffles carry gram keys with
    //    map-side combine, the 100 TB-safe shape (ta05/ta20's).
    //    Cross-engine determinism: a distributed sum of doubles is
    //    order-dependent, so each bigram's surprisal is rounded to
    //    MICRO-BITS and cast to BIGINT first — the per-doc sum is then
    //    exact integer arithmetic in both engines (ta16 note: log2 of
    //    identical doubles is bit-identical across both engines' libm
    //    on this host — the ta15/ta16 family already leans on that).
    "ta24_bigram_lm_surprisal" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"))
        .join(surprisalScored(s, d), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          when(col("n_bigrams").isNotNull,
            round(col("sum_micro").cast("double") / 1e6 / col("n_bigrams"), 6))
            .otherwise(0d).as("avg_bits"))),

    // -- SURPRISAL-BAND PRUNING — perplexity-based data pruning, the
    //    selection pass the data-pruning literature converged on: drop
    //    the LOW-surprisal tail (templated/repetitive text the model
    //    learns for free) and the HIGH tail (noise/garbled text), keep
    //    the middle band. Composes two of the library's own engines:
    //    ta24's corpus-trained bigram-LM surprisal (exact integer
    //    micro-bits per doc) scores; dq10's exactQuantiles finds the
    //    p10/p90 cut VALUES without a global sort (the thresholds are 2
    //    longs — bounded driver state); banding is then one narrow
    //    pass. The scored relation is localCheckpoint'd so the
    //    refinement rounds re-scan 3 longs per doc, not the bigram
    //    pipeline (at 100 TB: a written score artifact, same move).
    //    All arithmetic integer → both engines agree on every boundary.
    "ta37_surprisal_prune" -> ((s, d) => {
      val scoreDf = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(surprisalScored(s, d), Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("n_bigrams").isNotNull && col("n_bigrams") > 0,
            expr("sum_micro div n_bigrams")).otherwise(0L).as("c"))
        .localCheckpoint()
      val th = Profile.exactQuantiles(s, scoreDf.select(col("c")), Seq(10, 90))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      scoreDf.select(col("lang"),
        when(col("c") < th(10), "pruned_low")
          .when(col("c") > th(90), "pruned_high")
          .otherwise("kept").as("band"))
        .groupBy(col("lang"), col("band"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // -- C4-STYLE INTRA-DOCUMENT LINE DEDUP — among the most-used
    //    curation passes: lines occurring in >= 3 DISTINCT documents
    //    (navigation / footer / subscribe boilerplate) are removed from
    //    every document, and each doc is REASSEMBLED from its surviving
    //    lines in order (C4's "discard any line repeated across the
    //    corpus" rule — dd18 finds cross-doc spans; this one REWRITES
    //    the docs). The fixture corpus has no newlines, so line
    //    structure is INJECTED deterministically on both engines
    //    (ta19's ground-truth discipline): content lines = the doc's
    //    tokens in 10-token chunks, plus known boilerplate lines on a
    //    modular doc_id schedule — the detector must drop exactly
    //    those. Scale shape: the positioned line-hash index
    //    (doc_id, idx, lh) is a STAGED write-once artifact (dd18's
    //    discipline) probed by both the df branch and the reassembly
    //    branch; every exchange carries 8-byte hashes or integer
    //    indexes, NEVER line text (plan-spec-pinned) — the kept-line
    //    text is re-derived in-row from the original doc at the end,
    //    where the join is doc_id-keyed. The drop set and the kept-
    //    index relation are corpus-derived → shuffle hash joins.
    "ta27_line_dedup" -> ((s, d) => {
      val idx = lineIndex(s, d)
      val dropSet = idx.select(col("doc_id"), col("lh")).distinct()
        .groupBy(col("lh")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3).select(col("lh"))
      val kept = idx.hint("shuffle_hash")
        .join(dropSet.hint("shuffle_hash"), Seq("lh"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("idx"))).as("kept_idx"))
      linedDocs(s, d).hint("shuffle_hash")
        .join(kept.hint("shuffle_hash"), Seq("doc_id"), "left")
        .withColumn("ki",
          coalesce(col("kept_idx"), expr("cast(array() as array<int>)")))
        .select(col("doc_id"),
          size(col("lines")).as("n_lines"),
          size(col("ki")).as("n_kept"),
          // concat_ws skips the NULLs the index filter leaves behind,
          // so the reassembled text is the kept lines '\n'-joined.
          md5(concat_ws("\n", expr(
            "transform(lines, (x, i) -> IF(array_contains(ki, i), x, NULL))")))
            .as("kept_md5"))
    }),

    // -- HTML/MARKUP BOILERPLATE EXTRACTION — the structural extractor
    //    that runs BEFORE ta10's statistical detector in any web-corpus
    //    pipeline: strip tags per block, keep blocks whose TEXT DENSITY
    //    is high and whose LINK-TEXT share is low (the boilerpipe/
    //    text-density family, public literature). The fixture has no
    //    markup, so each doc is wrapped in deterministic HTML on both
    //    engines (ta19's injected-ground-truth discipline): title/nav/
    //    ad/footer boilerplate blocks around two content paragraphs
    //    holding the real text — extraction must recover EXACTLY the
    //    original token stream (OperatorsSpec pins it). Density tests
    //    are integer-exact (2·txt >= raw, 2·link <= txt): no doubles,
    //    no cross-engine rounding. The whole operator is ONE narrow
    //    codegen'd pass — per-block metrics live in higher-order
    //    functions over the block array, so there is NO shuffle at any
    //    corpus size (the 100 TB shape: embarrassingly parallel,
    //    like ta23's classifier).
    "ta28_html_extract" -> ((s, d) => {
      val nav = """<div class="nav"><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></div>"""
      val ad = """<div class="ad">buy now <a href="/shop">click here for great deals</a></div>"""
      val footer = """<div class="footer"><a href="/terms">terms of service</a> | <a href="/privacy">privacy policy</a></div>"""
      Tables.documents(s, d)
        .select(col("doc_id"), expr(toks).as("tk"))
        .withColumn("half", expr("cast(ceil(size(tk) / 2.0) as int)"))
        .withColumn("p1", expr("concat_ws(' ', slice(tk, 1, half))"))
        .withColumn("p2",
          expr("concat_ws(' ', slice(tk, half + 1, greatest(size(tk) - half, 0)))"))
        .withColumn("html", concat_ws("\n",
          concat(lit("<html><head><title>document "),
            col("doc_id").cast("string"), lit("</title></head><body>")),
          lit(nav),
          concat(lit("<p>"), col("p1"), lit("</p>")),
          lit(ad),
          concat(lit("<p>"), col("p2"), lit("</p>")),
          lit(footer),
          lit("</body></html>")))
        .withColumn("bs", expr(
          """transform(split(html, '\n'), b -> struct(
               regexp_replace(b, '<[^>]*>', '') AS txt,
               length(b) AS raw_len,
               aggregate(regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1),
                 0, (a, x) -> a + length(x)) AS link_len))"""))
        .withColumn("kept", expr(
          "filter(bs, s -> 2 * length(s.txt) >= s.raw_len AND 2 * s.link_len <= length(s.txt))"))
        .select(col("doc_id"),
          size(col("bs")).as("n_blocks"),
          size(col("kept")).as("n_content"),
          expr("length(concat_ws(' ', transform(kept, s -> s.txt)))")
            .as("content_chars"),
          md5(expr("concat_ws(' ', transform(kept, s -> s.txt))"))
            .as("content_md5"))
    }),

    // -- OVERLAPPING TOKEN-WINDOW CHUNKING — the RAG-ingestion op that
    //    feeds pl06's other end: long documents are split into windows
    //    of W=64 tokens with stride S=48 (16-token overlap, so no
    //    sentence is ever orphaned at a boundary) before embedding.
    //    Window starts are 0, S, 2S, … up to ceil(max(n−W,0)/S) — a doc
    //    with n ≤ W yields exactly one chunk, and every token is
    //    covered with the final chunk never fully contained in its
    //    predecessor. One chunk row per window: (doc_id, chunk_idx,
    //    n_tokens, chunk_md5). The whole operator is explode + project
    //    — ZERO exchanges at any corpus size (the ta23/ta28 class:
    //    embarrassingly parallel, codegen'd end to end); chunk_md5 is
    //    what a downstream embed step keys its cache on.
    "ta31_doc_chunks" -> ((s, d) => chunksOf(Tables.documents(s, d))),

    // -- TEMPERATURE-SCALED SOURCE MIXTURE — the multilingual/multi-
    //    source sampling trick (α = 0.5 flattening: weight ∝ count^α,
    //    so a 100× bigger source gets only 10× the quota — low-resource
    //    sources aren't starved). Determinism: sqrt is IEEE
    //    correctly-rounded in BOTH engines (unlike a libm transcendental
    //    it is exact by the standard), immediately integer-ized to
    //    micro-units, so the normalization sum is an exact associative
    //    integer sum and the per-source epoch quota (10k-doc budget) is
    //    integer floor division — no float sum ever crosses rows. One
    //    source-keyed aggregation (map-side combined, O(sources)
    //    result) + a 1-row totals broadcast.
    "ta32_mixture_weights" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w_micro",
          expr("cast(round(sqrt(n_docs) * 1000000) as bigint)"))
      val tot = counts.agg(sum(col("w_micro")).as("w_total"))
      counts.crossJoin(broadcast(tot)) // 1-row totals — bounded class
        .select(col("source"), col("n_docs"), col("w_micro"),
          expr("w_micro * 10000 div w_total").as("quota_docs"))
    }),

    // -- FRACTIONAL-EPOCH UPSAMPLING — the MATERIALIZATION step between
    //    mixture weights (ta32) and training order (ta14): a source
    //    scheduled for 2.5 epochs must actually emit each of its docs
    //    2-or-3 times, deterministically. Per-source epoch targets in
    //    integer CENTI-epochs (ta11's tier hash: 250 / 125 / 50 — the
    //    50 branch is fractional DOWNsampling, copies ∈ {0, 1});
    //    every doc gets floor(centi/100) whole copies plus one more iff
    //    its md5 bucket < centi % 100 (ta08's engine-neutral hash), so
    //    the realized corpus-level ratio converges to the target while
    //    each doc's copy count is a pure function of its id — fully
    //    reproducible, resumable, no RNG state. Copies are emitted by
    //    an in-row sequence explode (narrow — the output shuffle is the
    //    consumer's concern, ta14's per-shard ordering) with a per-copy
    //    position key md5(doc_id:copy) for downstream shard ordering:
    //    copies of one doc scatter across the training stream instead
    //    of running back-to-back (the clumping the epoch trick exists
    //    to avoid).
    "ta35_epoch_upsample" -> ((s, d) => epochCopies(Tables.documents(s, d))),

    // -- QUALITY-CLASSIFIER TRAINING — the trainable version of ta23
    //    (which ships FIXED weights): full-batch logistic-regression
    //    gradient descent, distributed, in EXACT fixed-point integer
    //    arithmetic so the training curve is bit-identical cross-engine.
    //    This is the fastText-filter TRAINING step of a curation stack
    //    (fit the keep/drop classifier on labeled seed data, then ta23's
    //    shape scores the corpus). Shape per round (a fixed
    //    hyperparameter, ss08's Lloyd/BPE loop discipline): score every
    //    doc against the entering weights (narrow map — weights are a
    //    4-int MODEL), aggregate 4 gradient sums + an accuracy count
    //    (ONE corpus pass, map-side combined, 1-row result — the
    //    bounded-scalar class), update weights on the driver. Exactness:
    //    features/labels/predictions all in integer micro-units;
    //    sigmoid is ta23's rational approximation under truncating
    //    integer division (Spark `div` truncates toward zero; the
    //    DuckDB twin spells the symmetric CASE so negative gradients
    //    agree); gradient summands are per-doc integers, so the
    //    distributed sum is associative — no float ever crosses rows.
    //    i64 headroom: |summand| ≤ 1e6·1e6/1e6 = 1e6 per doc → safe to
    //    ~9e12 docs. Output = the 3-round training curve (weights after
    //    each update + entering-weights accuracy), which pins every
    //    round of the loop, not just the fixed point.
    "ta36_classifier_train" -> ((s, d) => {
      import s.implicits._
      trainClassifier(s, d)._1
        .toDF("round", "w_bias", "w_len", "w_div", "w_stop", "n_correct")
    }),

    // -- UNICODE NFC NORMALIZATION — the canonicalization pass every
    //    ingest pipeline runs before content hashing: composed (é =
    //    U+00E9) and decomposed (e + U+0301) spellings of the same text
    //    would otherwise fingerprint as DIFFERENT documents through
    //    dd01/ta04's md5 keys. Spark has no normalizer built-in, so this
    //    runs the native codegen'd [[graft.functions.NfcNormalize]]
    //    expression (a UDF would fence whole-stage codegen) — one narrow
    //    per-row pass, no shuffle, with an already-normalized quick-
    //    check fast path. The ASCII fixture is trivially NFC, so each
    //    doc is AUGMENTED with a byte-pinned decomposed suffix
    //    (65 CC 81 = 'e' + COMBINING ACUTE, ta19's injected-ground-truth
    //    discipline): NFC must compose it to é, shrinking the text by
    //    exactly one codepoint and changing the md5 — both engines
    //    (Normalizer.NFC here, DuckDB nfc_normalize there) must agree
    //    byte-for-byte on the result.
    "ta25_unicode_normalize" -> ((s, d) => {
      import graft.functions.NfcNormalize.nfc
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"),
            expr("cast(unhex('65CC81') as string)")).as("aug"))
        .select(col("doc_id"),
          length(col("aug")).as("n_chars_raw"),
          length(nfc(col("aug"))).as("n_chars_nfc"),
          md5(nfc(col("aug"))).as("nfc_md5"))
    })
  )

  /** ta27's injected boilerplate lines (known ground truth — every
    * doc_id % 2 == 0 doc gets [[lineBoiler1]] prepended, every
    * doc_id % 3 == 0 doc gets [[lineBoiler2]] appended; with >= 3 docs
    * in the corpus both clear the df threshold and MUST be dropped). */
  private val lineBoiler1 = "subscribe to our newsletter today"
  private val lineBoiler2 = "all rights reserved by the site owner"

  /** Line-structured view of the corpus: (doc_id, lines array<string>).
    * Content lines = 10-token chunks of the doc; boilerplate injected
    * per the modular schedule. Narrow, codegen'd, no shuffle. */
  private[graft] def linedDocs(s: SparkSession, d: String): DataFrame = {
    val lineArr =
      s"""concat(
          CASE WHEN doc_id % 2 = 0 THEN array('$lineBoiler1')
               ELSE cast(array() as array<string>) END,
          CASE WHEN size(tk) = 0 THEN cast(array() as array<string>) ELSE
            transform(sequence(0, cast(ceil(size(tk) / 10.0) as int) - 1),
              i -> concat_ws(' ', slice(tk, i * 10 + 1, 10))) END,
          CASE WHEN doc_id % 3 = 0 THEN array('$lineBoiler2')
               ELSE cast(array() as array<string>) END)"""
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toks).as("tk"))
      .select(col("doc_id"), expr(lineArr).as("lines"))
  }

  /** ta27's STAGED positioned line-hash index (doc_id, idx, lh) —
    * write-once per (application, fixture), probed by the df branch and
    * the reassembly branch (dd18's staged-gram-index discipline). Only
    * 8-byte hashes and integer positions hit storage or any exchange. */
  private[graft] def lineIndex(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "line_idx")(
      linedDocs(s, d)
        .select(col("doc_id"), posexplode(col("lines")).as(Seq("idx", "line")))
        .select(col("doc_id"), col("idx"),
          expr("cast(conv(substring(md5(line), 1, 15), 16, 10) as bigint)")
            .as("lh")))

  /** Shared ta15/ta16 histogram machinery: 26 replace-trick letter
    * counts (`cs`) + an "other" bin (`cs2`), each level lambda-bound
    * (see simhash) so CollapseProject cannot inline the 26-replace
    * pipeline once per element inside the downstream folds. */
  private val entroCs26 = "transform(sequence(97, 122), c -> " +
    "length(lt) - length(replace(lt, char(c), '')))"
  private def entroBound(body: String) =
    s"element_at(transform(array(lower(text)), lt -> " +
    s"element_at(transform(array($entroCs26), cs -> " +
    "element_at(transform(array(concat(cs, array(length(lt) - " +
    s"aggregate(cs, 0, (a, x) -> a + x)))), cs2 -> $body), 1)), 1)), 1)"
  /** Entropy body; greatest(n, 1) guards empty docs — both engines then
    * yield 0.0 where Spark's log2(0) is NULL but DuckDB's is an ERROR. */
  private val entroH =
    "round(log2(greatest(length(lt), 1)) - " +
    "aggregate(cs2, cast(0 as double), (a, x) -> a + x * log2(greatest(x, 1))) " +
    "/ greatest(length(lt), 1), 6)"

  /** Reference English letter frequencies (Lewand's public corpus
    * tables), scaled to 0.75 letter mass + 0.25 "other"; emitted as
    * exponent-suffixed literals (`…E0`) — an exponent literal is
    * native DOUBLE in BOTH engines and goes through each engine's
    * correctly-rounded decimal→binary parse, so both sides hold the
    * identical IEEE double. (CAST(<decimal> AS DOUBLE) does NOT give
    * that: DuckDB's DECIMAL→DOUBLE cast is off by 1 ulp for 4 of
    * these 27 constants — verified empirically.) */
  private val refLog2Lits: String = {
    val f = Seq(0.08167, 0.01492, 0.02782, 0.04253, 0.12702, 0.02228,
      0.02015, 0.06094, 0.06966, 0.00153, 0.00772, 0.04025, 0.02406,
      0.06749, 0.07507, 0.01929, 0.00095, 0.05987, 0.06327, 0.09056,
      0.02758, 0.00978, 0.02360, 0.00150, 0.01974, 0.00074)
    (f.map(_ * 0.75) :+ 0.25)
      .map { q =>
        val lit = (math.log(q) / math.log(2.0)).toString
        if (lit.contains("E") || lit.contains("e")) lit else lit + "E0"
      }
      .mkString(", ")
  }

  private val dtoks = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** ta03's oracle — shared verbatim by ta22's adaptive gate. */
  private val dQualitySql =
    """SELECT doc_id,
        round(least(CAST(n_toks AS DOUBLE) / 100, 1.0), 6) AS len_score,
        round(CAST(n_uniq AS DOUBLE) / n_toks, 6) AS diversity,
        round(CAST(max_tf AS DOUBLE) / n_toks, 6) AS max_tf_ratio,
        round(least(CAST(n_toks AS DOUBLE) / 100, 1.0) * 0.5
              + (CAST(n_uniq AS DOUBLE) / n_toks) * 0.5, 6) AS quality
        FROM (
          SELECT doc_id, max(c) AS max_tf, sum(c) AS n_toks, count(*) AS n_uniq
          FROM (SELECT doc_id, tok, count(*) AS c FROM (
                  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
                  FROM documents) GROUP BY doc_id, tok)
          GROUP BY doc_id)"""

  /** ta24's scored relation (doc_id, n_bigrams, sum_micro) — the
    * corpus-trained bigram-LM surprisal in exact integer micro-bits,
    * shared by ta24 (the per-doc report) and ta37 (band pruning). */
  private def surprisalScored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bi = docs
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr("size(tk) >= 2"))
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] as w1, tk[i] as w2))"))
          .as("g"))
      .select(col("doc_id"), col("g.w1"), col("g.w2"))
    // The trained model (distinct-bigram counts) is vocab²-bounded —
    // materialize it once (ta37's localCheckpoint discipline): its two
    // consumers below would otherwise each re-run the corpus explode,
    // and the unigram counts cu(w1) = Σ_w2 cb(w1,w2) derive from the
    // model directly — the separate bi.groupBy(w1) pass was a third
    // full explode plus an instance-stream exchange (guide §2.3/§2.4).
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .localCheckpoint()
    val uc = bc.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val vocab = docs.select(explode(expr(toks)).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bi
      .join(bc, Seq("w1", "w2"))
      .join(uc, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        expr("cast(round(-log2((cb + 1) / cast(cu + v as double)) * 1e6) as bigint)")
          .as("micro_bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(col("micro_bits")).as("sum_micro"))
  }

  /** ta08's deterministic split rule — md5 bucket (0..99) of the doc id
    * with 80/10/10 thresholds — ONE definition shared by the split
    * assigner (ta08) and the provenance ledger (pl14), so the
    * compliance column can never silently drift from the assignment a
    * retuned split would actually use. [[dbSplitCase]] is its DuckDB
    * twin, parametric in the id expression. */
  private[graft] def splitCol: org.apache.spark.sql.Column = {
    val b = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100")
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }
  private[graft] def dbSplitCase(id: String): String = {
    val b = s"CAST(concat('0x', substr(md5(CAST($id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
  }

  /** ta36's per-doc feature relation (doc_id, y, f0..f3) in exact
    * integer micro-units — shared by training (ta36) and the streaming
    * scoring leg (st31, which computes it per micro-batch). */
  private[graft] def classifierFeatures(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        expr(s"size($toks)").cast("long").as("n"),
        expr(s"size(array_distinct($toks))").cast("long").as("u"),
        expr(s"size(filter($toks, x -> array_contains(" +
          "array('the','a','of','and','in','to','is'), x)))")
          .cast("long").as("h"),
        when(col("lang") === "en", 1000000L).otherwise(0L).as("y"))
      .select(col("doc_id"), col("y"),
        lit(1000000L).as("f0"),
        least(col("n") * 10000, lit(1000000L)).as("f1"),
        when(col("n") > 0, expr("u * 1000000 div n")).otherwise(0L).as("f2"),
        when(col("n") > 0, expr("h * 1000000 div n")).otherwise(0L).as("f3"))

  /** ta36's 3-round full-batch GD loop: (training curve, final weights).
    * The trained MODEL is memoized per (application, fixture) — st31's
    * serving leg scores micro-batches against the same 4-long artifact
    * without re-running training per batch (the staged-index
    * discipline applied to a model instead of an index). */
  private val trainedModels =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[(Int, Long, Long, Long, Long, Long)], Array[Long])]
  private[graft] def trainClassifier(
      s: SparkSession, d: String): (Seq[(Int, Long, Long, Long, Long, Long)], Array[Long]) =
    trainedModels.getOrElseUpdate(s.sparkContext.applicationId + "|" + d, {
      val feats = classifierFeatures(Tables.documents(s, d)).localCheckpoint()
      val w = Array(0L, 0L, 0L, 0L)
      val curve = Seq.newBuilder[(Int, Long, Long, Long, Long, Long)]
      for (r <- 1 to 3) {
        val a = classifierScored(feats, w).agg(
          sum(expr("((y - p) * f0) div 1000000")).as("g0"),
          sum(expr("((y - p) * f1) div 1000000")).as("g1"),
          sum(expr("((y - p) * f2) div 1000000")).as("g2"),
          sum(expr("((y - p) * f3) div 1000000")).as("g3"),
          sum(when(expr("(p >= 500000) = (y = 1000000)"), 1L).otherwise(0L))
            .as("n_correct"),
          count(lit(1)).as("nd")).collect()(0)
        val nd = a.getLong(5)
        for (i <- 0 to 3) w(i) += a.getLong(i) / nd // Long./ truncates like div
        curve += ((r, w(0), w(1), w(2), w(3), a.getLong(4)))
      }
      (curve.result(), w)
    })

  /** Score a feature relation against a 4-weight model: z (logit) and p
    * (the rational-sigmoid probability), both exact integers — the
    * shared inner step of the training rounds and the serving leg. */
  private[graft] def classifierScored(feats: DataFrame, w: Array[Long]): DataFrame =
    feats
      .withColumn("z", expr(
        s"(${w(0)}L * f0 + ${w(1)}L * f1 + ${w(2)}L * f2 + ${w(3)}L * f3) div 1000000"))
      .withColumn("p", expr(
        "500000L + (z * 1000000) div (2 * (1000000 + abs(z)))"))

  /** st31's per-batch serving step: features → trained-model score →
    * (doc_id, p_micro, keep). Pure over any documents-shaped batch. */
  private[graft] def classifierServe(batch: DataFrame, w: Array[Long]): DataFrame =
    classifierScored(classifierFeatures(batch), w)
      .select(col("doc_id"), col("p").as("p_micro"),
        (col("p") >= 500000L).as("keep"))

  /** ta24's oracle CTE chain (bigram stream, counts, vocab, per-doc
    * integer surprisal sums) — shared verbatim with ta37's pruning
    * oracle so score and selection can never drift. */
  private def ta24Ctes: String =
    s"""ta24tk AS (SELECT doc_id, $dtoks AS tk FROM documents
                        WHERE len($dtoks) >= 2),
        ta24bi AS (SELECT doc_id,
            unnest(list_transform(range(len(tk) - 1), i -> tk[i+1])) AS w1,
            unnest(list_transform(range(len(tk) - 1), i -> tk[i+2])) AS w2
          FROM ta24tk),
        ta24bc AS (SELECT w1, w2, count(*) AS cb FROM ta24bi GROUP BY 1, 2),
        ta24uc AS (SELECT w1, count(*) AS cu FROM ta24bi GROUP BY 1),
        ta24v AS (SELECT count(DISTINCT w) AS v FROM
            (SELECT unnest($dtoks) AS w FROM documents)),
        ta24sc AS (SELECT doc_id, count(*) AS n_bigrams,
            sum(CAST(round(-log2((cb + 1) / CAST(cu + v AS DOUBLE)) * 1e6)
                AS BIGINT)) AS sum_micro
          FROM ta24bi JOIN ta24bc USING (w1, w2) JOIN ta24uc USING (w1), ta24v
          GROUP BY doc_id)"""

  /** Symmetric-truncating division for the DuckDB twins: Spark's `div`
    * truncates toward zero while DuckDB's `//` floors, so every division
    * that can see a negative numerator goes through this CASE. */
  private def tdiv(a: String, b: String) =
    s"(CASE WHEN ($a) >= 0 THEN ($a) // ($b) ELSE -((-($a)) // ($b)) END)"

  /** ta36's DuckDB twin: the same 3 GD rounds unrolled into CTEs from
    * the same constants (Bpe.withSqlPrefix's discipline). The CTE chain
    * (c36f features, c36w0..c36w3 weight states) is shared verbatim
    * with st31's scoring oracle. */
  private[graft] def ta36Ctes: String = {
    val rounds = (1 to 3).map { r =>
      val pw = s"c36w${r - 1}"
      s"""c36g$r AS (
            SELECT
              CAST(sum(${tdiv("(y - p) * f0", "1000000")}) AS BIGINT) AS g0,
              CAST(sum(${tdiv("(y - p) * f1", "1000000")}) AS BIGINT) AS g1,
              CAST(sum(${tdiv("(y - p) * f2", "1000000")}) AS BIGINT) AS g2,
              CAST(sum(${tdiv("(y - p) * f3", "1000000")}) AS BIGINT) AS g3,
              CAST(sum(CASE WHEN (p >= 500000) = (y = 1000000)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
              count(*) AS nd
            FROM (
              SELECT y, f0, f1, f2, f3,
                500000 + ${tdiv("z * 1000000", "2 * (1000000 + abs(z))")} AS p
              FROM (
                SELECT cf.*,
                  ${tdiv("w.w0 * f0 + w.w1 * f1 + w.w2 * f2 + w.w3 * f3", "1000000")}
                    AS z
                FROM c36f cf CROSS JOIN $pw w))),
          c36w$r AS (
            SELECT w.w0 + ${tdiv("g.g0", "g.nd")} AS w0,
                   w.w1 + ${tdiv("g.g1", "g.nd")} AS w1,
                   w.w2 + ${tdiv("g.g2", "g.nd")} AS w2,
                   w.w3 + ${tdiv("g.g3", "g.nd")} AS w3,
                   g.n_correct
            FROM $pw w CROSS JOIN c36g$r g)"""
    }.mkString(",\n")
    s"""c36f AS (
          SELECT doc_id,
            CAST(CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS BIGINT) AS y,
            CAST(1000000 AS BIGINT) AS f0,
            CAST(least(n * 10000, 1000000) AS BIGINT) AS f1,
            CAST(CASE WHEN n > 0 THEN u * 1000000 // n ELSE 0 END AS BIGINT) AS f2,
            CAST(CASE WHEN n > 0 THEN h * 1000000 // n ELSE 0 END AS BIGINT) AS f3
          FROM (
            SELECT doc_id, lang, len(tk) AS n, len(list_distinct(tk)) AS u,
              len(list_filter(tk, x -> list_contains(
                ['the','a','of','and','in','to','is'], x))) AS h
            FROM (SELECT doc_id, lang,
                    list_filter(string_split(text, ' '), x -> x <> '') AS tk
                  FROM documents))),
        c36w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                         CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
        $rounds"""
  }

  private def ta36Sql: String =
    s"""WITH $ta36Ctes
        SELECT CAST(1 AS INT) AS round, w0 AS w_bias, w1 AS w_len,
          w2 AS w_div, w3 AS w_stop, n_correct FROM c36w1
        UNION ALL SELECT 2, w0, w1, w2, w3, n_correct FROM c36w2
        UNION ALL SELECT 3, w0, w1, w2, w3, n_correct FROM c36w3"""

  /** Every document scored against the ROUND-3 weights (c36w3) with the
    * same integer sigmoid, as a CTE chain ending in c36scored
    * (doc_id, y, p) — shared by st31's serving oracle and dq12's
    * calibration oracle so score and audit can never drift. */
  private[graft] def scoredDocsSql: String =
    s"""$ta36Ctes,
        c36scored AS (
          SELECT doc_id, y,
            500000 + ${tdiv("z * 1000000", "2 * (1000000 + abs(z))")} AS p
          FROM (SELECT cf.doc_id, cf.y,
                  ${tdiv("w.w0 * f0 + w.w1 * f1 + w.w2 * f2 + w.w3 * f3", "1000000")}
                    AS z
                FROM c36f cf CROSS JOIN c36w3 w))"""

  /** st31's oracle: the serving contract over the scored relation. */
  private[graft] def st31Sql: String =
    s"""WITH $scoredDocsSql
        SELECT doc_id, p AS p_micro, (p >= 500000) AS keep FROM c36scored"""

  def oracleSql: Map[String, String] = Map(
    "ta36_classifier_train" -> ta36Sql,
    "ta01_token_stats" ->
      s"""SELECT doc_id,
          CAST(len($dtoks) AS INT) AS n_tokens,
          CAST(len(list_distinct($dtoks)) AS INT) AS n_unique,
          round(CAST(list_aggregate(list_transform($dtoks, x -> length(x)), 'sum') AS DOUBLE)
                / len($dtoks), 6) AS avg_tok_len
          FROM documents""",
    "ta02_lang_id" ->
      s"""SELECT doc_id, lang,
          round(hits / n, 6) AS stop_ratio,
          CASE WHEN hits / n >= 0.15 THEN 'en'
               WHEN hits / n >= 0.05 THEN 'mixed'
               ELSE 'other' END AS pred_lang
          FROM (SELECT doc_id, lang,
            CAST(len(list_filter($dtoks,
              x -> list_contains(['the','a','of','and','in','to','is'], x))) AS DOUBLE) AS hits,
            CAST(len($dtoks) AS DOUBLE) AS n
          FROM documents)""",
    "ta03_quality_score" -> dQualitySql,
    // Same quality relation, per-lang exact median (rounded 6 dp in both
    // engines — q36's percentile convention), broadcast-back gate.
    "ta22_adaptive_quality_gate" ->
      s"""WITH taq AS ($dQualitySql),
          tadq AS (SELECT d.lang, taq.quality FROM documents d
                   JOIN taq ON taq.doc_id = d.doc_id),
          tam AS (SELECT lang, round(quantile_cont(quality, 0.5), 6) AS median_q
                  FROM tadq GROUP BY lang)
          SELECT tadq.lang, tam.median_q, count(*) AS n_docs,
            CAST(sum(CASE WHEN tadq.quality >= tam.median_q THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept
          FROM tadq JOIN tam ON tadq.lang = tam.lang
          GROUP BY tadq.lang, tam.median_q""",
    // Weights and squash are IEEE-exact (+,*,/,abs only; every literal
    // exponent-suffixed → native DOUBLE in both engines), so Spark and
    // DuckDB scores are bit-identical before the round.
    "ta23_quality_classifier" ->
      s"""SELECT doc_id,
            round(f_len, 6) AS f_len, round(f_div, 6) AS f_div,
            round(f_stop, 6) AS f_stop,
            round(0.5e0 + z / (2.0e0 * (1.0e0 + abs(z))), 6) AS score,
            round(0.5e0 + z / (2.0e0 * (1.0e0 + abs(z))), 6) >= 0.55e0 AS keep
          FROM (
            SELECT doc_id, f_len, f_div, f_stop,
              -2.0e0 + 2.5e0 * f_len + 2.0e0 * f_div + 1.5e0 * f_stop AS z
            FROM (
              SELECT doc_id,
                CASE WHEN n > 0 THEN least(n / 100e0, 1.0e0) ELSE 0e0 END AS f_len,
                CASE WHEN n > 0 THEN u / n ELSE 0e0 END AS f_div,
                CASE WHEN n > 0 THEN hits / n ELSE 0e0 END AS f_stop
              FROM (
                SELECT doc_id,
                  CAST(len($dtoks) AS DOUBLE) AS n,
                  CAST(len(list_distinct($dtoks)) AS DOUBLE) AS u,
                  CAST(len(list_filter($dtoks, x -> list_contains(
                    ['the','a','of','and','in','to','is'], x))) AS DOUBLE) AS hits
                FROM documents)))""",
    // Per-bigram surprisal is integer micro-bits before the per-doc sum,
    // so the distributed double-sum never happens in either engine.
    "ta24_bigram_lm_surprisal" ->
      s"""WITH $ta24Ctes
          SELECT d.doc_id,
            coalesce(n_bigrams, 0) AS n_bigrams,
            CASE WHEN n_bigrams IS NOT NULL
                 THEN round(CAST(sum_micro AS DOUBLE) / 1e6 / n_bigrams, 6)
                 ELSE 0e0 END AS avg_bits
          FROM documents d LEFT JOIN ta24sc ON d.doc_id = ta24sc.doc_id""",

    // ta37: the same scored CTE chain; thresholds spelled as dq10's rank
    // rule (value at rank ceil(p·n/100)); banding + rollup.
    "ta37_surprisal_prune" ->
      s"""WITH $ta24Ctes,
          t37 AS (SELECT d.doc_id, d.lang,
              CASE WHEN s.n_bigrams IS NOT NULL AND s.n_bigrams > 0
                   THEN s.sum_micro // s.n_bigrams
                   ELSE CAST(0 AS BIGINT) END AS c
            FROM documents d LEFT JOIN ta24sc s ON d.doc_id = s.doc_id),
          n37 AS (SELECT count(*) AS cnt FROM t37),
          r37 AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM t37),
          v10 AS (SELECT c AS v FROM r37, n37
                  WHERE rn = greatest(1, (10 * cnt + 99) // 100)),
          v90 AS (SELECT c AS v FROM r37, n37
                  WHERE rn = greatest(1, (90 * cnt + 99) // 100))
          SELECT lang, band, count(*) AS n_docs FROM (
            SELECT lang,
              CASE WHEN c < (SELECT v FROM v10) THEN 'pruned_low'
                   WHEN c > (SELECT v FROM v90) THEN 'pruned_high'
                   ELSE 'kept' END AS band
            FROM t37)
          GROUP BY lang, band""",
    // Same injected line structure; the df filter and ordered
    // reassembly mirror the Spark side (string_agg ORDER BY idx).
    "ta27_line_dedup" ->
      s"""WITH l27d AS (
            SELECT doc_id,
              (CASE WHEN doc_id % 2 = 0 THEN ['$lineBoiler1']
                    ELSE []::VARCHAR[] END
               || CASE WHEN len(tk) = 0 THEN []::VARCHAR[] ELSE
                    list_transform(range(CAST(ceil(len(tk) / 10.0) AS INT)),
                      i -> array_to_string(tk[i*10+1:i*10+10], ' ')) END
               || CASE WHEN doc_id % 3 = 0 THEN ['$lineBoiler2']
                    ELSE []::VARCHAR[] END) AS lines
            FROM (SELECT doc_id, $dtoks AS tk FROM documents)),
          l27x AS (
            SELECT doc_id,
              unnest(range(len(lines))) AS idx,
              unnest(lines) AS line
            FROM l27d),
          l27h AS (
            SELECT doc_id, idx, line,
              CAST(concat('0x', substr(md5(line), 1, 15)) AS BIGINT) AS lh
            FROM l27x),
          l27df AS (
            SELECT lh FROM (
              SELECT lh, count(DISTINCT doc_id) AS df FROM l27h GROUP BY lh)
            WHERE df >= 3),
          l27k AS (
            SELECT h.doc_id, count(*) AS n_kept,
              md5(string_agg(h.line, chr(10) ORDER BY h.idx)) AS kept_md5
            FROM l27h h LEFT JOIN l27df f ON h.lh = f.lh
            WHERE f.lh IS NULL GROUP BY h.doc_id)
          SELECT d.doc_id, CAST(len(d.lines) AS INT) AS n_lines,
            CAST(coalesce(k.n_kept, 0) AS INT) AS n_kept,
            coalesce(k.kept_md5, md5('')) AS kept_md5
          FROM l27d d LEFT JOIN l27k k ON d.doc_id = k.doc_id""",

    // Same injected markup; integer-exact density tests; regexp_replace
    // needs the 'g' flag (DuckDB default replaces first match only).
    "ta28_html_extract" -> {
      val nav = """<div class="nav"><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></div>"""
      val ad = """<div class="ad">buy now <a href="/shop">click here for great deals</a></div>"""
      val footer = """<div class="footer"><a href="/terms">terms of service</a> | <a href="/privacy">privacy policy</a></div>"""
      s"""WITH h28 AS (
            SELECT doc_id,
              concat_ws(chr(10),
                concat('<html><head><title>document ', CAST(doc_id AS VARCHAR),
                       '</title></head><body>'),
                '$nav',
                concat('<p>', array_to_string(tk[1:half], ' '), '</p>'),
                '$ad',
                concat('<p>', array_to_string(tk[half+1:len(tk)], ' '), '</p>'),
                '$footer',
                '</body></html>') AS html
            FROM (SELECT doc_id, tk, CAST(ceil(len(tk) / 2.0) AS INT) AS half
                  FROM (SELECT doc_id, $dtoks AS tk FROM documents))),
          b28 AS (
            SELECT doc_id, bs,
              list_filter(bs, s -> 2 * length(s.txt) >= s.raw_len
                              AND 2 * s.link_len <= length(s.txt)) AS kept
            FROM (
              SELECT doc_id,
                list_transform(string_split(html, chr(10)), b -> struct_pack(
                  txt := regexp_replace(b, '<[^>]*>', '', 'g'),
                  raw_len := length(b),
                  link_len := coalesce(list_aggregate(list_transform(
                    regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1),
                    x -> length(x)), 'sum'), 0))) AS bs
              FROM h28))
          SELECT doc_id,
            CAST(len(bs) AS INT) AS n_blocks,
            CAST(len(kept) AS INT) AS n_content,
            CAST(length(array_to_string(list_transform(kept, s -> s.txt), ' '))
              AS INT) AS content_chars,
            md5(array_to_string(list_transform(kept, s -> s.txt), ' '))
              AS content_md5
          FROM b28"""
    },

    // Same α=0.5 micro-unit integerization: sqrt is IEEE
    // correctly-rounded in both engines, // is integer floor division.
    "ta32_mixture_weights" ->
      """WITH c32 AS (
           SELECT source, count(*) AS n_docs,
             CAST(round(sqrt(count(*)) * 1000000) AS BIGINT) AS w_micro
           FROM documents GROUP BY source),
         t32 AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_total FROM c32)
         SELECT source, n_docs, w_micro,
           CAST(w_micro * 10000 // w_total AS BIGINT) AS quota_docs
         FROM c32, t32""",

    // Same W=64 / S=48 window rule; DuckDB list slices are 1-based
    // inclusive, so the window [i*S, i*S+W) becomes tk[i*S+1 : i*S+W].
    "ta31_doc_chunks" ->
      s"""SELECT doc_id, CAST(i AS INT) AS chunk_idx,
            CAST(len(ctk) AS INT) AS n_tokens,
            md5(array_to_string(ctk, ' ')) AS chunk_md5
          FROM (
            SELECT doc_id, i,
              tk[CAST(i * 48 + 1 AS INT) : CAST(least(i * 48 + 64, n) AS INT)]
                AS ctk
            FROM (
              SELECT doc_id, tk, len(tk) AS n,
                unnest(range(CAST(ceil(greatest(len(tk) - 64, 0) / 48.0)
                  AS BIGINT) + 1)) AS i
              FROM (SELECT doc_id, $dtoks AS tk FROM documents)
              WHERE len(tk) > 0))""",

    // Same byte-pinned decomposed suffix; DuckDB's nfc_normalize is the
    // reference twin of the native NfcNormalize expression.
    "ta25_unicode_normalize" ->
      """SELECT doc_id,
          CAST(length(aug) AS INT) AS n_chars_raw,
          CAST(length(nfc_normalize(aug)) AS INT) AS n_chars_nfc,
          md5(nfc_normalize(aug)) AS nfc_md5
         FROM (SELECT doc_id, text || decode(from_hex('65CC81')) AS aug
               FROM documents)""",
    "ta04_fingerprint" ->
      s"""SELECT doc_id,
          md5(array_to_string($dtoks, ' ')) AS fp_md5,
          CAST(concat('0x', substr(md5(array_to_string($dtoks, ' ')), 1, 8)) AS BIGINT) % 1024 AS fp_bucket,
          list_aggregate(list_transform(
            list_transform(range(len($dtoks) - 2),
              i -> $dtoks[i+1] || ' ' || $dtoks[i+2] || ' ' || $dtoks[i+3]),
            g -> md5(g)), 'min') AS min_shingle_md5
          FROM documents WHERE len($dtoks) >= 3""",
    "ta05_tfidf_top3" ->
      """WITH term AS (
           SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM term GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM term GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM term),
         scored AS (
           SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
           FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
         SELECT doc_id, term, tfidf, rnk FROM (
           SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term ASC) AS INT) AS rnk
           FROM scored) WHERE rnk <= 3""",
    "ta06_bigram_freq" ->
      s"""SELECT bigram, count(*) AS cnt FROM (
            SELECT unnest(list_transform(range(len($dtoks) - 1),
              i -> $dtoks[i+1] || ' ' || $dtoks[i+2])) AS bigram
            FROM documents WHERE len($dtoks) >= 2)
          GROUP BY bigram""",
    // Plain exact answer — the MG pruning is a plan optimization, not a
    // semantics change, so the oracle needs no approximation slack.
    "ta18_heavy_hitters" ->
      s"""WITH bg AS (
            SELECT unnest(list_transform(range(len($dtoks) - 1),
              i -> $dtoks[i+1] || ' ' || $dtoks[i+2])) AS bigram
            FROM documents WHERE len($dtoks) >= 2),
          c AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram),
          t AS (SELECT count(*) AS total FROM bg)
          SELECT bigram, cnt FROM c, t WHERE cnt * 1000 > total""",
    "ta07_regex_tokens" ->
      """SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_alpha_runs,
          CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+'))) AS INT) AS n_uniq_runs
          FROM documents""",
    "ta08_split_assign" ->
      s"""SELECT ${dbSplitCase("doc_id")} AS split,
          lang, count(*) AS n_docs,
          CAST(sum(len($dtoks)) AS BIGINT) AS n_tokens
          FROM documents
          GROUP BY 1, 2""",
    "ta10_boilerplate" ->
      s"""WITH g AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(g3), 1, 15)) AS BIGINT) AS gh
            FROM (
              SELECT doc_id, unnest(list_transform(range(len(tk) - 2),
                i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS g3
              FROM (SELECT doc_id, $dtoks AS tk FROM documents
                    WHERE len($dtoks) >= 3))),
          freq AS (SELECT gh FROM (
                     SELECT gh, count(DISTINCT doc_id) AS df FROM g GROUP BY gh)
                   WHERE df >= 3)
          SELECT doc_id, count(*) AS n_grams,
            CAST(sum(CASE WHEN freq.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
            round(CAST(sum(CASE WHEN freq.gh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*), 6) AS boiler_ratio
          FROM g LEFT JOIN freq USING (gh)
          GROUP BY doc_id""",
    "ta21_split_leakage" -> {
      val g8 = (1 to 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
      s"""WITH g AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(g8), 1, 15)) AS BIGINT) AS gh
            FROM (
              SELECT doc_id, unnest(list_transform(range(len(tk) - 7),
                i -> $g8)) AS g8
              FROM (SELECT doc_id, $dtoks AS tk FROM documents
                    WHERE len($dtoks) >= 8))),
          sp AS (
            SELECT doc_id, ${dbSplitCase("doc_id")} AS split
            FROM documents),
          gs AS (SELECT g.doc_id, sp.split, g.gh FROM g JOIN sp USING (doc_id)),
          traing AS (SELECT DISTINCT gh FROM gs WHERE split = 'train')
          SELECT split, count(*) AS n_docs,
            CAST(sum(CASE WHEN leaky THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky
          FROM (
            SELECT split, doc_id,
              max(CASE WHEN gh IN (SELECT gh FROM traing) THEN 1 ELSE 0 END) = 1
                AS leaky
            FROM gs WHERE split <> 'train' GROUP BY split, doc_id)
          GROUP BY split"""
    },
    "ta20_ngram_novelty" ->
      s"""WITH g AS (
            SELECT DISTINCT doc_id,
              CAST(concat('0x', substr(md5(g3), 1, 15)) AS BIGINT) AS gh
            FROM (
              SELECT doc_id, unnest(list_transform(range(len(tk) - 2),
                i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS g3
              FROM (SELECT doc_id, $dtoks AS tk FROM documents
                    WHERE len($dtoks) >= 3))),
          firsts AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh)
          SELECT doc_id, count(*) AS n_grams,
            CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
              AS n_novel,
            round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*), 6) AS novelty_ratio
          FROM g JOIN firsts USING (gh)
          GROUP BY doc_id""",
    "ta35_epoch_upsample" ->
      """WITH e AS (
           SELECT doc_id, source,
             CAST(CASE CAST(concat('0x', substr(md5(source), 1, 8)) AS BIGINT) % 3
               WHEN 0 THEN 250 WHEN 1 THEN 125 ELSE 50 END AS BIGINT) AS centi,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS b
           FROM documents),
         n AS (
           SELECT doc_id, source,
             centi // 100 + CASE WHEN b < centi % 100 THEN 1 ELSE 0 END AS n_copies
           FROM e),
         x AS (
           SELECT doc_id, source,
             CAST(unnest(range(1, CAST(n_copies AS INT) + 1)) AS INT) AS copy_idx
           FROM n WHERE n_copies > 0)
         SELECT doc_id, source, copy_idx,
           CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':',
             CAST(copy_idx AS VARCHAR))), 1, 8)) AS BIGINT) AS ord_key
         FROM x""",
    "ta11_mixture_sample" ->
      """SELECT source, rate_pct, count(*) AS n_total,
         CAST(sum(CASE WHEN b < rate_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM (
           SELECT source,
             CAST(CASE CAST(concat('0x', substr(md5(source), 1, 8)) AS BIGINT) % 3
               WHEN 0 THEN 100 WHEN 1 THEN 50 ELSE 10 END AS BIGINT) AS rate_pct,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
           FROM documents)
         GROUP BY 1, 2""",
    "ta12_blocklist_redact" ->
      """SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\b(?:customer|vector|spark)\b')) AS INT) AS n_redacted,
          md5(regexp_replace(text, '\b(?:customer|vector|spark)\b', '[TERM]', 'g')) AS redacted_md5
          FROM documents""",
    "ta19_pii_scan" ->
      """WITH a AS (
           SELECT doc_id, concat(text,
             CASE WHEN doc_id % 3 = 0 THEN concat(' contact user',
               CAST(doc_id AS VARCHAR), '@example.com now') ELSE '' END,
             CASE WHEN doc_id % 5 = 0 THEN concat(' host 10.',
               CAST(doc_id % 256 AS VARCHAR), '.0.',
               CAST(doc_id % 100 AS VARCHAR), ' up') ELSE '' END,
             CASE WHEN doc_id % 7 = 0 THEN concat(' call +1-555-',
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' today')
               ELSE '' END) AS aug
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(aug,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(aug,
             '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(aug,
             '\+1-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(aug,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
         FROM a""",
    "ta13_repetition" ->
      s"""SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
          round(CAST(top_c AS DOUBLE) / n_bigrams, 6) AS top_bigram_ratio,
          round(1.0 - CAST(n_uniq AS DOUBLE) / n_bigrams, 6) AS dup_bigram_ratio,
          CAST(top_c AS DOUBLE) / n_bigrams > 0.08 AS is_repetitive
          FROM (
            SELECT doc_id, max(c) AS top_c, sum(c) AS n_bigrams, count(*) AS n_uniq
            FROM (SELECT doc_id, g, count(*) AS c FROM (
                    SELECT doc_id, unnest(list_transform(range(len($dtoks) - 1),
                      i -> $dtoks[i+1] || ' ' || $dtoks[i+2])) AS g
                    FROM documents WHERE len($dtoks) >= 2)
                  GROUP BY doc_id, g)
            GROUP BY doc_id)""",
    "ta14_training_order" ->
      """SELECT doc_id, shard, CAST(pos AS INT) AS pos FROM (
           SELECT doc_id, shard,
             row_number() OVER (PARTITION BY shard
               ORDER BY ord ASC, doc_id ASC) - 1 AS pos
           FROM (
             SELECT doc_id,
               CAST(concat('0x', substr(md5(concat('sh', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 8 AS shard,
               CAST(concat('0x', substr(md5(concat('ord', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ord
             FROM documents))""",
    // Packs ta26's BPE subword counts (shared CTE stack from Bpe).
    "ta09_sequence_packing" ->
      s"""${Bpe.withSqlPrefix}
          SELECT doc_id, lang, n_tokens,
          CAST((cum - n_tokens) // 4096 AS BIGINT) AS bin FROM (
            SELECT d.doc_id, d.lang,
              CAST(coalesce(b.n_subwords, 0) AS BIGINT) AS n_tokens,
              sum(CAST(coalesce(b.n_subwords, 0) AS BIGINT))
                OVER (PARTITION BY d.lang ORDER BY d.doc_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM documents d LEFT JOIN bpe_doc b ON d.doc_id = b.doc_id)""",
    // Same 27-bin histogram + left-to-right fold order as the Spark
    // side, so the double arithmetic is bit-identical before round(6).
    "ta15_char_entropy" ->
      """SELECT doc_id, CAST(nc AS INT) AS n_chars, ent AS entropy_bits,
           CASE WHEN ent >= 3.95 THEN 'natural'
                WHEN ent >= 2.95 THEN 'mixed' ELSE 'low' END AS quality
         FROM (
           SELECT doc_id, nc,
             round(log2(greatest(n, 1)) - list_sum(list_transform(cs2,
               x -> x * log2(greatest(x, 1)))) / greatest(n, 1), 6) AS ent
           FROM (
             SELECT doc_id, nc, n, list_append(cs, n - list_sum(cs)) AS cs2
             FROM (
               SELECT doc_id, length(text) AS nc, length(lt) AS n,
                 list_transform(range(97, 123),
                   c -> length(lt) - length(replace(lt, chr(CAST(c AS INTEGER)), ''))) AS cs
               FROM (SELECT doc_id, text, lower(text) AS lt FROM documents))))""",
    "ta17_vocab_oov" ->
      s"""WITH t AS (SELECT doc_id, unnest($dtoks) AS tok FROM documents),
          v AS (SELECT tok FROM (
                  SELECT tok, count(*) AS c FROM t GROUP BY tok)
                WHERE c >= 5),
          o AS (SELECT doc_id, count(*) AS n_oov
                FROM t LEFT JOIN v ON t.tok = v.tok
                WHERE v.tok IS NULL GROUP BY doc_id)
          SELECT d.doc_id, CAST(len($dtoks) AS BIGINT) AS n_tokens,
            CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
            CASE WHEN len($dtoks) > 0
                 THEN round(CAST(coalesce(o.n_oov, 0) AS DOUBLE)
                        / len($dtoks), 6)
                 ELSE 0.0 END AS oov_rate
          FROM documents d LEFT JOIN o ON d.doc_id = o.doc_id""",
    // Identical histogram + identical log2 literals + identical
    // left-to-right fold order as the Spark side.
    "ta16_english_kl" ->
      s"""SELECT doc_id, ce_bits, kl_bits,
           CASE WHEN kl_bits < 0.45 THEN 'native'
                WHEN kl_bits < 1.45 THEN 'close' ELSE 'far' END AS englishness
         FROM (
           -- `+ 0` folds DuckDB's -0.0 to +0.0 (empty docs; kl rounding
           -- artifacts near zero): Spark's round goes through BigDecimal,
           -- which has no signed zero, so it always emits +0.0.
           SELECT doc_id, ce, round(ce - ent, 6) + 0 AS kl_bits, ce AS ce_bits
           FROM (
             SELECT doc_id,
               round(-list_sum(list_transform(range(1, 28),
                 i -> cs2[CAST(i AS INTEGER)]
                      * ([$refLog2Lits])[CAST(i AS INTEGER)])) / greatest(n, 1), 6) + 0 AS ce,
               round(log2(greatest(n, 1)) - list_sum(list_transform(cs2,
                 x -> x * log2(greatest(x, 1)))) / greatest(n, 1), 6) AS ent
             FROM (
               SELECT doc_id, n, list_append(cs, n - list_sum(cs)) AS cs2
               FROM (
                 SELECT doc_id, length(lt) AS n,
                   list_transform(range(97, 123),
                     c -> length(lt) - length(replace(lt, chr(CAST(c AS INTEGER)), ''))) AS cs
                 FROM (SELECT doc_id, lower(text) AS lt FROM documents)))))"""
  )
}
