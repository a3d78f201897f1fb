package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-quality profiling operators — the ingest-validation pass a 100 TB
  * pipeline runs BEFORE any expensive transform (the "great-expectations"
  * shape: assert the data looks like the contract before burning cluster
  * hours on it). The reference's permissive-source philosophy
  * (/root/reference/tutorial/minigrep/minigrep.go:47-61 — keep going past
  * bad input) implies the complementary need: measure HOW MUCH of the
  * input is bad, per column, in one pass.
  *
  * Scale notes (100 TB):
  *   - dq01/dq02 are single hash-aggregations with map-side partial
  *     combine; the only shuffle carries ONE row per aggregate — the
  *     profile itself is O(columns), never O(rows).
  *   - Per-column distinct counts use exact count(distinct …) here
  *     (multiple distincts → Expand, ~k× scan rows pre-combine, k = the
  *     profiled column count — bounded and map-side combined; the
  *     sketch alternative at extreme cardinality is q19/q58's HLL path).
  *   - Cross-engine determinism: no double is ever summed (order-
  *     dependent); money flows through exact integer cents, ratios are
  *     computed from exact integers then rounded to 6 dp.
  */
object Profile {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- Text-table profile: one row per profiled column with row/null/
    //    distinct counts and length stats. One aggregation pass computes
    //    every stat; the single result row is then unpivoted driver-side
    //    into the per-column contract shape (stack on a 1-row relation —
    //    zero extra scans).
    "dq01_profile_documents" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val one = docs.agg(
        count(lit(1)).as("n_rows"),
        // text
        sum(col("text").isNull.cast("long")).as("text_nulls"),
        countDistinct(col("text")).as("text_distinct"),
        min(length(col("text"))).as("text_min_len"),
        max(length(col("text"))).as("text_max_len"),
        // lang
        sum(col("lang").isNull.cast("long")).as("lang_nulls"),
        countDistinct(col("lang")).as("lang_distinct"),
        min(length(col("lang"))).as("lang_min_len"),
        max(length(col("lang"))).as("lang_max_len"),
        // source
        sum(col("source").isNull.cast("long")).as("source_nulls"),
        countDistinct(col("source")).as("source_distinct"),
        min(length(col("source"))).as("source_min_len"),
        max(length(col("source"))).as("source_max_len"))
      one.select(col("n_rows"), expr(
        """stack(3,
             'text',   text_nulls,   text_distinct,   text_min_len,   text_max_len,
             'lang',   lang_nulls,   lang_distinct,   lang_min_len,   lang_max_len,
             'source', source_nulls, source_distinct, source_min_len, source_max_len)
           AS (col_name, n_nulls, n_distinct, min_len, max_len)"""))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_len"), col("max_len"))
    }),

    // -- Numeric-table profile over lineitem's measure columns: count /
    //    nulls / distinct / min / max / exact mean. Doubles are never
    //    summed directly — each measure becomes exact integer cents
    //    (round(x*100) as BIGINT) before the sum, so the mean is a
    //    deterministic integer ratio in both engines.
    "dq02_profile_lineitem" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def cents(c: String) = expr(s"cast(round($c * 100) as bigint)")
      def stats(c: String) = Seq(
        sum(col(c).isNull.cast("long")).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(cents(c)).as(s"${c}_min_c"),
        max(cents(c)).as(s"${c}_max_c"),
        sum(cents(c)).as(s"${c}_sum_c"))
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(stats)
      val one = li.agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c =>
        s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min_c, ${c}_max_c, ${c}_sum_c")
        .mkString(", ")
      one.select(col("n_rows"), expr(
        s"""stack(${cols.size}, $stacked)
            AS (col_name, n_nulls, n_distinct, min_cents, max_cents, sum_cents)"""))
        .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
          col("min_cents"), col("max_cents"),
          round(col("sum_cents").cast("double") / col("n_rows") / 100d, 6)
            .as("mean_val"))
    }),

    // -- Referential-integrity audit over the TPC-H star: per FK edge,
    //    child rows / distinct child keys / ORPHANS (child keys with no
    //    parent row) — the contract check that must precede any join-
    //    heavy pipeline (an fk violation silently drops rows from inner
    //    joins; better to count them up front). Shape: ONE pass per
    //    child table, not per edge — all three lineitem edges resolve
    //    in a single scan with parent-marker left joins (part/supplier
    //    markers BROADCAST; the fact-fact orders edge shuffles on the
    //    key — at 100 TB that side is the bucketed layout of q42), then
    //    one aggregate emits every edge via stack. Orphan counting
    //    never materializes the orphan rows; it is a null-marker sum
    //    inside the same aggregate.
    "dq03_referential_integrity" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      // Parents reduce to DISTINCT keys before the marker join: a
      // duplicated parent PK (the very corruption this audit exists to
      // catch) must not fan the child out and inflate n_child.
      val o = Tables.orders(s, d)
        .select(col("o_orderkey")).distinct().withColumn("o_hit", lit(1))
      val pt = broadcast(Tables.part(s, d)
        .select(col("p_partkey")).distinct().withColumn("p_hit", lit(1)))
      val sp = broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey")).distinct().withColumn("s_hit", lit(1)))
      def orphans(hit: String) =
        sum(when(col(hit).isNull, 1L).otherwise(0L))
      val liRows = li
        .join(o, col("l_orderkey") === col("o_orderkey"), "left")
        .join(pt, col("l_partkey") === col("p_partkey"), "left")
        .join(sp, col("l_suppkey") === col("s_suppkey"), "left")
        .agg(
          count(lit(1)).as("n_child"),
          countDistinct(col("l_orderkey")).as("ok_keys"),
          countDistinct(col("l_partkey")).as("pk_keys"),
          countDistinct(col("l_suppkey")).as("sk_keys"),
          orphans("o_hit").as("ok_orph"),
          orphans("p_hit").as("pk_orph"),
          orphans("s_hit").as("sk_orph"))
        .select(expr(
          """stack(3,
               'lineitem.l_orderkey->orders.o_orderkey',     n_child, ok_keys, ok_orph,
               'lineitem.l_partkey->part.p_partkey',         n_child, pk_keys, pk_orph,
               'lineitem.l_suppkey->supplier.s_suppkey',     n_child, sk_keys, sk_orph)
             AS (edge, n_child, n_child_keys, n_orphans)"""))
      def dimEdge(name: String, child: DataFrame, ck: String,
                  parent: DataFrame, pk: String) =
        child.select(col(ck))
          .join(broadcast(
              parent.select(col(pk)).distinct().withColumn("hit", lit(1))),
            col(ck) === col(pk), "left")
          .agg(count(lit(1)).as("n_child"),
            countDistinct(col(ck)).as("n_child_keys"),
            orphans("hit").as("n_orphans"))
          .select(lit(name).as("edge"), col("n_child"),
            col("n_child_keys"), col("n_orphans"))
      liRows
        .unionAll(dimEdge("orders.o_custkey->customer.c_custkey",
          Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"))
        .unionAll(dimEdge("customer.c_nationkey->nation.n_nationkey",
          Tables.customer(s, d), "c_nationkey", Tables.nation(s, d), "n_nationkey"))
    }),

    // -- CROSS-MODAL pairing audit: the vec_id = doc_id contract that
    //    the multimodal stack SILENTLY relies on (ss11's filtered ANN
    //    joins text metadata to vectors by it; dd17/pl02 drop documents
    //    by vector identity) — an unpaired row means a document that can
    //    never be semantically deduplicated or a vector that can never
    //    be provenance-traced. One id-only full-outer join (both sides
    //    reduced to DISTINCT keys first — dq03's duplicated-PK
    //    discipline), one single-row aggregate; at 100 TB the shuffle
    //    carries 8-byte ids only.
    "dq04_modality_pairing" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id")).distinct().withColumn("has_doc", lit(1))
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id")).distinct().withColumn("has_vec", lit(1))
      docs.join(vecs, Seq("doc_id"), "full_outer")
        .agg(
          sum(coalesce(col("has_doc"), lit(0)).cast("long")).as("n_docs"),
          sum(coalesce(col("has_vec"), lit(0)).cast("long")).as("n_vecs"),
          sum((col("has_doc").isNotNull && col("has_vec").isNotNull)
            .cast("long")).as("n_paired"),
          sum(col("has_vec").isNull.cast("long")).as("n_text_only"),
          sum(col("has_doc").isNull.cast("long")).as("n_vec_only"))
    }),

    // -- PRIMARY-KEY uniqueness audit — the corruption dq03 defends its
    //    joins against, measured directly: one row per declared key with
    //    row count, distinct-key count and the duplicate surplus. A
    //    nonzero surplus upstream of any equi-join silently multiplies
    //    rows (and a NULL key counts into the surplus — also a defect).
    //    One aggregation pass per table, single-row outputs unioned —
    //    O(tables) result, map-side combined, never O(rows).
    "dq05_pk_uniqueness" -> ((s, d) => {
      // ONE tall key stream over all ten tables, partial-aggregated
      // before a single exchange (guide §2.3 "aggregate before you
      // shuffle", §2.4 "remove shuffles outright"). The per-table form
      // paid a full raw-row redistribution plus a distinct-merge
      // exchange per leg (20 exchanges, ~650 tasks); here the scans are
      // RAW single-split fixture reads feeding map-side aggregation
      // directly — parallelism comes from the ten-way union (and from
      // source splits at real scale), and the whole audit is two
      // exchanges. Keys are integer types at every width ⇒ the bigint
      // cast is injective and preserves distinctness; NULL handling is
      // pinned per group: a key group counts into n_keys iff every key
      // part is non-null (count(distinct ...) semantics, dq05's null-PK
      // rule).
      def keyRows(name: String, table: String,
          k1: String, k2: Option[String] = None): DataFrame = {
        val df = Tables.read(s, s"$d/$table.parquet")
        val c1 = col(k1).cast("bigint")
        val c2 = k2.map(col(_).cast("bigint")).getOrElse(lit(null).cast("bigint"))
        val nn = k2.map(c => col(k1).isNotNull && col(c).isNotNull)
          .getOrElse(col(k1).isNotNull)
        df.select(lit(name).as("pk"), c1.as("k1"), c2.as("k2"), nn.as("nn"))
      }
      val names = Seq(
        ("orders.o_orderkey", "orders", "o_orderkey", None),
        ("customer.c_custkey", "customer", "c_custkey", None),
        ("part.p_partkey", "part", "p_partkey", None),
        ("supplier.s_suppkey", "supplier", "s_suppkey", None),
        ("nation.n_nationkey", "nation", "n_nationkey", None),
        ("region.r_regionkey", "region", "r_regionkey", None),
        ("lineitem.(l_orderkey,l_linenumber)", "lineitem",
          "l_orderkey", Some("l_linenumber")),
        ("documents.doc_id", "documents", "doc_id", None),
        ("embeddings.vec_id", "embeddings", "vec_id", None),
        ("events.event_id", "events", "event_id", None))
      val tall = names.map { case (n, t, a, b) => keyRows(n, t, a, b) }
        .reduce(_ unionAll _)
      val agg = tall
        .groupBy(col("pk"), col("k1"), col("k2"))
        .agg(count(lit(1)).as("c"), max(col("nn")).as("nn"))
        .groupBy(col("pk"))
        .agg(sum(col("c")).as("n_rows"),
          count(when(col("nn"), lit(1))).as("n_keys"))
      // An EMPTY table yields no groups; the ungrouped-aggregate form
      // emitted its zero row, so pin the ten-row shape explicitly.
      import s.implicits._
      names.map(_._1).toDF("pk")
        .join(broadcast(agg), Seq("pk"), "left")
        .select(col("pk"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("n_keys"), lit(0L)).as("n_keys"),
          (coalesce(col("n_rows"), lit(0L)) - coalesce(col("n_keys"), lit(0L)))
            .as("n_dup_rows"))
    }),

    // -- SCHEMA-DRIFT AUDIT — the production form of the r4 lesson
    //    (a fixture regeneration changed physical types and broke 27
    //    queries at analysis time): compare each table's OBSERVED
    //    parquet footer schema against the DECLARED contract and emit
    //    one row per column with an ok / type_drift / missing /
    //    unexpected verdict. Pure metadata — O(columns) footer reads on
    //    the driver (Tables.schemaOf), zero Spark jobs and zero data
    //    pages scanned at any corpus size (the audit a 100 TB ingest
    //    runs before anything else touches the data).
    //    `events` is deliberately excluded: its physical timestamp
    //    unit is fixture-variant by design (see Tables.events), so it
    //    has no single declared physical contract to audit against.
    "dq06_schema_drift" -> ((s, d) => {
      val tables = Seq("documents", "embeddings", "nation", "region")
      val observed = tables.flatMap { t =>
        Tables.schemaOf(s, s"$d/$t.parquet").fields
          .map(f => (t, f.name, f.dataType.simpleString))
      }
      schemaDrift(s, declaredContract, observed)
    }),

    // -- EMBEDDING-CONTRACT audit — the vector-side analog of dq01:
    //    everything the similarity/ANN stack SILENTLY assumes about the
    //    embeddings table (uniform declared dimension, finite
    //    components, no zero vectors — a zero vector makes every cosine
    //    NULL/NaN downstream, the one corruption the ANN operators
    //    cannot survive), measured in ONE aggregation pass. NULL
    //    semantics pinned explicitly (the dq05 lesson): a NULL
    //    embedding counts ONLY as null_embedding — the per-component
    //    checks skip it rather than double-reporting. One hash
    //    aggregation with map-side combine; the shuffle carries one
    //    row. O(rows·dim) compute, O(1) result at any corpus size.
    "dq07_embedding_contract" -> ((s, d) =>
      embeddingContract(Tables.embeddings(s, d), dim = 64)),

    // -- DISTRIBUTION-DRIFT audit (PSI) — dq06 catches schema drift;
    //    this catches DATA drift with the schema intact (the silent
    //    failure mode of a long-running ingest: same columns, shifted
    //    population). Reference snapshot = even doc_ids, current
    //    ingest = odd (two halves standing in for yesterday-vs-today);
    //    feature = document length bucketed into 8 fixed bins; output =
    //    per-bucket counts and the bucket's PSI term with a thresholded
    //    verdict. PSI terms are emitted PER BUCKET, never summed across
    //    buckets — a cross-row float sum is order-dependent, the exact
    //    nondeterminism the repo's rules forbid; the per-bucket term is
    //    pure scalar IEEE math on exact integer counts (ta16's libm
    //    precedent covers ln). Shape: one bucket-keyed aggregation with
    //    map-side combine + a 1-row totals broadcast — O(buckets)
    //    result at any corpus size.
    "dq08_distribution_drift" -> ((s, d) =>
      distributionDrift(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars")))),

    // -- JOIN-KEY SKEW diagnosis — the decision input for salting (q34)
    //    and AQE skew re-plan (io13), measured BEFORE the join burns
    //    cluster hours: top-10 heaviest lineitem.l_orderkey values (the
    //    fact-fact edge) with exact per-mille share of total rows. One
    //    key-grouped aggregation with map-side combine, top-10 via the
    //    bounded-heap TakeOrdered path (never a global sort), 1-row
    //    total broadcast; share is integer floor division — exact in
    //    both engines. Ties at the boundary break by key asc so the
    //    emitted SET is unique.
    "dq09_key_skew" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"))
      val keyCounts = li.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_rows"))
      val tot = li.agg(count(lit(1)).as("n_total"))
      keyCounts.crossJoin(broadcast(tot)) // 1-row total — bounded class
        .select(col("l_orderkey").as("key"), col("n_rows"),
          expr("n_rows * 1000 div n_total").as("share_per_mille"))
        .orderBy(col("n_rows").desc, col("key").asc)
        .limit(10)
    }),

    // -- EXACT QUANTILES WITHOUT A GLOBAL SORT — p50/p90/p99 of
    //    lineitem.l_extendedprice (exact integer cents), by iterative
    //    histogram refinement: each round ONE filtered aggregation pass
    //    buckets the still-candidate value range into 1024 exact-integer
    //    buckets per percentile (all percentiles share the pass via an
    //    in-row range-tag explode), the ≤3×1024-row histogram comes back
    //    to the driver (bounded-scalar class, ss08/ta36's loop
    //    discipline), and the target rank's bucket becomes next round's
    //    range. The range shrinks ≥1024× per round, so ≤8 rounds close
    //    any 64-bit domain; each round's range predicate pushes to the
    //    parquet scan (row-group min/max skipping), and no sort, window,
    //    or row ever shuffles — the exact-quantile answer a 100 TB
    //    column cannot afford `ORDER BY` for. The per-round range
    //    reaches the parquet scan through a widened RAW-column envelope
    //    (c ≥ lo ⇒ x ≥ (lo−1)/100 — the cents expression itself is not
    //    pushable); the exact integer range check rides on top. Rank
    //    rule (both engines): value at 1-based ascending rank
    //    max(1, ceil(p·n/100)), spelled in pure integers
    //    ((p·n + 99) div 100).
    "dq10_exact_quantiles" -> ((s, d) => {
      import graft.Exprs.cents
      exactQuantiles(s,
        Tables.lineitem(s, d)
          .select(col("l_extendedprice"), cents(col("l_extendedprice")).as("c")),
        Seq(50, 90, 99),
        envelope = Some((lo, hi) =>
          col("l_extendedprice") >= (lo - 1).toDouble / 100.0 &&
          col("l_extendedprice") <= (hi + 1).toDouble / 100.0))
    }),

    // -- STAGED-ARTIFACT RECONCILIATION — the audit a pipeline of
    //    write-once artifacts (IVF index, per-doc BPE stats, cluster
    //    relation, …) runs before trusting them: each artifact's cheap
    //    CONTRACT invariant (row parity with its source relation;
    //    zero orphan keys) measured as exact counts. Catching a stale
    //    or partial artifact here costs O(artifact) counting; catching
    //    it downstream costs a wrong training set. Each check is one
    //    distributed count (map-side combined); the audit relation
    //    itself is |artifacts| rows — bounded-scalar class (ta36's
    //    curve discipline).
    "dq11_artifact_reconciliation" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val clusters = Dedup.stagedClusters(s, d)
      val orphans = clusters.select(col("doc_id"))
        .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti")
      reconcileArtifacts(s, Seq(
        ("bpe_doc_stats", docs.count(),
          Bpe.stagedDocStats(s, d).count()),
        ("cluster_orphans", 0L, orphans.count()),
        ("ivf_index", emb.count(),
          Similarity.ivfIndex(s, d).count())))
    }),

    // -- CLASSIFIER CALIBRATION audit — the reliability table a trained
    //    quality filter (ta36) is judged by before its threshold gates a
    //    corpus: scores bucketed into 10 bins, per bin the exact doc
    //    count, positive count, observed positive rate (ppm) and mean
    //    predicted score (ppm) — calibration means the last two track
    //    each other, and a bin where they diverge is where the filter
    //    over/under-claims. One aggregation pass over the scored corpus
    //    (the model is a memoized 4-long broadcast — the bounded-model
    //    class), O(bins) output, exact integer arithmetic throughout
    //    (p ∈ [0, 1e6] so truncating div ≡ flooring //).
    "dq12_classifier_calibration" -> ((s, d) => {
      val w = TextAnalysis.trainClassifier(s, d)._2
      TextAnalysis.classifierScored(
          TextAnalysis.classifierFeatures(Tables.documents(s, d)), w)
        .select(least(expr("p div 100000"), lit(9L)).cast("int").as("bin"),
          col("p"), col("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("y") === 1000000L, 1L).otherwise(0L)).as("n_pos"),
          expr("(sum(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) * 1000000) div count(1)")
            .as("pos_ppm"),
          expr("sum(p) div count(1)").as("mean_p_micro"))
    }))

  /** st34's counting stage: 256 STATIC 16-char-wide contract buckets
    * over documents.n_chars — bucket counts are additive, so per-batch
    * partials merge by sum (st29's discipline applied to quantiles). */
  private[graft] def charBuckets(docs: DataFrame): DataFrame =
    // greatest(n_chars, 0): Spark's `div` truncates toward zero while
    // DuckDB's `//` floors, so the two disagree on negative inputs —
    // clamping (mirrored in the st34 oracle) makes the cross-engine
    // parity explicit instead of relying on an implicit nonnegative-
    // n_chars contract.
    docs.select(least(expr("greatest(n_chars, 0) div 16"), lit(255))
        .cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** st34's finalize: for each percentile, the contract bucket holding
    * rank max(1, ceil(p·n/100)) with its deterministic value BOUNDS —
    * the mergeable-sketch answer to dq10's exact one (a streaming feed
    * can afford additive counts, not iterative refinement; dq10's exact
    * value always lies within these bounds, which the spec pins). The
    * rank walk is a window over ≤256 merged rows — bounded-scalar
    * class, never a data-sized sort. */
  private[graft] def quantileBucketFinalize(
      counts: DataFrame, pcts: Seq[Int]): DataFrame = {
    val merged = counts.groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = merged.agg(sum(col("cnt")).as("n_total"))
    val r = expr("greatest(1, (p_pct * n_total + 99) div 100)")
    merged.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(tot)) // 1-row total — bounded class
      .select(col("bucket"), col("cnt"), col("cum"), col("n_total"),
        explode(expr(s"array(${pcts.mkString(", ")})")).as("p_pct"))
      .filter(col("cum") >= r && col("cum") - col("cnt") < r)
      .select(col("p_pct"), col("bucket"),
        (col("bucket") * 16L).as("lo_bound"),
        when(col("bucket") < 255, col("bucket") * 16L + 15L).as("hi_bound"),
        col("cnt").as("n_in_bucket"))
  }

  /** dq11's verdict relation over (artifact, expected, actual) count
    * triples — extracted pure so the spec can feed a synthetically
    * stale artifact and assert positive detection (dq06's discipline). */
  private[graft] def reconcileArtifacts(
      s: SparkSession, checks: Seq[(String, Long, Long)]): DataFrame = {
    import s.implicits._
    checks.map { case (a, e, g) => (a, e, g, e == g) }
      .toDF("artifact", "n_expected", "n_actual", "consistent")
  }

  /** dq10's engine: exact multi-percentile selection over a single
    * BIGINT column `c` by iterative histogram refinement (see the query
    * doc). Extracted pure so the spec can drive it over arbitrary
    * synthetic distributions and any percentile set. Domain: the value
    * span must fit a signed 64-bit long (true for any cents column);
    * widths are computed in BigInt on the driver so even pathological
    * spans cannot overflow the bucket arithmetic. */
  private[graft] def exactQuantiles(
      s: SparkSession, vals: DataFrame, pcts: Seq[Int],
      envelope: Option[(Long, Long) => org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import s.implicits._
    // Bucket width per refinement round. Convergence needs
    // ceil(log_B(span)) rounds — each round is a full (filtered) scan
    // pass, the dominant cost — so B is sized to close any span ≤ B² in
    // TWO rounds (B=16384 ⇒ spans ≤ 2.7e8; the cents and micro-bits
    // domains are ~1e7-2e7, which B=1024 closed in three). The driver
    // collect stays bounded: ≤ pcts.size × B small rows per round. The
    // bucket width never affects the answer, only the round count (the
    // rank walk below is width-agnostic).
    val B = 16384L
    val g = vals.agg(count(lit(1)).as("n"),
      min(col("c")).as("lo"), max(col("c")).as("hi")).collect()(0)
    val n = g.getLong(0)
    require(n > 0, "exactQuantiles: empty input")
    // per-percentile state: candidate range [lo, hi] and the 1-based
    // rank of the answer within the candidates (rows with c in range).
    case class St(lo: Long, hi: Long, r: Long)
    var active: Map[Int, St] = pcts.map(p =>
      p -> St(g.getLong(1), g.getLong(2),
        math.max(1L, (p.toLong * n + 99L) / 100L))).toMap
    var done: Map[Int, Long] = Map.empty
    var rounds = 0
    while (active.exists { case (_, st) => st.lo < st.hi } && rounds < 8) {
      rounds += 1
      done ++= active.collect { case (p, st) if st.lo == st.hi => p -> st.lo }
      active = active.filter { case (_, st) => st.lo < st.hi }
      val specs = active.toSeq.sortBy(_._1)
      // one scan serves every active percentile: an optional caller-
      // supplied ENVELOPE predicate on the raw source column covering
      // the union of active ranges reaches the parquet scan (the
      // integer-cents expression itself is not pushable — row-group
      // min/max skipping needs a raw-column range), then each row is
      // tagged with the pids whose exact candidate range contains it.
      val base = envelope.fold(vals) { env =>
        vals.filter(env(specs.map(_._2.lo).min, specs.map(_._2.hi).max)) }
      val tagged = base.select(col("c"), explode(expr(
        specs.map { case (p, st) =>
          s"IF(c >= ${st.lo}L AND c <= ${st.hi}L, $p, NULL)" }
          .mkString("filter(array(", ", ", "), x -> x IS NOT NULL)")))
        .as("pid"))
      // exact-integer bucket within the pid's range; width w = ceil(span/B)
      // (driver BigInt), so (c - lo) div w < 1024 always.
      val widths = specs.map { case (p, st) =>
        val span = BigInt(st.hi) - BigInt(st.lo) + 1
        p -> ((span + B - 1) / B).toLong
      }.toMap
      val bucket = specs.map { case (p, st) =>
        s"WHEN pid = $p THEN (c - ${st.lo}L) div ${widths(p)}L" }
        .mkString("CASE ", " ", " END")
      val hist = tagged.groupBy(col("pid"), expr(bucket).as("b"))
        .agg(count(lit(1)).as("cnt"), min(col("c")).as("blo"),
          max(col("c")).as("bhi"))
        .collect() // ≤ pcts.size × 1024 rows — bounded-scalar class
        .groupBy(_.getInt(0))
      active = active.map { case (p, st) =>
        val bs = hist(p).sortBy(_.getLong(1))
        var r = st.r; var i = 0
        while (bs(i).getLong(2) < r) { r -= bs(i).getLong(2); i += 1 }
        p -> St(bs(i).getLong(3), bs(i).getLong(4), r)
      }
    }
    done ++= active.collect { case (p, st) if st.lo == st.hi => p -> st.lo }
    require(done.size == pcts.size, "exactQuantiles: failed to converge")
    done.toSeq.sortBy(_._1).toDF("p_pct", "value_cents")
  }

  /** dq07's audit, extracted pure over any (vec_id, embedding, label)
    * relation so the spec can feed synthetically corrupted vectors and
    * assert positive detection (dq06's drifted-schema discipline). */
  private[graft] def embeddingContract(emb: DataFrame, dim: Int): DataFrame = {
    val e = col("embedding")
    val one = emb.agg(
      count(lit(1)).as("n_rows"),
      sum(e.isNull.cast("long")).as("null_embedding"),
      sum((e.isNotNull && size(e) =!= dim).cast("long")).as("wrong_dim"),
      sum((e.isNotNull && expr(
        "exists(embedding, x -> isnan(x) OR abs(x) = cast('Infinity' as float))"))
        .cast("long")).as("nonfinite_component"),
      sum((e.isNotNull && expr(
        "size(filter(embedding, x -> x <> cast(0 as float))) = 0"))
        .cast("long")).as("zero_vector"),
      sum(col("label").isNull.cast("long")).as("null_label"),
      sum(col("vec_id").isNull.cast("long")).as("null_vec_id"))
    one.select(col("n_rows"), expr(
      """stack(6,
           'null_embedding',      null_embedding,
           'wrong_dim',           wrong_dim,
           'nonfinite_component', nonfinite_component,
           'zero_vector',         zero_vector,
           'null_label',          null_label,
           'null_vec_id',         null_vec_id)
         AS (check_name, n_violations)"""))
      .select(col("check_name"), col("n_rows"), col("n_violations"))
  }

  /** dq06's declared physical contract (the TESTDATA.md truth). */
  private[graft] val declaredContract: Seq[(String, String, String)] = Seq(
    ("documents", "doc_id", "bigint"), ("documents", "text", "string"),
    ("documents", "lang", "string"), ("documents", "source", "string"),
    ("documents", "n_chars", "bigint"),
    ("embeddings", "vec_id", "bigint"),
    ("embeddings", "embedding", "array<float>"),
    ("embeddings", "label", "int"),
    ("nation", "n_nationkey", "int"), ("nation", "n_name", "string"),
    ("nation", "n_regionkey", "int"),
    ("region", "r_regionkey", "int"), ("region", "r_name", "string"))

  /** dq06's drift join, extracted pure so the spec can feed a
    * synthetically drifted observed schema and assert detection. */
  private[graft] def schemaDrift(
      s: SparkSession,
      declared: Seq[(String, String, String)],
      observed: Seq[(String, String, String)]): DataFrame = {
    import s.implicits._
    val dd = declared.toDF("tbl", "col_name", "declared_type")
    val oo = observed.toDF("tbl", "col_name", "observed_type")
    dd.join(oo, Seq("tbl", "col_name"), "full_outer")
      .select(col("tbl"), col("col_name"),
        col("declared_type"), col("observed_type"),
        when(col("declared_type").isNull, "unexpected")
          .when(col("observed_type").isNull, "missing")
          .when(col("declared_type") === col("observed_type"), "ok")
          .otherwise("type_drift").as("status"))
  }

  /** dq08's drift audit, extracted pure over any (doc_id, n_chars)
    * relation so the spec can inject a shifted "current" population and
    * assert the verdict flags it (dq06/dq07's synthetic-corruption
    * discipline). */
  private[graft] def distributionDrift(docs: DataFrame): DataFrame =
    driftFinalize(driftBuckets(docs))

  /** dq08's counting stage — per-bucket exact integer (n_ref, n_cur)
    * over any (doc_id, n_chars) relation. Extracted pure so the
    * streaming monitor leg (st29) counts each micro-batch with the SAME
    * pass: bucket counts are sums, so per-batch partials merge by
    * addition (associative) and the finalize stage cannot tell batch
    * boundaries apart. */
  private[graft] def driftBuckets(docs: DataFrame): DataFrame =
    docs.select(
        least(floor(col("n_chars") / 200), lit(7)).cast("int").as("bucket"),
        (col("doc_id") % 2 === 0).cast("long").as("r"))
      .groupBy(col("bucket"))
      .agg(sum(col("r")).as("n_ref"), sum(lit(1L) - col("r")).as("n_cur"))

  /** dq08's scoring stage over (bucket, n_ref, n_cur) counts (rows may
    * be pre-merge partials — summed per bucket first). */
  private[graft] def driftFinalize(counts: DataFrame): DataFrame = {
    val merged = counts.groupBy(col("bucket"))
      .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"))
    val totals = merged.agg(
      sum(col("n_ref")).as("ref_total"), sum(col("n_cur")).as("cur_total"))
    merged.crossJoin(broadcast(totals)) // 1-row totals — bounded class
      .withColumn("psi_term",
        when(col("n_ref") > 0 && col("n_cur") > 0,
          round((col("n_ref") / col("ref_total")
              - col("n_cur") / col("cur_total"))
            * log((col("n_ref") / col("ref_total"))
              / (col("n_cur") / col("cur_total"))), 6)))
      .select(col("bucket"), col("n_ref"), col("n_cur"), col("psi_term"),
        when(col("psi_term").isNull, "empty_side")
          .when(abs(col("psi_term")) >= 0.2, "major")
          .when(abs(col("psi_term")) >= 0.1, "moderate")
          .otherwise("ok").as("verdict"))
  }

  def oracleSql: Map[String, String] = Map(
    "dq01_profile_documents" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name,
              count(*) AS n_rows,
              CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
              count(DISTINCT $c) AS n_distinct,
              CAST(min(length($c)) AS INT) AS min_len,
              CAST(max(length($c)) AS INT) AS max_len
            FROM documents"""
      Seq("text", "lang", "source").map(one).mkString(" UNION ALL ")
    },
    "dq02_profile_lineitem" -> {
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
        s"""SELECT '$c' AS col_name,
              count(*) AS n_rows,
              CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
              count(DISTINCT $c) AS n_distinct,
              min(CAST(round($c * 100) AS BIGINT)) AS min_cents,
              max(CAST(round($c * 100) AS BIGINT)) AS max_cents,
              round(CAST(sum(CAST(round($c * 100) AS BIGINT)) AS DOUBLE)
                    / count(*) / 100e0, 6) AS mean_val
            FROM lineitem""").mkString(" UNION ALL ")
    },
    "dq03_referential_integrity" -> {
      def edge(name: String, child: String, ck: String,
               parent: String, pk: String) =
        s"""SELECT '$name' AS edge,
              count(*) AS n_child,
              count(DISTINCT c.$ck) AS n_child_keys,
              CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_orphans
            FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
              ON c.$ck = p.$pk"""
      Seq(
        edge("lineitem.l_orderkey->orders.o_orderkey",
          "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem.l_partkey->part.p_partkey",
          "lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem.l_suppkey->supplier.s_suppkey",
          "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edge("orders.o_custkey->customer.c_custkey",
          "orders", "o_custkey", "customer", "c_custkey"),
        edge("customer.c_nationkey->nation.n_nationkey",
          "customer", "c_nationkey", "nation", "n_nationkey")
      ).mkString(" UNION ALL ")
    },
    "dq04_modality_pairing" ->
      """SELECT
           CAST(sum(CASE WHEN has_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN has_vec THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN has_doc AND has_vec THEN 1 ELSE 0 END) AS BIGINT)
             AS n_paired,
           CAST(sum(CASE WHEN has_doc AND NOT has_vec THEN 1 ELSE 0 END) AS BIGINT)
             AS n_text_only,
           CAST(sum(CASE WHEN has_vec AND NOT has_doc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_vec_only
         FROM (
           SELECT dd.doc_id IS NOT NULL AS has_doc,
                  vv.doc_id IS NOT NULL AS has_vec
           FROM (SELECT DISTINCT doc_id FROM documents) dd
           FULL JOIN (SELECT DISTINCT vec_id AS doc_id FROM embeddings) vv
             ON dd.doc_id = vv.doc_id)""",
    // NULL-key semantics pinned EXPLICITLY (not just on the null-free
    // fixture): Spark's count(DISTINCT a, b) drops any row with a null
    // key column, so the oracle's distinct subquery filters nulls the
    // same way — a null PK lands in n_dup_rows in both engines (the
    // right direction: a null PK is itself the defect the audit
    // reports). Scalar subqueries instead of a cross-join GROUP BY so
    // an EMPTY table still emits its zero row, matching Spark's
    // ungrouped aggregate.
    "dq05_pk_uniqueness" -> {
      def one(name: String, table: String, keys: String) = {
        val notNull = keys.split(",").map(_.trim)
          .map(k => s"$k IS NOT NULL").mkString(" AND ")
        s"""SELECT '$name' AS pk, n_rows, n_keys,
              n_rows - n_keys AS n_dup_rows
            FROM (SELECT
              (SELECT count(*) FROM $table) AS n_rows,
              (SELECT count(*) FROM
                (SELECT DISTINCT $keys FROM $table WHERE $notNull)) AS n_keys)"""
      }
      Seq(
        one("orders.o_orderkey", "orders", "o_orderkey"),
        one("customer.c_custkey", "customer", "c_custkey"),
        one("part.p_partkey", "part", "p_partkey"),
        one("supplier.s_suppkey", "supplier", "s_suppkey"),
        one("nation.n_nationkey", "nation", "n_nationkey"),
        one("region.r_regionkey", "region", "r_regionkey"),
        one("lineitem.(l_orderkey,l_linenumber)", "lineitem",
          "l_orderkey, l_linenumber"),
        one("documents.doc_id", "documents", "doc_id"),
        one("embeddings.vec_id", "embeddings", "vec_id"),
        one("events.event_id", "events", "event_id")
      ).mkString(" UNION ALL ")
    },
    // DuckDB observes the SAME tables via information_schema over the
    // registered views; its type names map onto the declared canonical
    // forms (Spark simpleString) through a fixed dictionary.
    "dq06_schema_drift" -> {
      val declaredRows = declaredContract
        .map { case (t, c, ty) => s"('$t', '$c', '$ty')" }.mkString(", ")
      s"""WITH dq6d(tbl, col_name, declared_type) AS (VALUES $declaredRows),
          dq6o AS (
            SELECT lower(table_name) AS tbl, column_name AS col_name,
              CASE data_type
                WHEN 'BIGINT' THEN 'bigint'
                WHEN 'VARCHAR' THEN 'string'
                WHEN 'INTEGER' THEN 'int'
                WHEN 'DOUBLE' THEN 'double'
                WHEN 'FLOAT[]' THEN 'array<float>'
                ELSE lower(data_type) END AS observed_type
            FROM information_schema.columns
            WHERE lower(table_name) IN
              ('documents', 'embeddings', 'nation', 'region'))
          SELECT coalesce(d.tbl, o.tbl) AS tbl,
            coalesce(d.col_name, o.col_name) AS col_name,
            d.declared_type, o.observed_type,
            CASE WHEN d.declared_type IS NULL THEN 'unexpected'
                 WHEN o.observed_type IS NULL THEN 'missing'
                 WHEN d.declared_type = o.observed_type THEN 'ok'
                 ELSE 'type_drift' END AS status
          FROM dq6d d FULL JOIN dq6o o
            ON d.tbl = o.tbl AND d.col_name = o.col_name"""
    },
    // The same one-pass aggregate + per-check unpivot; NULL embeddings
    // are excluded from per-component checks in both engines.
    "dq07_embedding_contract" -> {
      val checks = Seq(
        "null_embedding" -> "embedding IS NULL",
        "wrong_dim" -> "embedding IS NOT NULL AND len(embedding) <> 64",
        "nonfinite_component" -> ("embedding IS NOT NULL AND len(list_filter(" +
          "embedding, x -> isnan(x) OR isinf(x))) > 0"),
        "zero_vector" -> ("embedding IS NOT NULL AND len(list_filter(" +
          "embedding, x -> x <> 0)) = 0"),
        "null_label" -> "label IS NULL",
        "null_vec_id" -> "vec_id IS NULL")
      val aggs = checks.map { case (n, p) =>
        s"CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS $n"
      }.mkString(",\n              ")
      val rows = checks.map { case (n, _) =>
        s"SELECT '$n' AS check_name, n_rows, $n AS n_violations FROM dq7"
      }.mkString(" UNION ALL ")
      s"""WITH dq7 AS (
            SELECT count(*) AS n_rows,
              $aggs
            FROM embeddings)
          $rows"""
    },
    // Same fixed bins, same per-bucket scalar PSI term (integer counts
    // → IEEE division and ln — the ta16 libm precedent), same verdict
    // thresholds on the 6-dp-rounded value.
    "dq08_distribution_drift" ->
      """WITH d8 AS (
           SELECT CAST(least(floor(n_chars / 200), 7) AS INT) AS bucket,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS r
           FROM documents),
         c8 AS (
           SELECT bucket, CAST(sum(r) AS BIGINT) AS n_ref,
             CAST(sum(1 - r) AS BIGINT) AS n_cur
           FROM d8 GROUP BY bucket),
         t8 AS (
           SELECT CAST(sum(r) AS BIGINT) AS ref_total,
             CAST(sum(1 - r) AS BIGINT) AS cur_total
           FROM d8)
         SELECT bucket, n_ref, n_cur, psi_term,
           CASE WHEN psi_term IS NULL THEN 'empty_side'
                WHEN abs(psi_term) >= 0.2 THEN 'major'
                WHEN abs(psi_term) >= 0.1 THEN 'moderate'
                ELSE 'ok' END AS verdict
         FROM (
           SELECT bucket, n_ref, n_cur,
             CASE WHEN n_ref > 0 AND n_cur > 0 THEN
               round((n_ref / ref_total - n_cur / cur_total)
                 * ln((n_ref / ref_total) / (n_cur / cur_total)), 6)
             END AS psi_term
           FROM c8, t8)""",
    // Same exact-integer share; // is DuckDB integer floor division.
    "dq09_key_skew" ->
      """WITH k9 AS (
           SELECT l_orderkey AS key, count(*) AS n_rows FROM lineitem
           GROUP BY l_orderkey),
         t9 AS (SELECT count(*) AS n_total FROM lineitem)
         SELECT key, n_rows,
           CAST(n_rows * 1000 // n_total AS BIGINT) AS share_per_mille
         FROM k9, t9
         ORDER BY n_rows DESC, key ASC LIMIT 10""",

    // dq10: the oracle spells the rank rule directly (it can afford the
    // sort); the Spark side must land on the same value via refinement.
    "dq10_exact_quantiles" ->
      """WITH t10 AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
           FROM lineitem),
         n10 AS (SELECT count(*) AS cnt FROM t10),
         r10 AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM t10)
         SELECT CAST(p.p AS INT) AS p_pct, r10.c AS value_cents
         FROM (VALUES (50), (90), (99)) p(p)
         CROSS JOIN n10
         JOIN r10 ON r10.rn = greatest(1, (p.p * n10.cnt + 99) // 100)""",

    // dq11: a FRESH artifact satisfies its contract by construction, so
    // the oracle spells the contract from the base tables alone —
    // actual == expected, consistent true. The stale-artifact path is
    // the spec's job (reconcileArtifacts with an injected mismatch).
    "dq11_artifact_reconciliation" ->
      """SELECT 'bpe_doc_stats' AS artifact,
           CAST(count(*) AS BIGINT) AS n_expected,
           CAST(count(*) AS BIGINT) AS n_actual,
           true AS consistent
         FROM documents
         UNION ALL
         SELECT 'cluster_orphans', CAST(0 AS BIGINT), CAST(0 AS BIGINT), true
         UNION ALL
         SELECT 'ivf_index', CAST(count(*) AS BIGINT),
           CAST(count(*) AS BIGINT), true
         FROM embeddings""",

    // dq12: the same 3-round training unrolled (ta36's CTEs via the
    // shared scored-docs chain), then the identical integer binning —
    // p ∈ [0, 1e6] so // ≡ div.
    "dq12_classifier_calibration" ->
      s"""WITH ${TextAnalysis.scoredDocsSql}
          SELECT CAST(least(p // 100000, 9) AS INT) AS bin,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_pos,
            CAST(sum(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) * 1000000
              // count(*) AS BIGINT) AS pos_ppm,
            CAST(sum(p) // count(*) AS BIGINT) AS mean_p_micro
          FROM c36scored GROUP BY 1""")
}
