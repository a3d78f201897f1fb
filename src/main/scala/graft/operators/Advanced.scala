package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Aggregator, Window}
import graft.sources.Tables

/** Buffer/result types for the custom typed Aggregator (q32). */
final case class CentsStats(sum_cents: Long, max_cents: Long, n: Long)

/** Advanced relational operators (SURVEY.md §2.4 rows the base library
  * left open): as-of join, range join, custom UDAF, scalar UDF.
  *
  * The as-of join is the showcase: the naive formulation is a join +
  * per-row argmax (quadratic per key); the Spark-first formulation is
  * the union-and-window pattern — tag both streams, one shuffle on the
  * key, one ordered pass with `last(..., ignoreNulls)` — linear, one
  * exchange, no join at all. The DuckDB oracle intentionally computes
  * the same result with the join+argmax formulation, so the check also
  * validates algorithm equivalence, not just arithmetic.
  */
object Advanced {

  import graft.Exprs.cents // shared exact-integer-cents helper

  /** q42's bucketed tables, one write per (SparkContext, fixture):
    * key = appId|fixtureDir, value = (lineitem table, orders table). */
  private val bucketedCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** Typed Aggregator (the reference's "stateful user aggregation inside
    * a node", SURVEY.md §2.3, as a first-class Spark UDAF): exact money
    * stats in integer cents. */
  private val centsStats: Aggregator[Long, CentsStats, CentsStats] =
    new Aggregator[Long, CentsStats, CentsStats] {
      def zero: CentsStats = CentsStats(0L, Long.MinValue, 0L)
      def reduce(b: CentsStats, a: Long): CentsStats =
        CentsStats(b.sum_cents + a, math.max(b.max_cents, a), b.n + 1)
      def merge(x: CentsStats, y: CentsStats): CentsStats =
        CentsStats(x.sum_cents + y.sum_cents, math.max(x.max_cents, y.max_cents), x.n + y.n)
      def finish(r: CentsStats): CentsStats = r
      def bufferEncoder = Encoders.product[CentsStats]
      def outputEncoder = Encoders.product[CentsStats]
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- As-of join: for every click, the user's most recent view at or
    //    before it. Union-and-window: O(n log n) per key partition, ONE
    //    shuffle — this survives 100 TB where join+argmax would not.
    "q30_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("is_view").desc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("is_view", (col("event_type") === "view").cast("int"))
        // A view at the same instant as a click sorts first (is_view
        // desc), so "at or before" includes ties deterministically.
        .withColumn("last_view_ts",
          last(when(col("is_view") === 1, col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          date_format(col("last_view_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_view_ts"))
    }),

    // -- Range join: follow-up events within 5 minutes after each click,
    //    same user. Equi-key on user_id carries the shuffle; the range
    //    predicate filters inside each key partition. At extreme scale,
    //    bucketing ts into 5-minute bins turns this into a pure equi-join.
    "q31_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      clicks.join(ev,
          clicks("user_id") === ev("user_id") &&
          ev("ts") > col("cts") &&
          ev("ts") <= col("cts") + expr("INTERVAL 5 MINUTES"))
        .groupBy(col("click_id"))
        .agg(count(lit(1)).as("n_followups"))
    }),

    // -- Custom typed Aggregator used as an untyped UDAF in groupBy.agg:
    //    exact integer-cents sum/max/count per order status.
    "q32_custom_udaf" -> ((s, d) => {
      val stats = udaf(centsStats, Encoders.scalaLong)
      Tables.orders(s, d)
        .withColumn("cents", cents(col("o_totalprice")))
        .groupBy(col("o_orderstatus"))
        .agg(stats(col("cents")).as("st"))
        .select(col("o_orderstatus"),
          col("st.sum_cents").as("sum_cents"),
          col("st.max_cents").as("max_cents"),
          col("st.n").as("n"))
    }),

    // -- Salted join: the manual skew-mitigation pattern. The probe side
    //    gets a random-free, deterministic salt from its own key; the
    //    build side is replicated SALT ways so hot keys spread over SALT
    //    tasks. Result provably equals the plain join (the oracle runs
    //    the unsalted formulation). AQE's skew-join handles this
    //    automatically for sort-merge; the explicit form covers the
    //    cases AQE can't see (e.g. aggregations after the join).
    "q34_salted_join" -> ((s, d) => {
      val salt = 8
      val li = Tables.lineitem(s, d)
        .withColumn("salt", (col("l_orderkey") % salt).cast("int"))
      val o = Tables.orders(s, d)
        .withColumn("salt", explode(expr(s"sequence(0, ${salt - 1})")))
      li.join(o,
          li("l_orderkey") === o("o_orderkey") && li("salt") === o("salt"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
    }),

    // -- Map + struct scalar functions (SURVEY §2.4 scalar row): build a
    //    map and a struct per row, extract fields — outputs are plain
    //    scalars so the oracle stays engine-neutral.
    "q35_map_struct" -> ((s, d) => {
      Tables.part(s, d)
        .withColumn("m", map_from_arrays(
          array(lit("size"), lit("retail_cents")),
          array(col("p_size").cast("long"), cents(col("p_retailprice")))))
        .withColumn("st", struct(col("p_brand").as("brand"), col("p_type").as("ptype")))
        .select(
          col("p_partkey"),
          element_at(col("m"), "size").as("size_val"),
          element_at(col("m"), "retail_cents").as("retail_cents"),
          expr("size(map_keys(m))").as("n_keys"),
          col("st.brand").as("brand"),
          upper(col("st.ptype")).as("type_upper"))
    }),

    // -- Pivot: long→wide with an explicit value list (the scalable form —
    //    without it Spark must run an extra distinct scan to discover
    //    columns). Oracle is conditional aggregation, the relational
    //    equivalent.
    "q40_pivot" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),

    // -- Unpivot (melt): wide→long. At scale this is a narrow map-side
    //    reshape — no shuffle.
    "q41_unpivot" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          cents(col("c_acctbal")).as("acctbal_cents"),
          col("c_nationkey").cast("long").as("nation_id"))
        .unpivot(
          Array(col("c_custkey")),
          Array(col("acctbal_cents"), col("nation_id")),
          "metric", "value")
    }),

    // -- Correlated scalar subquery (TPC-H Q17 shape), written as SQL so
    //    Catalyst's decorrelation does the rewrite: the subquery becomes
    //    an aggregated join under the hood — the scalable form — while
    //    the user writes the natural correlated form.
    "q38_correlated_subquery" -> ((s, d) => {
      graft.Exprs.sqlOver(s, "li_q38" -> Tables.lineitem(s, d))(
        """SELECT l_partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS small_lot_cents,
             count(*) AS n_small
           FROM li_q38 l
           WHERE l_quantity < 0.5 * (SELECT avg(l_quantity)
                                     FROM li_q38 l2
                                     WHERE l2.l_partkey = l.l_partkey)
           GROUP BY l_partkey""")
    }),

    // -- LATERAL correlated table subquery: per-customer top-2 orders.
    //    Catalyst decorrelates the correlated LIMIT into a window +
    //    filter (DecorrelateInnerQuery) — one shuffle on the correlation
    //    key, no nested-loop re-execution per outer row; semantically the
    //    per-key top-k that TopKPerGroup (q43) implements natively.
    "q53_lateral_join" -> ((s, d) => {
      graft.Exprs.sqlOver(s,
          "c_q53" -> Tables.customer(s, d), "o_q53" -> Tables.orders(s, d))(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
           FROM c_q53 c,
           LATERAL (SELECT o_orderkey, o_totalprice FROM o_q53 o
                    WHERE o.o_custkey = c.c_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t""")
    }),

    // -- Correlated SCALAR subqueries in the projection: Catalyst
    //    decorrelates each into an aggregated outer join (one shuffle per
    //    distinct correlation, never per-row re-execution). The COUNT
    //    case exercises the null-vs-zero rewrite (empty group must yield
    //    0, not NULL — Spark inserts the coalesce; DuckDB agrees).
    "q54_scalar_subquery" -> ((s, d) => {
      graft.Exprs.sqlOver(s,
          "c_q54" -> Tables.customer(s, d), "o_q54" -> Tables.orders(s, d))(
        """SELECT c_custkey,
                  (SELECT max(o_totalprice) FROM o_q54 o
                   WHERE o.o_custkey = c.c_custkey) AS max_price,
                  (SELECT count(*) FROM o_q54 o
                   WHERE o.o_custkey = c.c_custkey) AS n_orders
           FROM c_q54 c""")
    }),

    // -- SCD type-2 interval construction: each user's event history
    //    becomes validity intervals [ts, next_ts) via lead() — the
    //    slowly-changing-dimension build (q45 is the type-1 upsert).
    //    One shuffle on user_id serves both the window and the rollup
    //    (same key → Catalyst reuses the partitioning, no second
    //    exchange). Durations are exact integer epoch-millis; the
    //    current version is the unique lead-IS-NULL row per user.
    "q55_scd2_intervals" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_versions"),
          sum(when(col("next_ts").isNotNull,
              unix_millis(col("next_ts")) - unix_millis(col("ts")))
            .otherwise(0L)).as("closed_ms"),
          max(when(col("next_ts").isNull, col("event_type"))).as("current_type"))
    }),

    // -- Feature standardization (z-score) — the ML-prep normalization
    //    pass. Group stats are one map-side-combined aggregation over
    //    exact decimal sums (q37's determinism trick); the per-row
    //    scoring then BROADCASTS those few stat rows back — each data
    //    row is touched once in codegen, no window (a partition window
    //    would sort 100 TB to compute a 3-number summary).
    "q56_zscore_normalize" -> ((s, d) => {
      val stats = Tables.orders(s, d)
        .withColumn("c", cents(col("o_totalprice")).cast("decimal(38,0)"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("c")).as("sx"), sum(col("c") * col("c")).as("sxx"),
             count(lit(1)).as("n"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("c"))
        .join(broadcast(stats), "o_orderstatus")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round((col("c").cast("double") - col("sx").cast("double") / col("n"))
            / sqrt((col("n").cast("double") * col("sxx").cast("double")
                    - col("sx").cast("double") * col("sx").cast("double"))
                   / (col("n").cast("double") * (col("n") - 1).cast("double"))), 6)
            .as("z"))
    }),

    // -- Z-order (Morton) clustering: THE multi-dimensional layout lever
    //    at 100 TB — io04's partition pruning handles one dimension;
    //    z-interleaving the clustering key keeps rows close in BOTH
    //    dimensions close on disk, so per-file min/max stats prune box
    //    queries on either axis (what Delta/Iceberg OPTIMIZE ZORDER
    //    does). z comes from the native codegen'd ZInterleave expression
    //    (graft.functions); the query quantifies the skipping claim as a
    //    closed form the oracle recomputes bit-by-bit in SQL: for a thin
    //    y-band over a 256x256 point set, distinct z-prefix tiles
    //    touched (<= 4 of 16, structural: y<16 zeroes the y bits of the
    //    prefix) vs distinct x-major strips touched (all 16). The
    //    physical layout (partitionBy tile, pruned scan) is pinned by
    //    PlanQualitySpec, not here — the gate checks the arithmetic.
    "q57_zorder_skipping" -> ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"),
          (col("p_partkey") % 256).as("x"),
          (cents(col("p_retailprice")) % 256).as("y"))
        .withColumn("z", graft.functions.ZInterleave.zInterleave(col("x"), col("y")))
        .filter(col("y") < 16)
        .agg(count(lit(1)).as("n_match"),
             sum(col("p_partkey")).as("sum_key"),
             countDistinct(shiftright(col("z"), 12)).as("n_buckets_z"),
             countDistinct(shiftright(col("x"), 4)).as("n_buckets_lin"))
    }),

    // -- IN subquery (SQL form of the semi-join; Catalyst plans LeftSemi).
    "q39_in_subquery" -> ((s, d) => {
      graft.Exprs.sqlOver(s,
          "o_q39" -> Tables.orders(s, d), "c_q39" -> Tables.customer(s, d))(
        """SELECT o_orderstatus, count(*) AS n
           FROM o_q39
           WHERE o_custkey IN (SELECT c_custkey FROM c_q39 WHERE c_acctbal > 9000)
           GROUP BY o_orderstatus""")
    }),

    // -- Exact quantiles (sorting-based linear interpolation — order-free,
    //    hence engine-deterministic, unlike streaming float aggregates).
    //    At 100 TB switch to approx_percentile (t-digest) and drop the
    //    oracle, as with the HLL sketch.
    "q36_percentiles" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("cents", cents(col("o_totalprice")))
        .groupBy(col("o_orderstatus"))
        // round(…, 6): repo-wide cross-engine determinism convention for
        // doubles — Spark percentile vs DuckDB quantile_cont can differ
        // in the last ulp on other fixtures.
        .agg(round(expr("percentile(cents, 0.5)"), 6).as("median_cents"),
             round(expr("percentile(cents, 0.9)"), 6).as("p90_cents"),
             round(expr("percentile(cents, 0.99)"), 6).as("p99_cents"))
    }),

    // -- Deterministic variance/stddev: Σx and Σx² as exact 128-bit
    //    decimals (order-free integer sums), the final formula evaluated
    //    once in double — bit-stable across engines AND partitionings,
    //    which the streaming float `stddev` aggregate is not.
    "q37_exact_stats" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("c", cents(col("o_totalprice")).cast("decimal(38,0)"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("c")).as("sx"), sum(col("c") * col("c")).as("sxx"),
             count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("n"),
          round((col("sx").cast("double") / col("n")), 4).as("mean_cents"),
          round(sqrt(
            (col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            / (col("n").cast("double") * (col("n") - 1).cast("double"))), 4)
            .as("stddev_cents"))
    }),

    // -- Value histogram: fixed-width binning + count — the profiling
    //    pass every ingest pipeline runs. Integer bin ids from floor
    //    division, so bin assignment is engine-exact.
    "q48_histogram" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
             min(cents(col("o_totalprice"))).as("lo_cents"),
             max(cents(col("o_totalprice"))).as("hi_cents"))
    }),

    // -- Exact Pearson correlation, q37's pattern generalized to two
    //    variables: all moments as exact 128-bit integer sums (order-
    //    free), one double formula at the end — deterministic across
    //    engines AND partitionings, which the streaming `corr` aggregate
    //    is not. Quantity is integral in the fixture; prices in cents.
    "q49_exact_corr" -> ((s, d) => {
      val x = col("x"); val y = col("y")
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(38,0)").as("x"),
          cents(col("l_extendedprice")).cast("decimal(38,0)").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"))
        .select(col("l_returnflag"), col("n"),
          round(
            (col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
            / (sqrt(col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * sqrt(col("n").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("corr_qty_price"))
    }),

    // -- Time-series resample / gap fill: densify per-user daily event
    //    counts over the full date span, zero-filling missing days — the
    //    standard pre-step for window features over sparse activity.
    //    The day grid comes from one tiny global agg broadcast against
    //    the distinct-user set; the left join streams the (small) grid
    //    against pre-aggregated counts.
    "q50_resample" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val bounds = ev.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val days = bounds.select(
        explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
      val users = ev.select(col("user_id")).distinct()
      val counts = ev.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n"))
      users.crossJoin(broadcast(days))
        .join(counts, Seq("user_id", "day"), "left")
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n"), lit(0L)).as("n"))
    }),

    // -- Scalar Scala UDF (the F2 escape hatch — a black box to Catalyst,
    //    which is exactly why the library prefers built-ins everywhere
    //    else). The oracle recomputes it with pure SQL, proving the two
    //    formulations agree.
    "q33_scalar_udf" -> ((s, d) => {
      val vowels = udf((t: String) => t.count("aeiou".contains(_)))
      Tables.documents(s, d)
        .select(col("doc_id"), vowels(col("text")).as("n_vowels"))
    }),

    // -- Bucketed co-located join: both fact tables written bucketed on
    //    the join key (bucketBy + sortBy), so the join needs NO exchange
    //    on either side — the 100 TB pattern for repeated big-big joins:
    //    pay the shuffle once at write time, never again per query.
    //    PlanQualitySpec pins the no-Exchange plan; the oracle is the
    //    plain join (bucketing is semantics-free). The write happens
    //    ONCE per (context, fixture) — that is the point of bucketing,
    //    and re-writing per invocation made every bench rep measure
    //    ~2 s of table setup instead of the exchange-free join.
    "q42_bucketed_join" -> ((s, d) => {
      // The session catalog is in-memory: a table dir left by a previous
      // JVM is unknown to it, and CTAS refuses a non-empty location —
      // drop both catalog entry and directory before writing.
      def saveBucketed(df: DataFrame, name: String, key: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
        df.write.format("parquet")
          .bucketBy(8, key).sortBy(key).saveAsTable(name)
      }
      // Table names carry the fixture suffix (one catalog may serve
      // several fixtures); the evict+build is under one lock like
      // Dedup's bloomCache — getOrElseUpdate alone is not atomic.
      val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
      val appPrefix = s.sparkContext.applicationId + "|"
      val (liName, ordName) = bucketedCache.synchronized {
        bucketedCache.keySet.filterNot(_.startsWith(appPrefix))
          .foreach(bucketedCache.remove)
        bucketedCache.getOrElseUpdate(appPrefix + d, {
          val li = s"graft_li_bkt_$sfx"; val ord = s"graft_ord_bkt_$sfx"
          saveBucketed(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
            li, "l_orderkey")
          saveBucketed(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderpriority")),
            ord, "o_orderkey")
          (li, ord)
        })
      }
      s.table(liName)
        .join(s.table(ordName), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
             sum(col("l_quantity")).as("sum_qty"),
             sum(cents(col("l_extendedprice"))).as("price_cents"))
    }),

    // -- Whole-operator extension (§7.3 rung (c)): top-3 orders per
    //    customer through the native bounded-heap TopKPerGroup physical
    //    operator (graft.plans) — custom LogicalPlan + Strategy +
    //    SparkPlan. The oracle is the window row_number formulation:
    //    same row set, materially cheaper plan (no per-group full sort).
    "q43_native_topk_per_group" -> ((s, d) => {
      graft.plans.TopK.topKPerGroup(
        Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        keys = Seq(col("o_custkey")),
        order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 3)
    }),

    // -- Typed cogroup: the two-input per-key processor (the reference's
    //    binary stateful MiddleFunc, SURVEY §2.3) — arbitrary Scala over
    //    both sides' rows for one key, with both inputs shuffled to the
    //    same partition. The declarative twin is a LEFT JOIN + group
    //    (which the oracle computes); cogroup is the escape hatch for
    //    per-key logic joins can't express.
    "q47_cogroup" -> ((s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), cents(col("c_acctbal")).as("bal"))
        .as[(Long, Long)]
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), cents(col("o_totalprice")).as("t"))
        .as[(Long, Long)]
      c.groupByKey(_._1).cogroup(o.groupByKey(_._1)) { (k, cs, os) =>
        val cl = cs.toSeq
        if (cl.isEmpty) Iterator.empty // orders of unknown customers drop
        else {
          val ol = os.map(_._2).toSeq
          Iterator((k, cl.head._2, ol.size.toLong, ol.sum))
        }
      }.toDF("c_custkey", "bal_cents", "n_orders", "total_cents")
    }),

    // -- approx_percentile (Greenwald-Khanna sketch): the constant-memory
    //    quantile at 100 TB (q36 is the exact tier). As with q19, the
    //    sketch value is engine-specific; the oracle-checked output is
    //    the rank-error assertion the sketch guarantees: accuracy 10000
    //    bounds rank error to n/10000, flagged at 1% (a 100× margin).
    "q44_approx_percentile" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderstatus"), cents(col("o_totalprice")).as("c"))
      val sketch = o.groupBy(col("o_orderstatus"))
        .agg(expr("percentile_approx(c, 0.5, 10000)").as("p50"))
      o.join(broadcast(sketch), "o_orderstatus")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("c") <= col("p50"), 1L).otherwise(0L)).as("n_below"))
        .select(col("o_orderstatus"), col("n"),
          (abs(col("n_below").cast("double") / col("n") - 0.5) <= 0.01)
            .as("p50_within_1pct"))
    }),

    // -- SCD1 upsert (dimension maintenance): apply a deterministic
    //    change set (updates to every 10th customer, inserts of new
    //    keys) to the customer dim via full-outer merge + coalesce —
    //    the MERGE INTO shape on plain parquet. One shuffle on the key;
    //    at 100 TB the target side would be bucketed (q42) so only the
    //    change set shuffles.
    "q45_scd1_upsert" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), cents(col("c_acctbal")).as("bal_cents"))
      val changes =
        dim.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("bal_cents") + 100000L).as("bal_cents"))
        .unionAll(
          dim.filter(col("c_custkey") % 97 === 3)
            .select((col("c_custkey") + 10000000L).as("c_custkey"),
              concat(lit("NEW "), col("c_name")).as("c_name"),
              lit(0L).as("bal_cents")))
      dim.as("d").join(changes.as("u"),
          col("d.c_custkey") === col("u.c_custkey"), "full_outer")
        .select(
          coalesce(col("u.c_custkey"), col("d.c_custkey")).as("c_custkey"),
          coalesce(col("u.c_name"), col("d.c_name")).as("c_name"),
          coalesce(col("u.bal_cents"), col("d.bal_cents")).as("bal_cents"))
    }),

    // -- Robust anomaly detection: median + MAD (median absolute
    //    deviation) per event_type, flagging events beyond 3 MADs —
    //    the outlier gate that survives the outliers themselves (mean
    //    ± k·stddev moves WITH the anomaly; the 50th percentile does
    //    not). Shape: two exact-percentile aggregations (q36's
    //    sorting-based tier; at 100 TB swap in approx_percentile as
    //    documented there) with the tiny per-type medians BROADCAST
    //    back over the rows both times — the corpus shuffles only
    //    into the two aggs, never for the flag-back. Determinism:
    //    values are micro-unit bigints, medians 6-dp-rounded in both
    //    engines before the comparison (q36 convention), so the
    //    3·MAD boundary test is exact.
    "q62_mad_outliers" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_type"),
          expr("cast(round(value * 1e6) as bigint)").as("v"))
      val med = e.groupBy(col("event_type"))
        .agg(round(expr("percentile(v, 0.5)"), 6).as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("v") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(round(expr("percentile(dev, 0.5)"), 6).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("dev") > lit(3d) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          max(col("med")).as("med_micro"),
          max(col("mad")).as("mad_micro"))
    })
  )

  /** The shuffle-free bucketed join subplan (no aggregation), exposed for
    * PlanQualitySpec's no-Exchange assertion. Requires q42 to have
    * written the bucketed tables for fixture `d` in this session. */
  def bucketedJoinPlan(s: SparkSession, d: String): DataFrame = {
    val (liName, ordName) = bucketedCache(s.sparkContext.applicationId + "|" + d)
    s.table(liName)
      .join(s.table(ordName), col("l_orderkey") === col("o_orderkey"))
  }

  def oracleSql: Map[String, String] = Map(
    // Join + argmax formulation — algorithmically different from the
    // Spark union-and-window plan, same answer.
    "q30_asof_join" ->
      """SELECT event_id, user_id, asof_view_ts FROM (
           SELECT c.event_id, c.user_id,
             strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS asof_view_ts,
             row_number() OVER (PARTITION BY c.event_id
                                ORDER BY v.ts DESC, v.event_id ASC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'click') c
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON c.user_id = v.user_id AND v.ts <= c.ts)
         WHERE rn = 1""",
    "q31_range_join" ->
      """SELECT c.event_id AS click_id, count(*) AS n_followups
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         JOIN events e
           ON c.user_id = e.user_id
          AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE
         GROUP BY c.event_id""",
    "q32_custom_udaf" ->
      """SELECT o_orderstatus,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
         max(CAST(round(o_totalprice*100) AS BIGINT)) AS max_cents,
         count(*) AS n
         FROM orders GROUP BY o_orderstatus""",
    "q33_scalar_udf" ->
      """SELECT doc_id,
         CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT) AS n_vowels
         FROM documents""",
    "q40_pivot" ->
      """SELECT o_orderpriority,
         count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
         count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
         count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
         FROM orders GROUP BY o_orderpriority""",
    "q41_unpivot" ->
      """SELECT c_custkey, 'acctbal_cents' AS metric,
              CAST(round(c_acctbal*100) AS BIGINT) AS value FROM customer
         UNION ALL
         SELECT c_custkey, 'nation_id' AS metric,
              CAST(c_nationkey AS BIGINT) AS value FROM customer""",
    "q38_correlated_subquery" ->
      """SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS small_lot_cents,
         count(*) AS n_small
         FROM lineitem l
         WHERE l_quantity < 0.5 * (SELECT avg(l_quantity)
                                   FROM lineitem l2
                                   WHERE l2.l_partkey = l.l_partkey)
         GROUP BY l_partkey""",
    "q54_scalar_subquery" ->
      """SELECT c_custkey,
                (SELECT max(o_totalprice) FROM orders o
                 WHERE o.o_custkey = c.c_custkey) AS max_price,
                (SELECT count(*) FROM orders o
                 WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c""",
    "q53_lateral_join" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t""",
    "q56_zscore_normalize" ->
      """SELECT o_orderkey, o_orderstatus,
           round((CAST(c AS DOUBLE) - CAST(sx AS DOUBLE) / n)
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6) AS z
         FROM (SELECT o_orderkey, o_orderstatus,
                 CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders)
         JOIN (SELECT o_orderstatus,
                 sum(CAST(round(o_totalprice*100) AS BIGINT)) AS sx,
                 sum(CAST(round(o_totalprice*100) AS BIGINT)
                   * CAST(round(o_totalprice*100) AS BIGINT)) AS sxx,
                 count(*) AS n
               FROM orders GROUP BY o_orderstatus) USING (o_orderstatus)""",
    "q55_scd2_intervals" ->
      """SELECT user_id, count(*) AS n_versions,
           CAST(sum(CASE WHEN next_ts IS NOT NULL
                         THEN epoch_ms(next_ts) - epoch_ms(ts)
                         ELSE 0 END) AS BIGINT) AS closed_ms,
           max(CASE WHEN next_ts IS NULL THEN event_type END) AS current_type
         FROM (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                 lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS next_ts
               FROM events)
         GROUP BY user_id""",
    // Same Morton interleave, unrolled to 8 shift/mask terms per axis.
    "q57_zorder_skipping" -> {
      val zexpr = (0 until 8).map(i =>
        s"(((x >> $i) & 1) * ${1L << (2 * i + 1)} + ((y >> $i) & 1) * ${1L << (2 * i)})")
        .mkString(" + ")
      s"""WITH pts AS (SELECT p_partkey, p_partkey % 256 AS x,
            CAST(round(p_retailprice*100) AS BIGINT) % 256 AS y FROM part)
          SELECT count(*) AS n_match, CAST(sum(p_partkey) AS BIGINT) AS sum_key,
            CAST(count(DISTINCT ($zexpr) // 4096) AS BIGINT) AS n_buckets_z,
            CAST(count(DISTINCT x // 16) AS BIGINT) AS n_buckets_lin
          FROM pts WHERE y < 16"""
    },
    "q39_in_subquery" ->
      """SELECT o_orderstatus, count(*) AS n
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
         GROUP BY o_orderstatus""",
    "q36_percentiles" ->
      """SELECT o_orderstatus,
         round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5), 6) AS median_cents,
         round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.9), 6) AS p90_cents,
         round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.99), 6) AS p99_cents
         FROM orders GROUP BY o_orderstatus""",
    "q37_exact_stats" ->
      """SELECT o_orderstatus, n,
         round(CAST(sx AS DOUBLE) / n, 4) AS mean_cents,
         round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 4) AS stddev_cents
         FROM (
           SELECT o_orderstatus,
             sum(CAST(round(o_totalprice*100) AS BIGINT)) AS sx,
             sum(CAST(round(o_totalprice*100) AS BIGINT)
               * CAST(round(o_totalprice*100) AS BIGINT)) AS sxx,
             count(*) AS n
           FROM orders GROUP BY o_orderstatus)""",
    // The window formulation — same row set the bounded-heap operator
    // must produce (its whole point is skipping this plan's full sort).
    "q43_native_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 3""",
    "q50_resample" ->
      """WITH b AS (SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx
                    FROM events),
          days AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
                   FROM b),
          u AS (SELECT DISTINCT user_id FROM events),
          c AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
                FROM events GROUP BY 1, 2)
         SELECT u.user_id, strftime(d.day, '%Y-%m-%d') AS day,
                CAST(coalesce(c.n, 0) AS BIGINT) AS n
         FROM u CROSS JOIN days d
         LEFT JOIN c ON c.user_id = u.user_id AND c.day = d.day""",
    "q48_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
         count(*) AS n,
         CAST(min(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS lo_cents,
         CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS hi_cents
         FROM orders GROUP BY 1""",
    "q49_exact_corr" ->
      """SELECT l_returnflag, n,
         round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_qty_price
         FROM (
           SELECT l_returnflag, count(*) AS n,
             sum(CAST(l_quantity AS HUGEINT)) AS sx,
             sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS HUGEINT)) AS sy,
             sum(CAST(l_quantity AS HUGEINT)
               * CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS HUGEINT)) AS sxy,
             sum(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS sxx,
             sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS HUGEINT)
               * CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS HUGEINT)) AS syy
           FROM lineitem GROUP BY l_returnflag)""",
    // The declarative twin of the typed cogroup.
    "q47_cogroup" ->
      """SELECT c_custkey,
         CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents,
         count(o_orderkey) AS n_orders,
         CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS BIGINT) AS total_cents
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY 1, 2""",
    // The sketch value is engine-specific; the oracle checks group sizes
    // and that the sketch's rank guarantee held (flag TRUE).
    "q44_approx_percentile" ->
      """SELECT o_orderstatus, count(*) AS n, TRUE AS p50_within_1pct
         FROM orders GROUP BY o_orderstatus""",
    // Same merge, DuckDB formulation.
    "q45_scd1_upsert" ->
      """WITH dim AS (SELECT c_custkey, c_name,
                        CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents
                      FROM customer),
          changes AS (
            SELECT c_custkey, c_name, bal_cents + 100000 AS bal_cents
            FROM dim WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey + 10000000, 'NEW ' || c_name, CAST(0 AS BIGINT)
            FROM dim WHERE c_custkey % 97 = 3)
         SELECT coalesce(u.c_custkey, d.c_custkey) AS c_custkey,
                coalesce(u.c_name, d.c_name) AS c_name,
                coalesce(u.bal_cents, d.bal_cents) AS bal_cents
         FROM dim d FULL OUTER JOIN changes u ON d.c_custkey = u.c_custkey""",
    // The plain-join formulation — equality proves bucketing is
    // semantics-free (what changes is the plan: no join-time exchange).
    "q42_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
         sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    // The unsalted formulation — equality proves the salt is semantics-free.
    "q34_salted_join" ->
      """SELECT o_orderstatus, count(*) AS n_items, sum(l_quantity) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus""",
    "q35_map_struct" ->
      """SELECT p_partkey,
         CAST(p_size AS BIGINT) AS size_val,
         CAST(round(p_retailprice*100) AS BIGINT) AS retail_cents,
         2 AS n_keys,
         p_brand AS brand,
         upper(p_type) AS type_upper
         FROM part""",
    "q62_mad_outliers" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 1e6) AS BIGINT) AS v
              FROM events),
          med AS (SELECT event_type, round(quantile_cont(v, 0.5), 6) AS med
                  FROM e GROUP BY event_type),
          dev AS (SELECT e.event_type, abs(v - med) AS dev, med
                  FROM e JOIN med USING (event_type)),
          mad AS (SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
                  FROM dev GROUP BY event_type)
          SELECT d.event_type, count(*) AS n_events,
                 CAST(count(*) FILTER (WHERE d.dev > 3 * m.mad) AS BIGINT)
                   AS n_outliers,
                 max(d.med) AS med_micro, max(m.mad) AS mad_micro
          FROM dev d JOIN mad m USING (event_type)
          GROUP BY d.event_type"""
  )
}
