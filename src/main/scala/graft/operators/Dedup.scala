package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.CatalystBridge
import graft.sources.{Scratch, Tables}
import scala.collection.concurrent.TrieMap

/** Deduplication operators (SURVEY.md §2.5) over `documents`/`embeddings`.
  *
  * The reference's stateful-MiddleFunc pattern (SURVEY.md §2.3 — dedup
  * caches held in node locals, /root/reference/pipe/node.go:19) only works
  * single-process; these are the distributed re-designs a 100 TB corpus
  * needs:
  *
  *   - exact dedup        → hash groupBy (one shuffle, map-side combine)
  *   - MinHash + LSH      → signature → band buckets → candidate join →
  *                          exact verify. Candidates are bounded by the
  *                          banding, never O(n²).
  *   - SimHash            → 32-bit fingerprint; byte-banding makes the
  *                          hamming≤3 pair search exact (pigeonhole: 3 bit
  *                          flips cannot touch all 4 bytes), one shuffle.
  *   - blocked n-gram Jaccard → pairwise only *within* small blocks.
  *   - embedding near-dup → cosine over same-label cells (IVF-style
  *                          coarse blocking), avoiding the all-pairs join.
  *
  * Cross-engine determinism: hashes are md5 hex *strings* (min over
  * strings is engine-neutral, unlike numeric murmur variants); numeric
  * hash values derive from md5 hex prefixes via base-16 conversion, which
  * DuckDB reproduces with `CAST(concat('0x', …) AS BIGINT)`. Cosines use
  * one fixed formula `dot/sqrt(na*nb)` with sequential folds on both
  * engines and are rounded to 6 decimals before any filter.
  */
object Dedup {

  /** Non-empty whitespace tokens / word 3-gram shingle set, as SQL
    * expression strings (composable inside larger expressions). */
  private val toks = "filter(split(text, ' '), x -> x <> '')"

  /** doc_id + distinct 3-gram shingle set, hashed to 60-bit ints (docs
    * with ≥3 tokens). Hashing before the pairwise phase is the scale
    * design: integer array_intersect beats string intersect, and at
    * 100 TB the pair joins shuffle 8-byte hashes, not text. Identical
    * md5-prefix hashing on the oracle side keeps Jaccard values equal
    * (a 60-bit collision would shift both engines the same way). */
  private[graft] def shingleSetsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr("size(tk) >= 3"))
      .select(col("doc_id"), expr(
        "array_distinct(transform(" +
        "transform(sequence(0, size(tk) - 3), " +
        "i -> concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2), ' ', element_at(tk, i + 3))), " +
        "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)))"
      ).as("sh"))

  private def shingleSets(s: SparkSession, d: String): DataFrame =
    shingleSetsOf(Tables.documents(s, d))

  /** MinHash permutation constants: h_i(x) = (A_i·x + B_i) mod P over a
    * 31-bit base hash. P is the Mersenne prime 2^31−1; A_i·x stays under
    * 2^54 so the arithmetic never overflows a signed 64-bit in either
    * engine. The base hash is the first 60 bits of md5 — computed ONCE
    * per shingle; the k permutations are cheap integer ops (vs k md5
    * calls per shingle, which dominated the profile at sf0.1). */
  private val P = 2147483647L
  private val A = Seq(1299721L, 15485863L, 32452843L, 49979687L,
                      67867967L, 86028121L, 104395301L, 122949823L)
  private val B = Seq.tabulate(8)(i => i * 999983L + 12345L)

  /** dd12's broadcast Bloom filter, one per (SparkContext, fixture).
    * Entries for other (stopped) contexts are evicted on access — a
    * dead context's broadcast can never be reused, only leak. */
  private val bloomCache = TrieMap.empty[
    String, org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter]]

  /** One row per (doc_id, word n-gram occurrence) — THE shared gram
    * stream (ta10 reuses it). Explodes a cheap integer index and builds
    * each gram once in the outer projection — exploding the gram *array*
    * would re-evaluate its construction lambda per output element
    * (O(len²) per doc, the dominant cost in the first bench profile).
    * Multiset, not set: fine for min/majority aggregation, which is
    * duplicate-insensitive for min. */
  private[operators] def gramStrings(s: SparkSession, d: String, n: Int): DataFrame = {
    val parts = (1 to n).map(j => s"element_at(tk, i + $j)").mkString(", ' ', ")
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr(s"size(tk) >= $n"))
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, size(tk) - $n)")).as("i"))
      .select(col("doc_id"), expr(s"concat($parts)").as("g"))
  }

  /** [[gramStrings]] hashed to 60-bit ints (decontamination joins ship
    * 8-byte hashes, never gram text). */
  private def gramStream(s: SparkSession, d: String, n: Int): DataFrame =
    gramStrings(s, d, n).select(col("doc_id"),
      expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)").as("gh"))

  /** POSITIONED hashed gram stream (doc_id, i, gh) — dd18's ExactSubstr
    * span merge needs gram START OFFSETS, which the positionless index
    * drops. Same construction discipline as [[gramStrings]] (integer
    * index explode, gram built once in the outer projection). */
  private[graft] def gramStreamPosOf(docs: DataFrame, n: Int): DataFrame = {
    val parts = (1 to n).map(j => s"element_at(tk, i + $j)").mkString(", ' ', ")
    docs
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr(s"size(tk) >= $n"))
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, size(tk) - $n)")).as("i"))
      .select(col("doc_id"), col("i"), expr(
        s"cast(conv(substring(md5(concat($parts)), 1, 15), 16, 10) as bigint)")
        .as("gh"))
  }
  private def gramStreamPos(s: SparkSession, d: String, n: Int): DataFrame =
    gramStreamPosOf(Tables.documents(s, d), n)

  /** Hashed n-gram stream from ANY documents-shaped relation (st18 runs
    * it per micro-batch inside foreachBatch). Same explode-the-integer-
    * index shape as [[gramStrings]]: the gram text and its md5 are built
    * in the outer projection, which whole-stage codegen compiles — an
    * array_distinct(transform(...)) formulation keeps the md5 inside a
    * higher-order-function lambda, which Spark evaluates interpreted
    * (measured 2.5× slower on the fixture corpus). */
  private[graft] def gramHashesOf(docs: DataFrame, n: Int): DataFrame = {
    val parts = (1 to n).map(j => s"element_at(tk, i + $j)").mkString(", ' ', ")
    docs.select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr(s"size(tk) >= $n"))
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, size(tk) - $n)")).as("i"))
      .select(col("doc_id"),
        expr(s"cast(conv(substring(md5(concat($parts)), 1, 15), 16, 10) as bigint)").as("gh"))
  }

  /** The benchmark (held-out) gram set dd08/dd12 decontaminate against:
    * distinct 8-gram hashes of every doc_id % 10 == 0 document. Itself
    * a STAGED artifact (form "b", derived from the staged gram index):
    * the distinct is a shuffle of the benchmark gram stream, and the
    * streaming consumers (st18, pl04) would otherwise pay it once per
    * MICRO-BATCH — a per-trigger rebuild of a static relation. Staged,
    * every probe (batch or per-batch broadcast) scans a ready parquet
    * of 8-byte keys. */
  private[graft] def benchGramSet(s: SparkSession, d: String): DataFrame =
    stagedGramForm(s, d, 8, "b")(
      stagedGrams(s, d, 8)
        .filter(col("doc_id") % 10 === 0)
        .select(col("gh")).distinct())

  /** STAGED gram index: the write-once/probe-many pipeline shape. A
    * decontamination or boilerplate pass reads the gram stream from TWO
    * branches (the reference/df side and the probe side); evaluating the
    * tokenize→shingle→hash pipeline twice doubles the dominant cost, so
    * a corpus-scale curation run materializes the index to storage once
    * and every branch scans the parquet (with pushdown/pruning) instead
    * of re-deriving it. Keyed by (application, fixture, n, form). */
  private def stagedGramForm(
      s: SparkSession, d: String, n: Int, form: String)(
      build: => DataFrame): DataFrame =
    Scratch.stagedParquet(s, d, s"gram_idx_$n$form")(build)
  /** Hashed staged gram index (form "h") — the only staged form in use:
    * every consumer probes by 8-byte gram hash (text-form staging was
    * retired when ta10/ta20 went hashed; [[gramStrings]] remains for
    * direct in-plan use, e.g. ta13's bigrams). */
  private[operators] def stagedGrams(
      s: SparkSession, d: String, n: Int): DataFrame =
    stagedGramForm(s, d, n, "h")(gramStream(s, d, n))
  /** [[gramStreamPos]] staged per fixture (form "p"). */
  private[operators] def stagedGramsPos(
      s: SparkSession, d: String, n: Int): DataFrame =
    stagedGramForm(s, d, n, "p")(gramStreamPos(s, d, n))

  /** dd19's content-defined chunker, extracted pure so the CDC
    * RE-SYNCHRONIZATION property (an insertion shifts only chunks up to
    * the first following boundary; fixed-grid chunking shifts ALL of
    * them) is spec-testable on synthetic edits. `grams` must be the
    * positioned hash stream of `docs` (doc_id, i, gh). Returns one row
    * per chunk: (doc_id, cs, ce, ch = md5 of the chunk's tokens). */
  private[graft] def cdcChunksOf(
      docs: DataFrame, grams: DataFrame, n: Int): DataFrame = {
    val tkDf = docs
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr(s"size(tk) >= $n"))
    val starts = grams.filter(pmod(col("gh"), lit(64)) === 0)
      .select(col("doc_id"), col("i"))
      .unionAll(tkDf.select(col("doc_id"), lit(0).as("i")))
      .distinct()
    // Chunk content WITHOUT joining the token array per chunk (which
    // copies a T-token array into ~T/64 chunk rows — O(T²/64) bytes per
    // document through the join, degrading on a 1M-token outlier).
    // Instead: explode tokens once (T rows), union in the boundary
    // markers, and label every token with its chunk start cs = running
    // max of boundary positions ≤ pos (markers sort before the token at
    // the same position, so a boundary token starts its own chunk).
    // One doc_id-keyed window + one (doc_id, cs) aggregation, all O(T).
    val tkPos = tkDf.select(col("doc_id"),
      posexplode(col("tk")).as(Seq("pos", "tok")))
      .withColumn("m", lit(0))
    val markers = starts.select(col("doc_id"), col("i").as("pos"),
      lit(null).cast("string").as("tok"), lit(1).as("m"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("pos").asc, col("m").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tkPos.unionByName(markers)
      .withColumn("cs", max(when(col("m") === 1, col("pos"))).over(w))
      .filter(col("m") === 0)
      .groupBy(col("doc_id"), col("cs"))
      .agg((max(col("pos")) + 1).as("ce"),
        // Ordered reassembly: sort the (pos, tok) structs, project the
        // tokens, space-join — identical bytes to the old slice form.
        md5(concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)")))
          .as("ch"))
      .select(col("doc_id"), col("cs"), col("ce"), col("ch"))
  }

  /** dd18's gaps-and-islands span merge, extracted pure for property
    * testing: duplicated gram START offsets (doc_id, i) merge into
    * maximal spans [s, e] — a new island starts when the gap between
    * consecutive starts exceeds the gram width n (covered token ranges
    * disjoint and non-adjacent). One doc_id-keyed exchange; the per-doc
    * sort is bounded by doc length. */
  private[graft] def substringSpans(hits: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    hits
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(w) <= n, 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("s"), (max(col("i")) + lit(n - 1)).as("e"))
  }

  /** Wide MinHash signature (doc_id, mh0..mh{k-1}) computed directly on
    * the hashed shingle SET — no explode, no shuffle: the signature is a
    * per-row computation over ~tens of elements. All k minima come from
    * ONE pass of the native codegen'd MinHashPerms expression (the HOF
    * fold walked the set once per permutation); the ms array is
    * referenced k times downstream, which is safe post-SPARK-36718 —
    * CollapseProject never duplicates a non-cheap expression, so the
    * native loop runs once per row (the signature spec's oracle parity
    * would catch any re-evaluation semantics drift, and dd02's battery
    * run pins the values). (min over the distinct set == min over the
    * multiset.) */
  private[graft] def minhashWideOf(sets: DataFrame, k: Int): DataFrame =
    sets
      .select(col("doc_id"),
        graft.functions.MinHashPerms.minhashPerms(
          col("sh"), A.take(k), B.take(k), P).as("ms"))
      .select(col("doc_id") +:
        (0 until k).map(i => expr(s"ms[$i]").as(s"mh$i")): _*)

  private def minhashWide(s: SparkSession, d: String, k: Int): DataFrame =
    minhashWideOf(shingleSets(s, d), k)

  /** MinHash signature, long format (doc_id, hid, minhash) — the wide
    * form unpivoted (k rows per doc, post-computation). */
  private def minhashSig(s: SparkSession, d: String, k: Int): DataFrame = {
    val stackArgs = (0 until k).map(i => s"$i, mh$i").mkString(", ")
    minhashWide(s, d, k).select(col("doc_id"),
      expr(s"stack($k, $stackArgs)").as(Seq("hid", "minhash")))
  }

  /** SimHash width/banding: 60 bits (the widest md5-prefix integer both
    * engines parse exactly — 15 hex chars) split into 4 bands of 15 bits.
    * Pigeonhole: hamming ≤ 3 flips cannot touch all 4 bands, so the band
    * join has 100% recall; 2^15 = 32768 buckets per band keeps bucket
    * occupancy ~n/32768 — the within-bucket pair phase stays subquadratic
    * far past the 256-bucket point where 8-bit bands degrade to O(n²). */
  private val SimhashBits = 60
  private val SimhashBands = 4
  private val SimhashBandBits = SimhashBits / SimhashBands
  private val SimhashBandMask = (1 << SimhashBandBits) - 1

  /** 60-bit SimHash over tf-weighted shingles: bit j is the majority of
    * hash-bit j across all shingle occurrences. Computed as a per-row
    * nested fold over the doc's hashed-gram array — no explode, no
    * shuffle, no per-gram allocations (the inner fold is all primitive
    * longs). Measured 4.4× the explode + 60-conditional-bit-sums hash
    * agg at sf0.1 (7.3 s → 1.65 s warm), bit-identical output; and a
    * narrow map scales embarrassingly where the agg formulation paid a
    * corpus-sized shuffle.
    *
    * The token array and gram-hash array are LAMBDA-BOUND (single-element
    * transform) rather than staged as projection columns: CollapseProject
    * would otherwise inline their construction at every reference site —
    * including inside the 60-iteration fold lambda — re-running the
    * split/md5 pipeline 60+ times per row in downstream query contexts
    * (measured: dd06 went from minutes to seconds). A lambda variable is
    * evaluated exactly once regardless of how Catalyst merges projections. */
  private def simhash(s: SparkSession, d: String): DataFrame = {
    val hsOfTk =
      "transform(transform(sequence(0, size(tk) - 3), " +
      "i -> concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2), ' ', element_at(tk, i + 3))), " +
      "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint))"
    val fold =
      s"aggregate(sequence(0, ${SimhashBits - 1}), 0L, (fp, j) -> fp + " +
      "if(2 * aggregate(hs, 0L, (acc, h) -> acc + (shiftright(h, j) & 1)) > size(hs), " +
      "shiftleft(cast(1 as bigint), j), 0L))"
    Tables.documents(s, d)
      .filter(expr(s"size($toks) >= 3"))
      .select(col("doc_id"), expr(
        s"element_at(transform(array($toks), tk -> " +
        s"element_at(transform(array($hsOfTk), hs -> $fold), 1)), 1)").as("simhash"))
  }

  /** Jaccard from a precomputed intersection-size column (the intersect
    * is the expensive part — never evaluate it twice per pair). */
  private def jaccardOf(inter: Column, a: Column, b: Column): Column =
    round(inter.cast("double") / (size(a) + size(b) - inter), 6)

  /** dd04's candidate generator: prefix-filter blocking (AllPairs/PPJoin).
    * `docs` = (doc_id, lang, source, sh) with sh SORTED ascending — the
    * shared global element order the prefix lemma needs. Each doc emits
    * its first |sh| - ceil(0.3·|sh|) + 1 hashes as block keys; a pair
    * with jaccard >= 0.3 must share a prefix key (if it didn't, every
    * common element would sit past one doc's prefix, capping the
    * intersection at ceil(0.3·|X|) - 1 < 0.3·|X| <= |A∩B| — absurd), so
    * candidates are recall-complete and bounded by per-shingle document
    * frequency instead of block cardinality. ceil(3n/10) = (3n+9) div 10
    * in exact integer arithmetic. */
  /** dd11's frontier walk: Seq of DISTINCT (start, node) frames — hop 0
    * (every vertex with itself) through hop `depth`. Deduping the
    * frontier after every expansion bounds hop k at |starts|·|nodes|
    * rows regardless of how many paths reach a node — the property the
    * UNION ALL path walk lacked (OperatorsSpec pins it on a clique). */
  private[operators] def khopFrontiers(edges: DataFrame, depth: Int): Seq[DataFrame] = {
    val hop0 = edges.select(col("src").as("start")).distinct()
      .select(col("start"), col("start").as("node"))
    (1 to depth).scanLeft(hop0) { (front, _) =>
      front.as("f")
        .join(edges.as("e"), col("f.node") === col("e.src"))
        .select(col("f.start").as("start"), col("e.dst").as("node"))
        .distinct()
    }
  }

  private[operators] def ngramCandidates(docs: DataFrame): DataFrame = {
    val pfx = docs.select(col("doc_id"), col("lang"), col("source"),
      explode(expr("slice(sh, 1, size(sh) - (3 * size(sh) + 9) div 10 + 1)")).as("pk"))
    pfx.as("a")
      .join(pfx.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
        col("a.pk") === col("b.pk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Verified MinHash-LSH near-dup pairs (dd03's body; also the edge set
    * for dd09's cluster resolution). Band keys straight off the wide
    * signature: 4 rows per doc, no aggregation — banding is a per-row
    * reshape. */
  /** (doc_id, bk) band keys off the wide k=8 signature — 4 rows per doc,
    * a per-row reshape shared by the batch (dd03) and streaming (st19)
    * LSH legs. */
  private[graft] def bandKeysOf(sig: DataFrame): DataFrame = {
    val bandKeys = (0 until 4).map(b =>
      s"$b, md5(concat($b, '|', mh${2 * b}, '|', mh${2 * b + 1}))").mkString(", ")
    sig.select(col("doc_id"), expr(s"stack(4, $bandKeys)").as(Seq("band", "bk")))
      .select(col("doc_id"), col("bk"))
  }

  /** Jaccard ≥ `minJ` verification of candidate pairs against a shingle-
    * set lookup relation — the shared confirm stage (dd03 batch, st19
    * streaming). The intersect is computed once per pair. */
  private[graft] def verifyPairs(
      cand: DataFrame, sets: DataFrame, minJ: Double): DataFrame =
    cand
      .join(sets.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sets.as("y"), col("doc_b") === col("y.doc_id"))
      .withColumn("inter", size(array_intersect(col("x.sh"), col("y.sh"))))
      .select(col("doc_a"), col("doc_b"),
        jaccardOf(col("inter"), col("x.sh"), col("y.sh")).as("jaccard"))
      .filter(col("jaccard") >= minJ)

  /** The full MinHash-LSH verified-pair pipeline over ANY documents-
    * shaped relation — candidate generation and Jaccard verification
    * are both PAIRWISE (band keys and shingle sets are per-doc), so
    * pairs over a doc SUBSET equal the full corpus's pairs restricted
    * to it; pl15's estate purge leans on exactly that to recompute
    * only the affected components' labels. */
  private[operators] def lshPairsOf(docs: DataFrame): DataFrame = {
    val sets = shingleSetsOf(docs)
    val bands = bandKeysOf(minhashWideOf(sets, 8))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, sets, 0.5)
  }

  private def lshPairs(s: SparkSession, d: String): DataFrame = {
    val bands = bandKeysOf(minhashWide(s, d, 8))
    val cand = bands.as("a")
      .join(bands.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, shingleSets(s, d), 0.5)
  }

  /** dd09's connected components over the verified LSH pair graph:
    * every clustered doc labeled with its component's min doc_id (the
    * canonical survivor). Shared by dd09 (the labeling) and dd16
    * (representative selection on top of it); the algorithm lives in
    * [[componentsOf]]. */
  private def clusterLabels(s: SparkSession, d: String): DataFrame =
    componentsOf(lshPairs(s, d).select(col("doc_a"), col("doc_b")))

  /** The connected-components labeling over ANY (doc_a, doc_b) pair
    * relation — extracted relation-parametric (verifyPairs' discipline)
    * so every near-dup pair source feeds the same cluster resolution:
    * dd09 over the text LSH pairs, mm11 over the perceptual-hash pairs
    * of media blobs. Output: (doc_id, canonical_id).
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR edge rewriting
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond" — public literature), the formulation whose round count is
    * O(log n) on REAL graphs. Min-label propagation — even with pointer
    * jumping — is O(diameter) in the worst case: jumps compress chains
    * toward each neighborhood's LOCAL minimum, but the global minimum
    * still crawls edge-by-edge between local-min basins (measured: 20
    * rounds on mm11's 223-node fixture component vs 6 for star
    * rewriting, simulation-verified before the port). Each round:
    *   large-star: every node connects its LARGER neighbors to the min
    *     of its closed neighborhood;
    *   small-star: every node (over min-oriented edges) connects its
    *     smaller neighbors and itself to their min.
    * Edge sets shrink toward per-component STARS centered at minima;
    * the fixpoint IS the labeling (non-roots point at their root).
    * Both steps are one groupBy + one key-join over the edge list —
    * the same shuffle shape as one propagation round. */
  private[operators] def componentsOf(pairs: DataFrame): DataFrame = {
    // localCheckpoint + STATS RESET: Spark's checkpoint preserves the
    // origin plan's statistics through the cut, so an iterative
    // join loop compounds its size-in-bytes ESTIMATE every round
    // (round r's estimate ~ round r-1's raised to the joins-per-round)
    // — by ~round 12 the planner is multiplying million-digit BigInts
    // and physical planning itself hangs (observed on mm11's pair
    // graph). Rebuilding the frame from the checkpointed RDD gives
    // each round the same constant default estimate. Row-conversion
    // cost is O(edges) per round — the relation is pair-graph-sized,
    // a corpus fraction, never the corpus.
    val ss = pairs.sparkSession
    // The loop runs in an ISOLATED SESSION: same SparkContext (same
    // executors, same block-manager cache) but a private SQLConf, so
    // the loop's planner settings cannot race queries running
    // concurrently on the caller's session (mutate-and-restore on the
    // shared conf flaked a parallel suite). Two loop-local settings:
    //   - AQE off: under AQE every exchange of every round materializes
    //     as its own scheduled job, and with edge-list-sized relations
    //     the loop's cost is pure per-job driver overhead — measured
    //     313 jobs / ~32 s on mm11's pair graph vs a few pipelined
    //     jobs per round without it; AQE has nothing to offer a
    //     fixed-size iterative kernel.
    //   - Shuffle width sized to the edge list: at fixture scale
    //     session-width exchanges are ~200 near-empty tasks per round —
    //     pure scheduling floor; a corpus-scale edge ledger keeps the
    //     session width (~50k edge rows per partition).
    val loop = ss.newSession()
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    // Every frame is rebuilt on the LOOP session from its checkpointed
    // RDD — which also resets statistics: Spark preserves the origin
    // plan's stats through localCheckpoint, so an iterative join loop
    // otherwise compounds its size-in-bytes estimate every round
    // (round r's estimate ~ round r-1's raised to the joins-per-round;
    // by ~round 12 physical planning hangs multiplying million-digit
    // BigInts — observed on mm11's pair graph). Row-conversion cost is
    // O(edges) per round — pair-graph-sized, a corpus fraction. A
    // superseded round's checkpoint blocks are dropped by the
    // ContextCleaner once its frame is unreachable.
    def fresh(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint()
      loop.createDataFrame(cp.rdd, cp.schema)
    }
    {
      // The input pair plan (often an upstream banded join) is read
      // twice (vertex set + edge set) — materialized for the two reads.
      val p = CatalystBridge.materialized(pairs)
      val verts = fresh(p.select(col("doc_a").as("id"))
        .union(p.select(col("doc_b").as("id"))).distinct())
      // Edges oriented large -> small, deduped, self-loops dropped.
      var e = fresh(p.filter(col("doc_a") =!= col("doc_b"))
        .select(greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v")).distinct())
      // One bounded count job sizes the loop's shuffle width.
      val nEdges = e.count()
      loop.conf.set("spark.sql.shuffle.partitions",
        math.max(4L, math.min(
          ss.conf.get("spark.sql.shuffle.partitions").toLong,
          nEdges / 50000 + 1)).toString)
      var converged = false
      var rounds = 0
      // Round cap scaled to the input: star rewriting converges in
      // O(log n) expected rounds but O(log² n) worst case, so a fixed
      // 20 could abort a legitimately-slow extreme-scale graph. 20
      // covers every fixture; the log² term covers the tail. Fail-loud
      // require below stays as the backstop against a silent non-star
      // exit (which would label docs with non-roots — wrong clusters).
      val log2e = 64 - java.lang.Long.numberOfLeadingZeros(nEdges + 1)
      val maxRounds = math.max(20, log2e * log2e)
      var prevEdgeCount = nEdges
      while (!converged && rounds < maxRounds) {
        // large-star: m(u) = min over N(u) + {u}; (v, m) for v > u.
        val bidir = e.unionByName(
          e.select(col("v").as("u"), col("u").as("v")))
        val lsMin = bidir.groupBy(col("u"))
          .agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        val ls = bidir.join(lsMin, Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        // small-star over the min-oriented output: m2(u) = min of its
        // smaller neighbors; rewire them (and u) to m2.
        val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
        val star = ls.join(ssMin, Seq("u"))
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(ssMin.select(col("u"), col("m").as("v")))
        val next = fresh(star.filter(col("u") =!= col("v")).distinct())
        // Fixpoint test, two-tier: both sets are DISTINCT, so unequal
        // COUNTS prove inequality without touching row contents — and
        // the count is near-free here (fresh() just materialized next
        // via localCheckpoint). Only on a count TIE does the exact
        // symmetric-difference aggregation run (empty iff every (u, v)
        // appears in both) — in practice that is the final round plus
        // rare plateau rounds, retiring ~one groupBy+filter per round
        // (the dd09 watch item: the convergence check was ~a third of
        // each round's cost).
        val nextEdgeCount = next.count()
        converged = nextEdgeCount == prevEdgeCount &&
          next.unionByName(e)
            .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
            .filter(col("c") === 1).isEmpty
        prevEdgeCount = nextEdgeCount
        e = next
        rounds += 1
      }
      // A silent non-converged exit would emit WRONG clusters (a
      // non-star edge set labels some doc with a non-root) — fail loud.
      require(converged,
        s"large-star/small-star did not converge in $maxRounds rounds")
      // Hand the result back bound to the CALLER'S session (consumers
      // compose it with their own frames): checkpoint once more, rebind.
      val out = verts.join(e, verts("id") === e("u"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("v"), col("id")).as("canonical_id"))
        .localCheckpoint()
      ss.createDataFrame(out.rdd, out.schema)
    }
  }

  /** dd16's keep-best body over any (doc_id, canonical_id) labeling and
    * any (doc_id, m) goodness metric — extracted relation-parametric so
    * every survivorship policy shares it: dd16 ranks text clusters by
    * n_chars, mm11 ranks blob clusters by decoded n_pixels (highest-
    * resolution member survives, the image-dedup convention). The
    * cluster relation is a corpus FRACTION → both joins shuffle on
    * doc_id (never broadcast); the rank window partitions by cluster —
    * bounded by cluster size, never corpus-wide. Output: one row per
    * cluster (canonical_id, n_members, total_m, kept_doc_id, kept_m). */
  private[operators] def keepBestOf(labels: DataFrame, metric: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("canonical_id"))
      .orderBy(col("m").desc, col("doc_id").asc)
    labels.hint("shuffle_hash").join(metric.hint("shuffle_hash"), "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
           sum(col("m")).as("total_m"),
           min(when(col("rn") === 1, col("doc_id"))).as("kept_doc_id"),
           min(when(col("rn") === 1, col("m"))).as("kept_m"))
  }

  /** dd09's resolved cluster relation, staged once per (app, fixture) —
    * the gram-index build/probe discipline applied to clusters: the
    * consumers (dd16 keep-best, pl01/pl03 curation) PROBE the staged
    * parquet; only dd09 itself re-runs the propagation loop, because
    * there the iterative algorithm IS the thing under test. At 100 TB
    * the cluster relation is exactly this kind of write-once nightly
    * artifact, read by every downstream survivorship pass. */
  private[operators] def stagedClusters(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "clusters")(clusterLabels(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- Exact dedup: group by normalized content, keep the smallest
    //    doc_id as canonical. Single shuffle; at 100 TB group instead by
    //    md5(text) so the shuffle key is 32 bytes, not the document.
    "dd01_exact_dedup" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(md5(lower(trim(col("text")))).as("content_key"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
    }),

    // -- MinHash signatures (k=8), long format.
    "dd02_minhash_sig" -> ((s, d) =>
      minhashSig(s, d, 8)),

    // -- MinHash-LSH near-dup pairs: 4 bands × 2 rows → band-key buckets
    //    → candidate pairs → exact shingle-Jaccard verify (≥ 0.5). The
    //    only joins are bucket-equality self-join + two id-equality set
    //    lookups; candidate count is governed by banding, never O(n²).
    "dd03_minhash_lsh_pairs" -> ((s, d) => lshPairs(s, d)),

    // -- Edit-distance verification of the LSH pairs — the character-
    //    level confirm stage fuzzy-dedup pipelines run AFTER candidate
    //    generation (shingle jaccard is token-level; levenshtein catches
    //    small in-token edits). Only ever computed on the CANDIDATE
    //    relation (25 pairs here, O(dups) at corpus scale), never
    //    all-pairs, and on a bounded 200-char prefix so the per-pair DP
    //    cost is capped — the discipline that keeps a quadratic-cost
    //    primitive usable at 100 TB. Exact integer DP in both engines.
    "dd15_editdist_verify" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), expr("substring(text, 1, 200)").as("pfx"))
      lshPairs(s, d).select(col("doc_a"), col("doc_b"))
        .join(docs.as("x"), col("doc_a") === col("x.doc_id"))
        .join(docs.as("y"), col("doc_b") === col("y.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("x.pfx"), col("y.pfx")).as("edit_dist"))
        .withColumn("confirmed", col("edit_dist") <= 60)
    }),

    // -- n-gram Jaccard with PREFIX-FILTER candidate generation (the
    //    AllPairs/PPJoin design): docs block on (lang, source, prefix
    //    shingle) instead of bare (lang, source) — a hot block (e.g.
    //    en/web, which at corpus scale IS the corpus) no longer goes
    //    quadratic; candidate pairs are bounded by per-shingle document
    //    frequency. Prefix filtering is EXACT for jaccard >= t: two sets
    //    with j >= t must share an element of their (|X| - ceil(t|X|) +
    //    1)-prefixes under any fixed global element order (here:
    //    ascending 60-bit hash), so recall is 100% and the result —
    //    and the oracle, which stays the plain within-block pairwise
    //    SQL — is unchanged.
    "dd04_ngram_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), expr(toks).as("tk"))
        .filter(expr("size(tk) >= 3"))
        // array_sort fixes the global prefix order; sorting changes
        // nothing downstream (intersect/size are order-free).
        .select(col("doc_id"), col("lang"), col("source"), expr(
          "array_sort(array_distinct(transform(" +
          "transform(sequence(0, size(tk) - 3), " +
          "i -> concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2), ' ', element_at(tk, i + 3))), " +
          "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint))))").as("sh"))
      ngramCandidates(docs)
        .join(docs.select(col("doc_id"), col("sh")).as("x"), col("doc_a") === col("x.doc_id"))
        .join(docs.select(col("doc_id"), col("sh")).as("y"), col("doc_b") === col("y.doc_id"))
        // Length filter: j >= 0.3 forces min(|A|,|B|)/max >= 0.3, so this
        // prunes pairs before the (expensive) intersect without changing
        // the result — the classic set-similarity-join optimization.
        .filter(size(col("x.sh")) * 10 >= size(col("y.sh")) * 3 &&
                size(col("y.sh")) * 10 >= size(col("x.sh")) * 3)
        .withColumn("inter", size(array_intersect(col("x.sh"), col("y.sh"))))
        .select(col("doc_a"), col("doc_b"),
          jaccardOf(col("inter"), col("x.sh"), col("y.sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.3)
    }),

    // -- SimHash fingerprints (60-bit, tf-weighted shingle features).
    "dd05_simhash" -> ((s, d) =>
      simhash(s, d)),

    // -- SimHash near-dup pairs at hamming ≤ 3 via exact 15-bit banding:
    //    a pair differing in ≤3 bits must agree on ≥1 of the 4 bands, so
    //    the 4-way band join has 100% recall (no probabilistic miss) and
    //    32768 buckets per band bound bucket occupancy at corpus scale.
    //    The fingerprints are materialized: otherwise the optimizer pushes
    //    the join's inferred isnotnull(simhash) below the loader's
    //    repartition, so the 60-bit fold runs in the one-task scan stage
    //    and then again on both sides of the band join.
    "dd06_simhash_pairs" -> ((s, d) => {
      val sh = CatalystBridge.materialized(simhash(s, d))
      val banded = sh.select(col("doc_id"), col("simhash"),
          explode(expr(s"sequence(0, ${SimhashBands - 1})")).as("band"))
        .withColumn("bv", expr(s"(simhash >> (band * $SimhashBandBits)) & $SimhashBandMask"))
      banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    }),

    // -- Near-dup CLUSTER resolution: the step after pair generation —
    //    connected components over the verified LSH pair graph, each doc
    //    labeled with its component's min doc_id (the canonical survivor
    //    a dedup pass keeps). Alternating large-star/small-star edge
    //    rewriting ([[componentsOf]] — O(log n) rounds; one groupBy +
    //    one key-join per step, checkpointed per round). The per-round
    //    driver scalar is a convergence CHECK, not data collection.
    //    Oracle: DuckDB recursive CTE computes exact reachability — a
    //    wholly different algorithm, same answer.
    "dd09_dedup_clusters" -> ((s, d) => clusterLabels(s, d)),

    // -- Representative selection — the terminal dedup stage dd09 feeds:
    //    per near-dup cluster, KEEP the best document (longest text,
    //    doc_id tiebreak) and report what was dropped. The cluster
    //    relation covers 30-60% of documents at real web-corpus dup
    //    rates — a corpus FRACTION, so the doc join must shuffle on
    //    doc_id (ta21/dd18's no-broadcast discipline), never broadcast;
    //    the rank window partitions by cluster — bounded by cluster
    //    size, never corpus-wide. Output:
    //    one row per cluster (canonical_id, kept doc, member/char
    //    totals) — the "keep list + audit" a 100 TB dedup pass emits.
    "dd16_keep_best" -> ((s, d) =>
      keepBestOf(stagedClusters(s, d),
          Tables.documents(s, d).select(col("doc_id"), col("n_chars").as("m")))
        .select(col("canonical_id"), col("n_members"),
          col("total_m").as("total_chars"), col("kept_doc_id"),
          col("kept_m").as("kept_chars"))),

    // -- k-hop neighborhoods over the near-dup graph: for every doc in
    //    the verified LSH pair graph, how many distinct docs lie within
    //    2 hops — the "duplication blast radius" a curation pass reports.
    //    Per-hop DISTINCT frontier expansion ([[khopFrontiers]]): each
    //    hop is one distributed join of the deduped (start, node)
    //    frontier with the checkpointed edge list. The earlier RECURSIVE
    //    CTE (UNION ALL UnionLoop) walked *paths*, not nodes — on a
    //    near-dup clique of size m (which dedup graphs contain by
    //    construction) the depth-2 walk materialized ~m³ rows before the
    //    terminal distinct; deduping per hop keeps every frontier
    //    O(starts · nodes), linear in edges per hop. Same answer — the
    //    DuckDB oracle still computes it with the recursive-CTE walk.
    "dd11_khop_neighborhood" -> ((s, d) => {
      val pairs = lshPairs(s, d).select(col("doc_a"), col("doc_b"))
      // Materialize once: every hop joins the edge list; without this
      // the full LSH pipeline would re-run per hop (and once more for
      // the reversed direction).
      val edges = pairs
        .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("src", "dst").localCheckpoint()
      khopFrontiers(edges, 2).reduce(_ unionByName _)
        .distinct()
        .groupBy(col("start"))
        .agg((count(lit(1)) - 1).as("n_within_2hops"))
        .select(col("start").as("doc_id"), col("n_within_2hops"))
    }),

    // -- Triangle counting over the near-dup graph (edge-iterator
    //    algorithm on the a<b-oriented edge list): two equi-joins build
    //    wedges and close them — the standard distributed formulation,
    //    where orientation bounds wedge generation by the smaller
    //    endpoint's degree. Per-doc triangle participation measures how
    //    CLIQUE-like a duplication cluster is (mesh of mutual near-dups
    //    vs a chain of pairwise borderline matches) — a curation signal
    //    dd09's components alone can't give. Exact integers throughout.
    "dd14_triangles" -> ((s, d) => {
      val e = lshPairs(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .localCheckpoint()
      e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b")))
          .as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // -- PageRank over the near-dup graph (3 unrolled damped
    //    iterations) — the canonical iterative graph computation, here
    //    ranking duplication hubs. Each iteration is ONE shuffle
    //    (contributions hash-aggregated by dst, map-side partial);
    //    the static edge+degree relation is checkpointed once
    //    (dd09/dd11 pattern) and every iteration joins it with the new
    //    ranks on the same key, so co-partitioning is reused. Ranks are
    //    EXACT integer micro-units with floor division: integer sums
    //    commute, so the result is independent of partitioning and
    //    aggregation order AND bit-identical to the oracle — float
    //    PageRank is neither (per-shuffle addition order). Update:
    //    r' = 0.15·SCALE + Σ_src floor(85·r_src / (100·outdeg_src)).
    "dd13_pagerank" -> ((s, d) => {
      val pairs = lshPairs(s, d).select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
        .toDF("src", "dst")
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val edgesD = edges.join(deg, "src").localCheckpoint()
      var ranks = deg.select(col("src"), lit(1000000L).as("rank"))
      for (_ <- 1 to 3) {
        ranks = edgesD.join(ranks, "src")
          .select(col("dst"), expr("(rank * 85) div (outdeg * 100)").as("c"))
          .groupBy(col("dst"))
          .agg((lit(150000L) + sum(col("c"))).as("rank"))
          .withColumnRenamed("dst", "src")
      }
      ranks.select(col("src").as("doc_id"), col("rank").as("rank_micro"))
    }),

    // -- Benchmark decontamination: flag training documents that share
    //    any 8-token gram with a held-out "benchmark" set (doc_id % 10
    //    == 0 stands in for the eval suite). The benchmark gram set is
    //    small by construction → broadcast inner join on 60-bit gram
    //    hashes; the training side streams through it with no shuffle —
    //    exactly how decontamination runs against a 100 TB corpus.
    "dd08_contamination" -> ((s, d) => {
      // Write-once gram index: both branches below scan the staged
      // parquet instead of re-deriving the tokenize→shingle→hash
      // pipeline twice ([[stagedGrams]]).
      val grams = stagedGrams(s, d, 8)
      val bench = benchGramSet(s, d)
      grams.filter(col("doc_id") % 10 =!= 0)
        .join(broadcast(bench), "gh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gh")).as("n_shared_grams"))
    }),

    // -- Bloom-filter decontamination: the scale path of dd08. The
    //    benchmark gram set is sketched into a Bloom filter (built
    //    distributed by stat.bloomFilter's treeAggregate) and broadcast;
    //    the training gram stream probes it executor-locally — no join
    //    at all. This is the shape once the benchmark set outgrows a
    //    broadcast hash relation: ~9.6 bits/item at 1% fpp means 1B
    //    benchmark grams ≈ 1.2 GB vs ≳30 GB as a hash set. A Bloom
    //    filter has NO false negatives, so every exact-contaminated doc
    //    is flagged; the query proves that per doc (q19's verified-
    //    sketch pattern): the exact join below exists only to audit the
    //    sketch, the production pipeline runs the probe alone. The probe
    //    UDF is the documented F2 escape hatch (SURVEY §2.4) — Spark
    //    exposes no public SQL bloom-probe, only the programmatic
    //    BloomFilter, and the cross-checked exact column keeps it honest.
    "dd12_bloom_contamination" -> ((s, d) => {
      val grams = stagedGrams(s, d, 8)
      val bench = benchGramSet(s, d)
      // Capacity sized far above any fixture's bench-gram count; in
      // production this comes from corpus stats (a prior count or the
      // table's row-count metadata). Oversizing only wastes bits.
      // Built + broadcast ONCE per (context, fixture) — the filter is
      // deterministic, and rebuilding per invocation would rerun the
      // gram treeAggregate and leak a broadcast on every bench rep.
      // The whole evict+build is under one lock: TrieMap.getOrElseUpdate
      // alone is not atomic, so two concurrent callers could each build
      // and broadcast a filter, leaking the loser. Live-context entries
      // are bounded by the fixture count (3), so no eviction policy
      // beyond dropping dead-context keys is needed.
      val appPrefix = s.sparkContext.applicationId + "|"
      val bfB = bloomCache.synchronized {
        bloomCache.keySet.filterNot(_.startsWith(appPrefix))
          .foreach(bloomCache.remove)
        bloomCache.getOrElseUpdate(appPrefix + d,
          s.sparkContext.broadcast(bench.stat.bloomFilter("gh", 1L << 22, 0.01)))
      }
      val probe = udf((h: Long) => bfB.value.mightContainLong(h))
      grams.filter(col("doc_id") % 10 =!= 0)
        .join(broadcast(bench.withColumn("exact_hit", lit(1))), Seq("gh"), "left")
        .select(col("doc_id"), col("gh"),
          coalesce(col("exact_hit"), lit(0)).as("exact_hit"),
          probe(col("gh")).cast("int").as("bloom_hit"))
        .groupBy(col("doc_id"))
        .agg(
          countDistinct(when(col("exact_hit") === 1, col("gh"))).as("n_shared_grams"),
          max(col("exact_hit")).as("exact_any"),
          sum(when(col("exact_hit") === 1 && col("bloom_hit") === 0, 1L)
            .otherwise(0L)).as("n_fn"))
        .select(col("doc_id"), col("n_shared_grams"),
          (col("exact_any") === 1).as("exact_contaminated"),
          (col("n_fn") > 0).as("bloom_missed"))
    }),

    // -- Chunk-level exact dedup: each document split into fixed 16-token
    //    chunks; a chunk is a duplicate if the same 16 tokens appeared
    //    earlier in the corpus (first occurrence by (doc_id, chunk_idx)
    //    is canonical). This is the sub-document dedup pass training
    //    pipelines run between whole-doc dedup (dd01) and fuzzy dedup
    //    (dd03) — it catches copied passages inside otherwise-unique
    //    docs. Scale shape: chunks hash to md5 BEFORE the shuffle (the
    //    exchange carries 32-byte keys, not text), one window per hash
    //    (≈ groupBy shuffle), then a per-doc rollup.
    "dd10_chunk_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val chunks = Tables.documents(s, d)
        .select(col("doc_id"), expr(toks).as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(expr("sequence(0, (size(tk) - 1) div 16)")).as("c"))
        .select(col("doc_id"), col("c"),
          md5(expr("concat_ws(' ', slice(tk, c * 16 + 1, 16))")).as("ch"))
      val w = Window.partitionBy(col("ch"))
        .orderBy(col("doc_id").asc, col("c").asc)
      chunks.withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
             sum((col("rn") > 1).cast("long")).as("n_dup_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6)
            .as("dup_chunk_ratio"))
    }),

    // -- Embedding-cosine near-dup: IVF-style coarse blocking on `label`
    //    (the fixture's cluster id) keeps the pair join within cells.
    //    Cosine = dot/sqrt(na*nb) with sequential folds; rounded before
    //    the threshold so both engines make the same keep/drop decision.
    "dd07_embedding_neardup" -> ((s, d) => {
      // Norms are per-vector, not per-pair: compute once before the join.
      // Scoring uses the native codegen'd vecDot (bit-identical to the
      // HOF float->double fold — VectorDotSpec).
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").as("e"))
        .withColumn("nrm", graft.functions.VectorFunctions.vecDot(col("e"), col("e")))
      // Both sides of the block self-join are the CORPUS — shuffle on
      // the block key (label = IVF cell id) so pairs form cell-locally
      // after one exchange per side; broadcasting either side would ship
      // the whole vector table to every executor at 100 TB.
      v.as("a").hint("shuffle_hash")
        .join(v.as("b").hint("shuffle_hash"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(graft.functions.VectorFunctions.vecDot(col("a.e"), col("b.e"))
            / sqrt(col("a.nrm") * col("b.nrm")), 6).as("cos"))
        .filter(col("cos") >= 0.4)
    }),

    // -- Embedding-space decontamination — the SEMANTIC tier of the
    //    decontamination trio (dd08 exact 8-grams, dd12 Bloom sketch,
    //    dd17 embeddings): a held-out eval/benchmark split of the vector
    //    table; a corpus vector is contaminated if it is near-identical
    //    (cos >= 0.4 on the 6-dp-rounded score) to ANY eval vector.
    //    Paraphrased contamination that shares no 8-gram still lands
    //    here. Scale shape: the eval side is benchmark-sized (10% of
    //    the fixture; a few thousand rows in production), so it is
    //    BROADCAST and the probe is a map-side cell-local join on
    //    `label` (the IVF cell id) — the corpus never shuffles; the
    //    only exchange carries the flagged ids into the final rollup.
    "dd17_embedding_decontamination" -> ((s, d) => {
      val bucket = expr(
        "cast(conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint) % 100")
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").as("e"))
        .withColumn("nrm", graft.functions.VectorFunctions.vecDot(col("e"), col("e")))
        .withColumn("b", bucket)
      val evalSide = v.filter(col("b") >= 90)
        .select(col("label"), col("e").as("ee"), col("nrm").as("enrm"))
      v.filter(col("b") < 90)
        .join(broadcast(evalSide), Seq("label"))
        .select(col("vec_id"),
          round(graft.functions.VectorFunctions.vecDot(col("e"), col("ee"))
            / sqrt(col("nrm") * col("enrm")), 6).as("cos"))
        .filter(col("cos") >= 0.4)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_eval_matches"), max(col("cos")).as("max_cos"))
    }),

    // -- Exact-substring span dedup (the ExactSubstr tier of Lee et al.
    //    2022, "Deduplicating Training Data Makes Language Models
    //    Better"): any token 8-gram occurring MORE THAN ONCE anywhere in
    //    the corpus (another doc, or a repeat inside the same doc) marks
    //    a duplicated region; per document, overlapping/adjacent
    //    duplicated gram starts merge into MAXIMAL SPANS — the unit a
    //    curation run actually cuts out (doc-level dedup like dd01/dd03
    //    keeps boilerplate-stitched docs whole; this finds the stitched
    //    regions). The reference's analog would be a stateful MiddleFunc
    //    with a seen-gram map (/root/reference/pipe/node.go:19) — single
    //    process only; the distributed shape:
    //      1. positioned gram stream (doc_id, start, gh) — per-row
    //         projection, gh is an 8-byte md5-prefix int;
    //      2. occurrence counts: one gh-keyed shuffle with map-side
    //         partial aggregation;
    //      3. duplicated-gram set is CORPUS-FRACTION-sized → shuffle
    //         hash join on gh (ta21's discipline — broadcasting it at
    //         100 TB is a driver OOM), shipping only (doc_id, start);
    //      4. span merge: gaps-and-islands per doc — one doc_id-keyed
    //         exchange; the per-doc sort is bounded by doc length.
    //    New span when the gap between consecutive duplicated starts
    //    exceeds the gram width n (== the covered token ranges are
    //    disjoint and non-adjacent). Output per doc: span count and
    //    duplicated-token total (span [s, maxStart + n - 1] covers
    //    maxStart - s + n tokens).
    "dd18_substring_spans" -> ((s, d) => {
      val n = 8
      // Staged POSITIONED gram index: the occurrence-count branch and
      // the hit branch both scan the artifact (write-once discipline of
      // stagedGrams); tokenize+md5 are paid at build, not per probe.
      val g = stagedGramsPos(s, d, n)
      val dup = g.groupBy(col("gh"))
        .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select(col("gh"))
      val hits = g.hint("shuffle_hash")
        .join(dup.hint("shuffle_hash"), "gh").select(col("doc_id"), col("i"))
      substringSpans(hits, n).groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + lit(1)).as("n_dup_tokens"))
    }),

    // -- CONTENT-DEFINED chunking dedup (the rsync/LBFS trick): chunk
    //    boundaries fall where the rolling 8-token window hash ≡ 0
    //    (mod 64), so boundaries depend only on LOCAL content — an
    //    insertion early in a document shifts every fixed-grid chunk
    //    (dd10's blind spot) but CDC boundaries RE-SYNCHRONIZE right
    //    after the edit, and the unchanged tail still dedups. Avg chunk
    //    ≈ 64 tokens by construction. Shape: boundary positions filter
    //    the staged positioned gram index (the "rolling hash" is the
    //    same md5-window hash dd18 staged — shared artifact, zero new
    //    scan); per-doc lead() window forms chunk spans (one doc-keyed
    //    exchange); chunk content hashes join the corpus-wide ≥2-
    //    occurrence set via shuffle-hash on the 32-byte md5 (ta21's
    //    no-broadcast discipline). Output per doc: chunk count +
    //    cross-corpus duplicated-chunk count.
    "dd19_cdc_chunks" -> ((s, d) => {
      val n = 8
      val chunks = cdcChunksOf(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        stagedGramsPos(s, d, n), n)
      val dup = chunks.groupBy(col("ch"))
        .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select(col("ch"))
      chunks.hint("shuffle_hash")
        .join(dup.hint("shuffle_hash").withColumn("is_dup", lit(1)),
          Seq("ch"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce(col("is_dup"), lit(0)).cast("long")).as("n_dup_chunks"))
    }),

    // -- CORPUS-PAIR OVERLAP SKETCH — the corpus-LEVEL complement of the
    //    doc-level near-dup family: estimate the shingle-set Jaccard
    //    between every pair of SOURCES from K=64 corpus MinHash sketches
    //    (per (source, k): the min permuted hash over every shingle the
    //    source emits; estimate = matching-coordinate fraction). This is
    //    the "how much does feed A duplicate feed B" decision input for
    //    acquisition/licensing — and at 100 TB it is the ONLY affordable
    //    form: one aggregation pass (map-side combined, min is
    //    associative) reduces each corpus to 64 integers, and the pair
    //    phase compares sketches, never sets — corpus-pair cost is
    //    O(sources²·K), independent of corpus size. All arithmetic is
    //    exact integers; the estimator (not just its inputs) is engine-
    //    reproducible, so the oracle checks the SAME sketch — the
    //    accuracy-vs-exact-Jaccard claim is the spec's job (4σ ≈ 0.25
    //    at K=64). Min over the shingle MULTISET equals min over the
    //    set, so no per-doc distinct is needed.
    "dd20_corpus_overlap" -> ((s, d) => {
      // Per-DOC partial minima first, all 64 computed in ONE primitive
      // pass over the hashed-gram array by the native codegen'd
      // MinHashPerms expression (graft.functions — the §7.3(b) rung;
      // the HOF chain walked the array once per permutation through
      // interpreted lambdas). The gram-hash array is the expression's
      // single child, so md5 runs once per gram; posexplode is the
      // array's single consumer, so nothing re-evaluates — the
      // aggregation reduces |docs|×64 partial-min rows, never
      // |grams|×64 (HOF explode form measured 3.3 s at sf0.01).
      val hsCol = expr(
        "transform(transform(sequence(0, size(tk) - 3), " +
        "i -> concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2), ' ', element_at(tk, i + 3))), " +
        "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint))")
      val longf = Tables.documents(s, d)
        .select(col("source"), expr(toks).as("tk"))
        .filter(expr("size(tk) >= 3"))
        .select(col("source"), posexplode(
          graft.functions.MinHashPerms.minhashPerms(hsCol, A20, B20, P))
          .as(Seq("k", "m")))
        .groupBy(col("source"), col("k"))
        .agg(min(col("m")).as("m"))
      longf.as("a")
        .join(longf.as("b"),
          col("a.k") === col("b.k") && col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          (col("a.m") === col("b.m")).cast("long").as("eq"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(col("eq")).as("k_match"))
        .select(col("src_a"), col("src_b"), col("k_match"),
          expr(s"k_match * 1000000 div $K20").as("jaccard_est_ppm"))
    }),

    // -- LSH BAND-CONFIGURATION TUNING SWEEP — ss14's discipline
    //    applied to the MinHash tier: candidate count and recall for
    //    every (bands × rows) split of the k=8 signature — (8×1),
    //    (4×2), (2×4) — in ONE plan over ONE signature table (the
    //    sweep re-bands stored signatures; it never recomputes or
    //    stores more of them — multi-probe's economy applied to
    //    tuning). Truth = the (8×1) candidates verified at exact
    //    jaccard ≥ 0.5 — the most permissive split, P(candidate |
    //    j=0.5) = 1−(1−0.5)^8 ≈ 0.996, so truth ⊆ cand(8×1) BY
    //    CONSTRUCTION and its recall row reads exactly 1000000 ppm
    //    (spec-pinned), while the spec pins candidate count and recall
    //    monotone in band count. This table is the banding decision a
    //    deployment makes ONCE — precision (candidate volume) against
    //    recall — measured, not assumed from the S-curve formula.
    "dd21_lsh_band_sweep" -> ((s, d) => {
      val sig = minhashWide(s, d, 8)
      val sets = shingleSets(s, d)
      def candsOf(b: Int): DataFrame = {
        val r = 8 / b
        val keys = (0 until b).map(i =>
          s"$i, md5(concat('c$b|', $i" +
            (i * r until (i + 1) * r).map(j => s", '|', mh$j").mkString + "))")
          .mkString(", ")
        val bk = sig.select(col("doc_id"),
          expr(s"stack($b, $keys)").as(Seq("band", "bk")))
          .select(col("doc_id"), col("bk"))
        bk.as("a")
          .join(bk.as("b"),
            col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
      }
      // The (8×1) candidates feed BOTH the truth branch and the sweep
      // union — materialize once (dup-pair relations are tiny relative
      // to the signature self-joins that build them).
      val cand8 = candsOf(8).localCheckpoint()
      val truth = verifyPairs(cand8, sets, 0.5)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
      val truthN = truth.agg(count(lit(1)).as("n_truth"))
      (cand8.withColumn("bands", lit(8)) +:
        Seq(4, 2).map(b => candsOf(b).withColumn("bands", lit(b))))
        .reduce(_.unionByName(_))
        .join(truth, Seq("doc_a", "doc_b"), "left")
        .groupBy(col("bands"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("t"), lit(0L))).as("n_found"))
        .crossJoin(broadcast(truthN)) // 1-row total — bounded class
        .select(col("bands"),
          expr("cast(8 div bands as int)").as("rows_per_band"),
          col("n_candidates"), col("n_found"), col("n_truth"),
          // Zero-truth guard (ta34's fertility_ppm pattern): a fixture
          // with no verified duplicate pairs must yield 0, not an
          // engine-dependent div-by-zero NULL.
          when(col("n_truth") > 0, expr("n_found * 1000000 div n_truth"))
            .otherwise(lit(0L)).as("recall_ppm"))
    })
  )

  /** dd20's K=64 corpus-sketch permutations: the fixed-prime table above
    * only goes to k=8, so these are md5-derived on the DRIVER and inlined
    * as literals into both engines' expressions (a ∈ [1, P−1], b ∈
    * [0, P−1]; products stay < 2^62 — no overflow in either engine). */
  private val K20 = 64
  private def md5Long(str: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(str.getBytes("UTF-8")).take(8)
        .map("%02x".format(_)).mkString.take(15), 16)
  private val A20 = Seq.tabulate(K20)(k => md5Long(s"a:$k") % (P - 1) + 1)
  private val B20 = Seq.tabulate(K20)(k => md5Long(s"b:$k") % P)

  private val dtoks = "list_filter(string_split(text, ' '), x -> x <> '')"
  private val dshStr =
    s"list_transform(range(len($dtoks) - 2), " +
    s"i -> $dtoks[i+1] || ' ' || $dtoks[i+2] || ' ' || $dtoks[i+3])"
  /** Multiset shingle stream (one row per occurrence) — sig/simhash.
    * Parameterized by the source relation so the estate-purge residue
    * oracle (pl15) can rebuild the same artifacts over a SURVIVOR CTE;
    * the vals below pin the default-corpus forms every other oracle
    * uses. */
  private[operators] def dStreamFor(src: String): String =
    s"SELECT doc_id, unnest($dshStr) AS g FROM $src WHERE len($dtoks) >= 3"
  private val dStream = dStreamFor("documents")
  /** Distinct 60-bit-hashed shingle sets — Jaccard verification. */
  private[operators] def dSetsFor(src: String): String =
    s"""SELECT doc_id, list_distinct(list_transform($dshStr,
          g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT))) AS sh
        FROM $src WHERE len($dtoks) >= 3"""
  private val dSets = dSetsFor("documents")
  private val dA = A.mkString("[", ", ", "]")
  private val dB = B.mkString("[", ", ", "]")
  private[operators] def dSigFor(src: String): String =
    s"""WITH e AS (${dStreamFor(src)}),
        h AS (SELECT doc_id,
                CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % $P AS h31
              FROM e)
        SELECT doc_id, CAST(t.hid AS INT) AS hid,
               min((h31 * ($dA)[CAST(t.hid AS INT) + 1]
                    + ($dB)[CAST(t.hid AS INT) + 1]) % $P) AS minhash
        FROM h, range(8) t(hid) GROUP BY 1, 2"""
  /** Per-doc LSH band keys (doc_id, bk) — the Spark [[bandKeysOf]]
    * twin, shared by [[dPairsFor]] and the pl15 band-ledger rebuild. */
  private[operators] def dBandsFor(src: String): String =
    s"""WITH sig AS (${dSigFor(src)}),
        band AS (SELECT doc_id, hid // 2 AS band,
                   min(CASE WHEN hid % 2 = 0 THEN minhash END) AS m0,
                   min(CASE WHEN hid % 2 = 1 THEN minhash END) AS m1
                 FROM sig GROUP BY 1, 2)
        SELECT doc_id, md5(concat(band, '|', m0, '|', m1)) AS bk FROM band"""
  /** Positioned 8-gram hash stream (doc_id, i, gh) — dd18's g CTE,
    * source-parameterized for the pl15 gram-index rebuild. */
  private[operators] def dGramsPosFor(src: String): String = {
    val g8 = (1 to 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
    s"""SELECT doc_id, i,
          CAST(concat('0x', substr(md5($g8), 1, 15)) AS BIGINT) AS gh
        FROM (
          SELECT doc_id, tk, unnest(range(len(tk) - 7)) AS i
          FROM (SELECT doc_id, $dtoks AS tk FROM $src
                WHERE len($dtoks) >= 8))"""
  }
  /** dd03's verified-pair oracle over any source — dd09's edge source
    * and the pl15 cluster-label rebuild. */
  private[operators] def dPairsFor(src: String): String =
    s"""WITH sig AS (${dSigFor(src)}),
        band AS (SELECT doc_id, hid // 2 AS band,
                   min(CASE WHEN hid % 2 = 0 THEN minhash END) AS m0,
                   min(CASE WHEN hid % 2 = 1 THEN minhash END) AS m1
                 FROM sig GROUP BY 1, 2),
        bk AS (SELECT doc_id, md5(concat(band, '|', m0, '|', m1)) AS k FROM band),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bk a JOIN bk b ON a.k = b.k AND a.doc_id < b.doc_id),
        sets AS (${dSetsFor(src)})
        SELECT doc_a, doc_b, jaccard FROM (
          SELECT doc_a, doc_b,
            round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
              / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
          FROM cand JOIN sets x ON doc_a = x.doc_id
                    JOIN sets y ON doc_b = y.doc_id)
        WHERE jaccard >= 0.5"""
  private val dSig =
    s"""WITH e AS ($dStream),
        h AS (SELECT doc_id,
                CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % $P AS h31
              FROM e)
        SELECT doc_id, CAST(t.hid AS INT) AS hid,
               min((h31 * ($dA)[CAST(t.hid AS INT) + 1]
                    + ($dB)[CAST(t.hid AS INT) + 1]) % $P) AS minhash
        FROM h, range(8) t(hid) GROUP BY 1, 2"""
  private val dSimhash =
    s"""WITH e AS ($dStream),
        h AS (SELECT doc_id,
                CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS hv FROM e),
        bits AS (SELECT doc_id, j, sum((hv >> CAST(j AS INT)) & 1) AS sc, count(*) AS n
                 FROM h, range($SimhashBits) t(j) GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(CASE WHEN 2 * sc > n
                   THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY 1"""

  /** dd03's oracle (also embedded as dd09's edge source). */
  private val dPairs =
    s"""WITH sig AS ($dSig),
        band AS (SELECT doc_id, hid // 2 AS band,
                   min(CASE WHEN hid % 2 = 0 THEN minhash END) AS m0,
                   min(CASE WHEN hid % 2 = 1 THEN minhash END) AS m1
                 FROM sig GROUP BY 1, 2),
        bk AS (SELECT doc_id, md5(concat(band, '|', m0, '|', m1)) AS k FROM band),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bk a JOIN bk b ON a.k = b.k AND a.doc_id < b.doc_id),
        sets AS ($dSets)
        SELECT doc_a, doc_b, jaccard FROM (
          SELECT doc_a, doc_b,
            round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
              / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
          FROM cand JOIN sets x ON doc_a = x.doc_id
                    JOIN sets y ON doc_b = y.doc_id)
        WHERE jaccard >= 0.5"""

  def oracleSql: Map[String, String] = Map(
    "dd01_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY md5(lower(trim(text)))""",
    "dd02_minhash_sig" -> dSig,
    "dd03_minhash_lsh_pairs" -> dPairs,
    // Confirm stage over the same candidate relation; DuckDB's
    // levenshtein is the same classic DP, so distances match exactly.
    "dd15_editdist_verify" ->
      s"""WITH p AS ($dPairs),
          dd15_docs AS (SELECT doc_id, substr(text, 1, 200) AS pfx FROM documents)
          SELECT p.doc_a, p.doc_b,
            CAST(levenshtein(x.pfx, y.pfx) AS INT) AS edit_dist,
            levenshtein(x.pfx, y.pfx) <= 60 AS confirmed
          FROM p JOIN dd15_docs x ON p.doc_a = x.doc_id
                 JOIN dd15_docs y ON p.doc_b = y.doc_id""",
    // Exact reachability via recursive CTE — a wholly different CC
    // algorithm than the Spark side's star rewriting, same answer.
    // CTE names must not collide with dPairs' INNER names (e/h/sig/...):
    // under WITH RECURSIVE, DuckDB binds an inner reference to the outer
    // CTE of the same name.
    "dd09_dedup_clusters" ->
      s"""WITH RECURSIVE ddpairs AS ($dPairs),
          ddedges AS (SELECT doc_a AS src, doc_b AS dst FROM ddpairs
                      UNION ALL
                      SELECT doc_b, doc_a FROM ddpairs),
          ddverts AS (SELECT DISTINCT src AS id FROM ddedges),
          ddreach(id, r) AS (
            SELECT id, id FROM ddverts
            UNION
            SELECT ddedges.src, ddreach.r
            FROM ddedges JOIN ddreach ON ddreach.id = ddedges.dst)
          SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
          FROM ddreach GROUP BY id""",
    // Same component labeling as dd09 (recursive reachability), then
    // keep-best per cluster: rank by (n_chars DESC, doc_id ASC).
    "dd16_keep_best" ->
      s"""WITH RECURSIVE ddpairs AS ($dPairs),
          ddedges AS (SELECT doc_a AS src, doc_b AS dst FROM ddpairs
                      UNION ALL
                      SELECT doc_b, doc_a FROM ddpairs),
          ddverts AS (SELECT DISTINCT src AS id FROM ddedges),
          ddreach(id, r) AS (
            SELECT id, id FROM ddverts
            UNION
            SELECT ddedges.src, ddreach.r
            FROM ddedges JOIN ddreach ON ddreach.id = ddedges.dst),
          lbl AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
                  FROM ddreach GROUP BY id),
          ranked AS (
            SELECT l.canonical_id, l.doc_id, dcs.n_chars,
              row_number() OVER (PARTITION BY l.canonical_id
                ORDER BY dcs.n_chars DESC, l.doc_id ASC) AS rn
            FROM lbl l JOIN documents dcs ON l.doc_id = dcs.doc_id)
          SELECT canonical_id, count(*) AS n_members,
            CAST(sum(n_chars) AS BIGINT) AS total_chars,
            min(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc_id,
            min(CASE WHEN rn = 1 THEN n_chars END) AS kept_chars
          FROM ranked GROUP BY canonical_id""",
    "dd11_khop_neighborhood" ->
      s"""WITH RECURSIVE ddkpairs AS ($dPairs),
          ddke AS (SELECT doc_a AS src, doc_b AS dst FROM ddkpairs
                   UNION ALL
                   SELECT doc_b, doc_a FROM ddkpairs),
          ddkwalk(start, node, depth) AS (
            SELECT src, src, 0 FROM (SELECT DISTINCT src FROM ddke)
            UNION ALL
            SELECT w.start, ddke.dst, w.depth + 1
            FROM ddkwalk w JOIN ddke ON ddke.src = w.node
            WHERE w.depth < 2)
          SELECT start AS doc_id,
                 CAST(count(DISTINCT node) - 1 AS BIGINT) AS n_within_2hops
          FROM ddkwalk GROUP BY start""",
    // Same integer fixed-point arithmetic; HUGEINT intermediates are
    // exact, only the output is cast. `//` (floor) == Spark `div`
    // (truncate) because every operand is positive.
    "dd14_triangles" ->
      s"""WITH trp AS ($dPairs),
          tri AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
                  FROM trp e1
                  JOIN trp e2 ON e1.doc_b = e2.doc_a
                  JOIN trp e3 ON e3.doc_a = e1.doc_a
                             AND e3.doc_b = e2.doc_b)
          SELECT doc_id, count(*) AS n_triangles
          FROM (SELECT unnest([x, y, z]) AS doc_id FROM tri)
          GROUP BY doc_id""",
    "dd13_pagerank" ->
      s"""WITH prp AS ($dPairs),
          pre AS (SELECT doc_a AS src, doc_b AS dst FROM prp
                  UNION ALL SELECT doc_b, doc_a FROM prp),
          prd AS (SELECT src, count(*) AS outdeg FROM pre GROUP BY src),
          r0 AS (SELECT src, CAST(1000000 AS BIGINT) AS rank FROM prd),
          r1 AS (SELECT pre.dst AS src,
                   150000 + sum((r.rank * 85) // (d.outdeg * 100)) AS rank
                 FROM pre JOIN r0 r ON pre.src = r.src
                          JOIN prd d ON pre.src = d.src
                 GROUP BY pre.dst),
          r2 AS (SELECT pre.dst AS src,
                   150000 + sum((r.rank * 85) // (d.outdeg * 100)) AS rank
                 FROM pre JOIN r1 r ON pre.src = r.src
                          JOIN prd d ON pre.src = d.src
                 GROUP BY pre.dst),
          r3 AS (SELECT pre.dst AS src,
                   150000 + sum((r.rank * 85) // (d.outdeg * 100)) AS rank
                 FROM pre JOIN r2 r ON pre.src = r.src
                          JOIN prd d ON pre.src = d.src
                 GROUP BY pre.dst)
          SELECT src AS doc_id, CAST(rank AS BIGINT) AS rank_micro FROM r3""",
    "dd04_ngram_jaccard" ->
      s"""WITH docs AS (SELECT doc_id, lang, source,
                          list_distinct(list_transform($dshStr,
                            g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT))) AS sh
                        FROM documents WHERE len($dtoks) >= 3)
          SELECT doc_a, doc_b, jaccard FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
            FROM docs a JOIN docs b
              ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
          WHERE jaccard >= 0.3""",
    "dd05_simhash" -> dSimhash,
    "dd06_simhash_pairs" ->
      s"""WITH sh AS ($dSimhash),
          banded AS (SELECT doc_id, simhash, CAST(t.band AS INT) AS band,
                       (simhash >> (CAST(t.band AS INT) * $SimhashBandBits)) & $SimhashBandMask AS bv
                     FROM sh, range($SimhashBands) t(band))
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    "dd08_contamination" -> {
      val g8 = (1 to 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
      s"""WITH g AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(g8), 1, 15)) AS BIGINT) AS gh
            FROM (
              SELECT doc_id, unnest(list_transform(range(len(tk) - 7),
                i -> $g8)) AS g8
              FROM (SELECT doc_id, $dtoks AS tk FROM documents
                    WHERE len($dtoks) >= 8))),
          bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0)
          SELECT doc_id, count(DISTINCT gh) AS n_shared_grams
          FROM g JOIN bench USING (gh)
          WHERE doc_id % 10 <> 0
          GROUP BY doc_id"""
    },
    // The exact columns re-derive dd08 over ALL training docs (clean
    // ones included); `bloom_missed` must be FALSE everywhere because a
    // Bloom filter cannot produce false negatives — the oracle asserts
    // the sketch's contract, not its (unpredictable) false positives.
    "dd12_bloom_contamination" -> {
      val g8 = (1 to 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
      s"""WITH g AS (
            SELECT doc_id,
              CAST(concat('0x', substr(md5(g8), 1, 15)) AS BIGINT) AS gh
            FROM (
              SELECT doc_id, unnest(list_transform(range(len(tk) - 7),
                i -> $g8)) AS g8
              FROM (SELECT doc_id, $dtoks AS tk FROM documents
                    WHERE len($dtoks) >= 8))),
          bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0)
          SELECT g.doc_id,
            count(DISTINCT b.gh) AS n_shared_grams,
            max(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) = 1
              AS exact_contaminated,
            FALSE AS bloom_missed
          FROM g LEFT JOIN bench b ON g.gh = b.gh
          WHERE g.doc_id % 10 <> 0
          GROUP BY g.doc_id"""
    },
    "dd10_chunk_dedup" ->
      s"""WITH chunks AS (
            SELECT doc_id, c,
              md5(array_to_string(tk[c * 16 + 1 : c * 16 + 16], ' ')) AS ch
            FROM (SELECT doc_id, tk,
                    unnest(range((len(tk) - 1) // 16 + 1)) AS c
                  FROM (SELECT doc_id, $dtoks AS tk FROM documents))),
          ranked AS (
            SELECT doc_id, ch,
              row_number() OVER (PARTITION BY ch
                ORDER BY doc_id ASC, c ASC) AS rn
            FROM chunks)
          SELECT doc_id, count(*) AS n_chunks,
            CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
            round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*), 6) AS dup_chunk_ratio
          FROM ranked GROUP BY doc_id""",
    "dd07_embedding_neardup" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         SELECT vec_a, vec_b, cos FROM (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(a.e, b.e)
               / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cos
           FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
         WHERE cos >= 0.4""",
    "dd17_embedding_decontamination" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
              CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 100 AS b
            FROM embeddings),
          ev AS (SELECT label, e FROM v WHERE b >= 90)
          SELECT vec_id, count(*) AS n_eval_matches, max(cos) AS max_cos
          FROM (
            SELECT c.vec_id,
              round(list_dot_product(c.e, ev.e)
                / sqrt(list_dot_product(c.e, c.e) * list_dot_product(ev.e, ev.e)),
                6) AS cos
            FROM v c JOIN ev ON c.label = ev.label
            WHERE c.b < 90)
          WHERE cos >= 0.4
          GROUP BY vec_id""",
    "dd18_substring_spans" -> {
      val g8 = (1 to 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
      s"""WITH g AS (
            SELECT doc_id, i,
              CAST(concat('0x', substr(md5($g8), 1, 15)) AS BIGINT) AS gh
            FROM (
              SELECT doc_id, tk, unnest(range(len(tk) - 7)) AS i
              FROM (SELECT doc_id, $dtoks AS tk FROM documents
                    WHERE len($dtoks) >= 8))),
          dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
          hits AS (SELECT doc_id, i FROM g JOIN dup USING (gh)),
          brk AS (
            SELECT doc_id, i,
              CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 8
                   THEN 0 ELSE 1 END AS brk
            FROM hits),
          isl AS (
            SELECT doc_id, i,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
            FROM brk),
          spans AS (
            SELECT doc_id, island, min(i) AS s, max(i) + 7 AS e
            FROM isl GROUP BY doc_id, island)
          SELECT doc_id, count(*) AS n_spans,
                 CAST(sum(e - s + 1) AS BIGINT) AS n_dup_tokens
          FROM spans GROUP BY doc_id"""
    },
    "dd19_cdc_chunks" -> {
      val g8 = (1 to 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
      s"""WITH tkd AS (
            SELECT doc_id, $dtoks AS tk FROM documents
            WHERE len($dtoks) >= 8),
          g AS (
            SELECT doc_id, i,
              CAST(concat('0x', substr(md5($g8), 1, 15)) AS BIGINT) AS gh
            FROM (SELECT doc_id, tk, unnest(range(len(tk) - 7)) AS i
                  FROM tkd)),
          starts AS (
            SELECT DISTINCT doc_id, i FROM (
              SELECT doc_id, i FROM g WHERE gh % 64 = 0
              UNION ALL SELECT doc_id, 0 FROM tkd)),
          spans AS (
            SELECT doc_id, i AS cs,
              lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
            FROM starts),
          chunks AS (
            SELECT s.doc_id, cs,
              md5(array_to_string(
                t.tk[cs + 1 : CAST(coalesce(nxt, len(t.tk)) AS INT)], ' '))
                AS ch
            FROM spans s JOIN tkd t USING (doc_id)),
          dup AS (SELECT ch FROM chunks GROUP BY ch HAVING count(*) >= 2)
          SELECT doc_id, count(*) AS n_chunks,
            CAST(sum(CASE WHEN dup.ch IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup_chunks
          FROM chunks LEFT JOIN dup USING (ch)
          GROUP BY doc_id"""
    },

    // dd20: the SAME K=64 sketch (constants inlined from the driver) —
    // the estimator itself is the cross-engine contract.
    "dd20_corpus_overlap" -> {
      val vals = (0 until K20).map(k =>
        s"(${k}, ${A20(k)}, ${B20(k)})").mkString(", ")
      s"""WITH g20 AS (
            SELECT source,
              CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % $P AS h
            FROM (SELECT source, unnest($dshStr) AS g
                  FROM documents WHERE len($dtoks) >= 3)),
          p20 AS (SELECT CAST(t.k AS INT) AS k, t.a AS a, t.b AS b
                  FROM (VALUES $vals) t(k, a, b)),
          m20 AS (SELECT source, k, min((h * a + b) % $P) AS m
                  FROM g20 CROSS JOIN p20 GROUP BY source, k)
          SELECT a.source AS src_a, b.source AS src_b,
            CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
              AS k_match,
            CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) * 1000000 // $K20
              AS BIGINT) AS jaccard_est_ppm
          FROM m20 a JOIN m20 b ON a.k = b.k AND a.source < b.source
          GROUP BY a.source, b.source"""
    },

    // dd21: the same signature relation re-banded per config; band keys
    // string_agg in hid order == the Spark side's mh0..mh7 concat order.
    "dd21_lsh_band_sweep" -> {
      def bkCte(b: Int) = {
        val r = 8 / b
        s"""bk$b AS (
              SELECT doc_id,
                md5(concat('c$b|', hid // $r, '|',
                  string_agg(minhash, '|' ORDER BY hid))) AS k
              FROM sig GROUP BY doc_id, hid // $r)"""
      }
      def candCte(b: Int) =
        s"""cand$b AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bk$b a JOIN bk$b b
                ON a.k = b.k AND a.doc_id < b.doc_id)"""
      s"""WITH sig AS ($dSig),
          sets AS ($dSets),
          ${bkCte(8)}, ${bkCte(4)}, ${bkCte(2)},
          ${candCte(8)}, ${candCte(4)}, ${candCte(2)},
          truth AS (
            SELECT doc_a, doc_b FROM (
              SELECT doc_a, doc_b,
                round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                  / (len(x.sh) + len(y.sh)
                     - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
              FROM cand8 JOIN sets x ON doc_a = x.doc_id
                         JOIN sets y ON doc_b = y.doc_id)
            WHERE jaccard >= 0.5),
          tn AS (SELECT count(*) AS n_truth FROM truth),
          allc AS (
            SELECT 8 AS bands, doc_a, doc_b FROM cand8
            UNION ALL SELECT 4, doc_a, doc_b FROM cand4
            UNION ALL SELECT 2, doc_a, doc_b FROM cand2)
          SELECT c.bands, CAST(8 // c.bands AS INT) AS rows_per_band,
            count(*) AS n_candidates,
            CAST(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_found,
            CAST(any_value(tn.n_truth) AS BIGINT) AS n_truth,
            CASE WHEN any_value(tn.n_truth) > 0 THEN
              CAST(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // any_value(tn.n_truth) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS recall_ppm
          FROM allc c
          LEFT JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
          CROSS JOIN tn
          GROUP BY c.bands"""
    }
  )
}
