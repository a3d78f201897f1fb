package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{Pinned, Scratch, Tables}

/** BPE subword tokenization — train + encode (SURVEY.md §2.5 text
  * family, ta26). Every real training-data pipeline packs SUBWORD
  * tokens, not whitespace tokens: the tokenizer itself is trained on
  * the corpus (byte-pair encoding: start from a BYTE-LEVEL base
  * alphabet, repeatedly merge the most frequent adjacent symbol pair),
  * then every document is encoded with the learned merges in rank
  * order. The base alphabet is BYTES, GPT-2's convention (Radford et
  * al. 2019, public literature): a symbol is a hex-pair string ("68"),
  * merges concatenate hex pairs, and ANY input script — CJK, Arabic,
  * emoji, bytes that are not valid UTF-8 sequences of one char —
  * decomposes into base symbols, so encode is TOTAL: no UNK token
  * exists, and an out-of-vocabulary word falls back to its byte
  * decomposition rather than an opaque passthrough. The reference's
  * MiddleFunc contract (/root/reference/pipe/node.go:19) admits any
  * per-element transform; the TRAINING loop is the part Spark has to
  * shape: a bounded number of merge rounds, each one corpus-wide
  * aggregation + one vocabulary-sized rewrite (ss08's Lloyd-iteration
  * discipline: per-round localCheckpoint cuts the lineage, the loop
  * count is a fixed hyperparameter, never data-dependent).
  *
  * Scale notes (100 TB):
  *   - The corpus is touched ONCE (token explode → word-frequency hash
  *     aggregation with map-side combine). Every training round after
  *     that runs over the DISTINCT-WORD relation (vocab-sized, ~Heaps-
  *     law sublinear in corpus size) — pair counts are weighted by the
  *     word frequencies, exactly the classic word-frequency formulation
  *     of BPE training (Sennrich et al. 2016, public literature).
  *   - Each round selects a BATCH of up to [[BatchCap]] pairwise
  *     NON-INTERFERING merges — the local-maxima independent set of the
  *     pair conflict graph (conflict = shared symbol, or one pair's
  *     merged string colliding with the other's symbol), found with one
  *     key-join over the exploded symbol keys. The batch is a ≤cap
  *     driver scalar (the documented bounded class) and applies in ONE
  *     vocab fold; an empty batch (training saturated) is an identity
  *     round in both engines, no driver-side branch observable in the
  *     result. Training stops when the merge table reaches
  *     [[MergeTarget]] (the real tokenizer contract — a vocab target,
  *     the last batch truncated to the remaining budget), with
  *     [[Rounds]] as the saturation guard.
  *   - ENCODING is a join of the corpus token stream against the
  *     trained dictionary. The dictionary is corpus-derived (vocab-
  *     sized) — ta05/ta17's discipline: SHUFFLE HASH join on the word
  *     key, never a broadcast (PlanQualitySpec pins it).
  *   - The trained dictionary is a write-once staged artifact (the
  *     gram-index discipline): ta26 and ta09 (sequence packing over
  *     BPE token counts) both probe the parquet instead of re-running
  *     the training loop.
  *
  * Cross-engine determinism: symbol strings are exact; the per-doc
  * encoding checksum sums 40-bit md5 prefixes as integers (order-
  * independent, overflow-safe to ~8M-token documents), ta24's
  * integer-sum convention.
  *
  * Greedy merge application is a left-to-right FOLD over the word's
  * symbol list: merge when the accumulator's last symbol is `a` and
  * the incoming symbol is `b` ("a a a" + (a,a) → "aa a", never
  * "a aa"). Words are carried as '|'-delimited symbol strings
  * ("|6C|6F|77" for "low"), so "last symbol is a" is the string test
  * endswith(acc, '|a') — symbols are hex pairs and can never contain
  * '|', which is exactly why the byte-level base also retires the old
  * delimiter-token exclusion: a word CONTAINING '|' encodes as bytes
  * ("7C") like any other, identically in both engines.
  */
object Bpe {

  /** The MERGE-TABLE SIZE TARGET — training runs until the merge table
    * reaches exactly this size, the way real tokenizers are trained:
    * |vocab| = base alphabet + merge count, so this IS the vocabulary
    * target minus the base (production: 30k–50k). The final round's
    * batch is truncated to the remaining budget, so the stop BINDS
    * exactly whenever the corpus can supply the merges (BpeSpec pins
    * it: the fixture's natural depth is 73, the target 64). Rounds
    * whose budget is exhausted select nothing in both engines. */
  private[graft] val MergeTarget = 64

  /** Max merge rounds — the SATURATION GUARD, no longer the stop rule:
    * the loop ends at [[MergeTarget]] merges, at an empty batch (the
    * corpus ran out of pairs — an empty batch implies every later batch
    * is empty too, since words stop changing), or here, whichever comes
    * first. Production sizes this as target/cap plus slack (30k merges
    * = ~64 rounds at cap 512); the driver-round-trip count stays small
    * while the trained vocabulary reaches real depth. */
  private[graft] val Rounds = 16

  /** Max merges applied per round. The batch is the LOCAL-MAXIMA
    * independent set of the pair-count conflict graph: pairs p, q
    * CONFLICT when they share a symbol, or when one pair's merged
    * symbol (a||b) equals a symbol of the other (the created-symbol
    * collision that would make application order observable); p
    * survives iff no conflicting q outranks it ((cnt desc, a, b) —
    * exactly one side of every conflict wins, so survivors are pairwise
    * non-interfering and SIMULTANEOUS application ≡ one-at-a-time
    * application in any order (BpeSpec proves it on an adversarial
    * fixture). Conflict detection is a key-join on the exploded symbol
    * keys — never a pairs×pairs product. */
  private[graft] val BatchCap = 32

  private val toks = "filter(split(text, ' '), x -> x <> '')"

  /** The byte decomposition of a string column as a '|'-delimited
    * symbol state ("low" → "|6C|6F|77"): UTF-8 bytes as uppercase hex
    * pairs — the byte-level base alphabet (object doc). Also the OOV
    * ENCODE FALLBACK: a word absent from the trained dict decomposes
    * into base symbols, so encode is total on any script. */
  private[graft] def byteStateSql(c: String): String = {
    val h = s"hex(encode($c, 'UTF-8'))"
    s"concat('|', array_join(transform(sequence(0, length($h) div 2 - 1), " +
      s"i -> substring($h, i*2+1, 2)), '|'))"
  }

  /** The DuckDB twin of [[byteStateSql]] (both engines hex uppercase). */
  private def dbByteState(c: String): String =
    s"'|' || array_to_string(list_transform(range(len(hex(encode($c)))//2), " +
      s"i -> hex(encode($c))[i*2+1:i*2+2]), '|')"

  /** Corpus token stream (doc_id, word) — no exclusions: the byte-level
    * base makes every token encodable (object doc). */
  private def tokenStream(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toks)).as("word"))

  /** The symbol array of a delimited word state ("|l|o|w" → [l,o,w]). */
  private val arr = "slice(split(s, '[|]'), 2, size(split(s, '[|]')) - 1)"

  /** One greedy merge application of the (a, b) columns riding the row
    * (see object doc for the fold semantics). */
  private val applyMergeSql =
    s"aggregate($arr, '', (acc, x) -> " +
      "CASE WHEN x = b AND endswith(acc, concat('|', a)) " +
      "THEN concat(acc, x) ELSE concat(acc, '|', x) END)"

  /** Exposed for the property spec: the fold merge as a Column over
    * input columns (s, a, b). */
  private[graft] def applyMergeCol = expr(applyMergeSql)

  /** The SIMULTANEOUS batch-merge fold over the delimited state column
    * `s`: the whole non-interfering batch rides as a literal b→a map
    * (b values are unique — two pairs sharing b would conflict), and
    * the fold merges whenever the incoming symbol has a mapping whose
    * `a` closes the accumulator. Equivalence with one-at-a-time
    * [[applyMergeCol]] application in ANY order is what the batch's
    * non-interference guarantees (BpeSpec proves it adversarially). */
  private[graft] def batchMergeCol(batch: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val m = map_from_arrays(
      array(batch.map(t => lit(t._2)): _*),
      array(batch.map(t => lit(t._1)): _*))
    aggregate(expr(arr), lit(""), (acc, x) =>
      when(element_at(m, x).isNotNull &&
          acc.endsWith(concat(lit("|"), element_at(m, x))),
        concat(acc, x)
      ).otherwise(concat(acc, lit("|"), x)))
  }

  /** One round's batch selection over a (a, b, cnt) pair-count relation:
    * the local-maxima independent set of the conflict graph, ranked by
    * (cnt desc, a, b) and capped at [[BatchCap]] — collected as a ≤cap
    * driver scalar. Conflict keys are the two source symbols (kind 0)
    * and the created symbol a||b (kind 1); created=created collisions
    * are NOT conflicts (two pairs merging to the same string never
    * consume each other's in-round output). */
  private[graft] def batchSelect(pairs: DataFrame,
      cap: Int = BatchCap): Seq[(String, String)] = {
    val e = pairs.select(col("a"), col("b"), col("cnt"),
        explode(array(
          struct(col("a").as("k"), lit(0).as("kind")),
          struct(col("b").as("k"), lit(0).as("kind")),
          struct(concat(col("a"), col("b")).as("k"), lit(1).as("kind"))))
          .as("kk"))
      .select(col("a"), col("b"), col("cnt"),
        col("kk.k").as("k"), col("kk.kind").as("kind"))
    val beaten = e.as("p").join(e.as("q"),
        col("p.k") === col("q.k") &&
        !(col("p.kind") === 1 && col("q.kind") === 1) &&
        (col("p.a") =!= col("q.a") || col("p.b") =!= col("q.b")) &&
        (col("q.cnt") > col("p.cnt") ||
          (col("q.cnt") === col("p.cnt") &&
            (col("q.a") < col("p.a") ||
              (col("q.a") === col("p.a") && col("q.b") < col("p.b"))))))
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
    pairs.join(beaten, Seq("a", "b"), "left_anti")
      .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
      .limit(cap)
      .select(col("a"), col("b"))
      .collect().toIndexedSeq
      .map(r => (r.getString(0), r.getString(1)))
  }

  /** BPE training: the final (word, freq, s) dictionary after [[Rounds]]
    * rounds of BATCHED greedy merges, plus the globally-ranked merge
    * table — the artifact a tokenizer ships. Per round: one pair-count
    * aggregation over the vocab-sized word relation, one key-join
    * conflict pass selecting the local-maxima independent set (capped
    * at [[BatchCap]], collected as a ≤cap driver scalar — the documented
    * bounded class), one vocab rewrite applying ALL selected merges in a
    * single fold (the batch is non-interfering, so the simultaneous
    * fold ≡ sequential application — BpeSpec). Merge ranks are global
    * ordinals in (round asc, within-round (cnt desc, a, b)) order. */
  private def trainAll(
      s: SparkSession, d: String): (DataFrame, Seq[(Int, String, String)]) = {
    val words0 = tokenStream(s, d)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("s", expr(byteStateSql("word")))
    var words = words0.localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String)]
    var rank = 0
    var round = 0
    var saturated = false
    // Target-driven stop: run until the merge table reaches MergeTarget
    // (the last round's batch truncated to the remaining budget), the
    // corpus saturates (empty batch — the top-ranked candidate of a
    // nonempty pair set is never beaten, so empty batch ⟺ no pairs
    // left ⟺ every later round is empty too), or the Rounds guard.
    while (rank < MergeTarget && round < Rounds && !saturated) {
      round += 1
      val pairs = words
        .select(col("freq"), expr(arr).as("tk"))
        .filter(expr("size(tk) >= 2"))
        .select(col("freq"), col("tk"),
          explode(expr("sequence(0, size(tk) - 2)")).as("i"))
        .select(col("freq"),
          expr("element_at(tk, i + 1)").as("a"),
          expr("element_at(tk, i + 2)").as("b"))
        .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("cnt"))
      val top = batchSelect(pairs, math.min(BatchCap, MergeTarget - rank))
      if (top.isEmpty) saturated = true
      else {
        top.foreach { t => rank += 1; merges += ((rank, t._1, t._2)) }
        words = words
          .select(col("word"), col("freq"), batchMergeCol(top).as("s"))
          .localCheckpoint()
      }
    }
    (words, merges.result())
  }

  /** Staged trained artifacts — write-once per (application, fixture).
    * Layout: <dir>/merges (rank, a, b) and <dir>/dict (word, freq, s),
    * each committed as its own pinned artifact. */
  private def bpeArtifacts(s: SparkSession, d: String): java.io.File =
    Scratch.staged(s, d, "bpe_dict") { dir =>
      val (words, merges) = trainAll(s, d)
      import s.implicits._
      val mergesDir = new java.io.File(dir, "merges")
      merges.toDF("rank", "a", "b").write.mode("overwrite").parquet(mergesDir.getPath)
      // Dict laid out bucket-partitioned by the word key so the
      // per-trigger encode (st26) prunes its batch's word buckets
      // into the scan instead of reading the whole vocab-sized
      // artifact every micro-batch (Scratch.ServeBuckets layout).
      val dictDir = new java.io.File(dir, "dict")
      words.withColumn("wbkt", pmod(hash(col("word")), lit(Scratch.ServeBuckets)))
        .write.mode("overwrite").partitionBy("wbkt").parquet(dictDir.getPath)
      Pinned.commit(mergesDir): Unit
      Pinned.commit(dictDir): Unit
    }
  private[graft] def bpeDict(s: SparkSession, d: String): DataFrame =
    Pinned.read(s, new java.io.File(bpeArtifacts(s, d), "dict"))
  private[graft] def bpeMerges(s: SparkSession, d: String): DataFrame =
    Pinned.read(s, new java.io.File(bpeArtifacts(s, d), "merges"))

  /** The encode step over any (doc_id, text) relation against a trained
    * (word, s) dict — extracted pure (exactDedupPartial's discipline) so
    * it is both ta26's whole-corpus body and st26's per-micro-batch
    * step. A document is one row and never straddles micro-batches, so
    * each doc emits exactly one SELF-CONTAINED stats row (token-less
    * docs included, with zeros): batch boundaries can't change the
    * union, and an at-least-once replay appends byte-identical rows
    * that a read-back distinct collapses. The dict side is corpus-
    * derived (vocab-sized) → shuffle-hash join, never broadcast. */
  private[graft] def subwordsPartial(batch: DataFrame, dict: DataFrame,
      batchLocal: Boolean = false): DataFrame = {
    val tok = batch
      .select(col("doc_id"), explode(expr(toks)).as("word"))
    // Streaming leg (`batchLocal`): the dict artifact is bucket-
    // partitioned by word key; route the BATCH's word buckets into the
    // scan (static PartitionFilters, st22's discipline) so a trigger
    // reads O(touched buckets) of the vocab artifact, never all of it.
    // Pruning only removes dict rows no batch word hashes to, so the
    // left join's matches — and the oracle parity — are unchanged.
    val dictSide =
      if (batchLocal)
        Scratch.routeBuckets(dict, "wbkt",
            tok.select(pmod(hash(col("word")),
              lit(Scratch.ServeBuckets))))
          .select(col("word"), col("s"))
      else dict
    // OOV fallback = the BYTE DECOMPOSITION (never an opaque
    // passthrough): every emitted symbol is a trained symbol or a base
    // byte, so downstream vocab lookups cannot hit an UNK.
    val enc = tok.hint("shuffle_hash")
      .join(dictSide.hint("shuffle_hash"), Seq("word"), "left")
      .select(col("doc_id"),
        coalesce(col("s"), expr(byteStateSql("word"))).as("s"))
    val perDoc = enc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(expr("size(split(s, '[|]')) - 1")).as("n_subwords"),
        sum(expr("cast(conv(substring(md5(s), 1, 10), 16, 10) as bigint)"))
          .as("enc_checksum"))
    // perDoc is input-sized (one row per doc) — the completion join is
    // doc_id-keyed shuffle hash, same discipline as the dict join.
    batch.select(col("doc_id")).hint("shuffle_hash")
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
        coalesce(col("enc_checksum"), lit(0L)).as("enc_checksum"))
  }

  /** ta33's body, extracted relation-parametric (subwordsPartial's
    * discipline) so the spec can probe it with a CORRUPTED dictionary:
    * decode every encoded token (strip the '|' delimiters and UNHEX the
    * byte symbols — BPE merges only ever concatenate, so a healthy dict
    * decodes to the original word's exact bytes), reassemble the
    * document in token order, and report per doc
    * (n_tokens, n_mismatch, roundtrip_ok vs the normalized original).
    * This is the LOSSLESSNESS AUDIT a tokenizer artifact gets before a
    * training run burns cluster hours on it: a corrupted or stale dict
    * shows up as n_mismatch > 0 / roundtrip_ok = false, never as
    * silently-wrong training tokens. The dict side is corpus-derived
    * (vocab-sized) → shuffle-hash join, never broadcast (ta26's
    * discipline); the reassembly is a per-doc sorted collect_list
    * (document-bounded, the packing/pl06 class), and the completion
    * join is doc_id-keyed shuffle hash. */
  private[graft] def roundtripAudit(docs: DataFrame, dict: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(expr(toks)).as(Seq("pos", "word")))
    val dec = tok.hint("shuffle_hash")
      .join(dict.hint("shuffle_hash"), Seq("word"), "left")
      .select(col("doc_id"), col("pos"), col("word"),
        expr("decode(unhex(translate(" +
          s"coalesce(s, ${byteStateSql("word")}), '|', '')), 'UTF-8')")
          .as("decoded"))
    // Null-safe mismatch: a structurally corrupted symbol (odd-length
    // hex) decodes to NULL, which must COUNT as a mismatch, not slip
    // through a null comparison.
    val perDoc = dec.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(!(col("decoded") <=> col("word")), 1L).otherwise(0L))
          .as("n_mismatch"),
        md5(array_join(
          expr("transform(array_sort(collect_list(struct(pos, decoded))), x -> x.decoded)"),
          " ")).as("tmd5"))
    docs.select(col("doc_id"), md5(array_join(expr(toks), " ")).as("orig_md5"))
      .hint("shuffle_hash")
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_mismatch"), lit(0L)).as("n_mismatch"),
        (coalesce(col("tmd5"), md5(lit(""))) === col("orig_md5")).as("roundtrip_ok"))
  }

  /** Per-document encoding stats: every doc_id (token-less docs get
    * zeros), subword counts and an order-independent 40-bit-hash
    * checksum of the encoded symbol strings. */
  private[graft] def docSubwords(s: SparkSession, d: String): DataFrame =
    subwordsPartial(Tables.documents(s, d),
      bpeDict(s, d).select(col("word"), col("s")))

  /** [[docSubwords]] staged to parquet once per fixture — the relation
    * a PER-MICRO-BATCH consumer (st28's RAG serving) joins against:
    * re-tokenizing the corpus per batch would be a corpus scan per
    * trigger, the anti-pattern the staged artifacts exist to retire.
    * Bucket-partitioned by doc_id: st28's per-trigger neighbor resolve
    * routes its batch's buckets into the scan as PartitionFilters (the
    * point-lookup serving layout). */
  private[graft] def stagedDocStats(s: SparkSession, d: String): DataFrame =
    Scratch.stagedParquet(s, d, "bpe_docstats", partCols = Seq("bkt"))(
      docSubwords(s, d)
        .withColumn("bkt", pmod(col("doc_id"),
          lit(Scratch.ServeBuckets.toLong)).cast("int")))

  /** The resolved per-token id stream under the shipped vocab —
    * (doc_id, pos = word position, k = symbol position within the word,
    * token_id) — ta38's resolution join extracted so the training-
    * tensor materialization (ta39) emits the SAME ids it audits. The
    * id resolution is an INNER join on the vocab: a dropped id fails
    * ta38's count parity and ta39's conservation spec, never an UNK. */
  private[graft] def tokenIdStream(s: SparkSession, d: String): DataFrame = {
    val vocab = queries("ta30_bpe_vocab")(s, d)
      .select(col("symbol"), col("token_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(expr(toks)).as(Seq("pos", "word")))
      .hint("shuffle_hash")
      .join(bpeDict(s, d).select(col("word"), col("s")).hint("shuffle_hash"),
        Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("s"), expr(byteStateSql("word"))).as("s"))
      .select(col("doc_id"), col("pos"),
        posexplode(expr(arr)).as(Seq("k", "symbol")))
      .hint("shuffle_hash")
      .join(vocab.hint("shuffle_hash"), Seq("symbol"))
      .select(col("doc_id"), col("pos"), col("k"), col("token_id"))
  }

  /** ta39's tensor geometry: fixed context-window width W, separator
    * token id 0 (vocab ids start at 1 — the reserved EOT slot every
    * real tokenizer keeps), pad id −1 with loss mask 0. W is sized so
    * the cut BINDS at fixture scale (documents straddle windows and
    * shards end in a partial window); production sets the model's
    * context length. */
  private[graft] val TensorW = 512

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- Train a BPE tokenizer on the corpus, encode every document
    //    with it, report per-doc word/subword counts + an encoding
    //    checksum. The DuckDB oracle re-runs the identical training
    //    (unrolled rounds generated from the same constants).
    "ta26_bpe_tokenize" -> ((s, d) => docSubwords(s, d)),

    // -- The trained merge table itself, in rank order — the artifact a
    //    tokenizer SHIPS (encode-side deployments load exactly this
    //    relation). Reads the staged parquet; the oracle re-derives each
    //    round's argmax from its own unrolled training CTEs.
    "ta29_bpe_merges" -> ((s, d) =>
      bpeMerges(s, d).select(col("rank").cast("int").as("rank"),
        col("a"), col("b"))),

    // -- The VOCABULARY artifact — merges (ta29) map text to symbols;
    //    the vocab maps symbols to integer token ids, and a training
    //    launcher sizes its embedding matrix from exactly this relation.
    //    GPT-2's shape: the COMPLETE 256-entry byte base alphabet ships
    //    (zero-frequency bytes included — every possible input byte has
    //    a token id, which is what makes encode UNK-free by
    //    construction, not by luck of corpus coverage) plus the merged
    //    symbols. Corpus symbol frequencies come from the staged DICT,
    //    weighted by word frequency — a vocab-sized input (Heaps-law
    //    sublinear), NOT a corpus rescan: freq-weighted symbol counts
    //    over the dict equal encoded-corpus symbol counts exactly,
    //    because every token is a dict word. Ids are assigned by
    //    (freq desc, symbol asc) — deterministic cross-engine. The
    //    global row_number runs over the VOCAB relation only (the
    //    shipped artifact is bounded — real tokenizers cap it at ~100k
    //    entries), the documented bounded-relation class.
    "ta30_bpe_vocab" -> ((s, d) => {
      val w = Window.orderBy(col("freq").desc, col("symbol").asc)
      val corpus = bpeDict(s, d)
        .select(col("freq").as("wf"), explode(expr(arr)).as("symbol"))
        .groupBy(col("symbol")).agg(sum(col("wf")).as("freq"))
      val base = s.range(256)
        .select(format_string("%02X", col("id")).as("symbol"))
      base.join(corpus, Seq("symbol"), "full_outer")
        .select(col("symbol"), coalesce(col("freq"), lit(0L)).as("freq"))
        .select(row_number().over(w).as("token_id"), col("symbol"), col("freq"))
    }),

    // -- DECODE / round-trip losslessness audit — the artifact check
    //    that closes the tokenizer lifecycle (ta29 merges → ta30 vocab →
    //    ta26 encode → THIS): decode every document's encoded symbols
    //    back to text and verify it reassembles the normalized original.
    //    Run before a training launch, a corrupted dict artifact fails
    //    here instead of as silently-wrong training tokens.
    "ta33_bpe_roundtrip" -> ((s, d) =>
      roundtripAudit(Tables.documents(s, d),
        bpeDict(s, d).select(col("word"), col("s")))),

    // -- TOKENIZER FERTILITY by language — subwords per word, the
    //    standard multilingual tokenizer-quality metric (a language
    //    with fertility ≫ 1 pays more context-window per word; training
    //    mixtures and context budgets are tuned on exactly this table).
    //    Consumes the staged per-doc stats (never a corpus re-encode);
    //    the lang flag-back is corpus-sized on both sides → shuffle-
    //    hash; the result is O(languages). Fertility reported in exact
    //    integer ppm (floor division — engine-neutral, no float sums).
    // -- THE TOKEN-ID ENCODING — the tensor a training run consumes:
    //    every document as its ORDERED token-id sequence under the
    //    shipped vocab (ta30's ids — byte base included, so the id
    //    lookup is TOTAL: even an OOV word's byte fallback resolves).
    //    Per doc: n_tokens (≡ ta26's subword count), a commutative
    //    id_sum cross-check, and an md5 of the space-joined id sequence
    //    in (word pos, symbol pos) order — the md5 pins the ORDER,
    //    which is what the packed training tensor actually is. Vocab
    //    and dict are corpus-derived → shuffle-hash joins; the per-doc
    //    reassembly is a document-bounded sorted collect (pl06's
    //    class); id resolution is an INNER join — a missing id would
    //    DROP a token and fail the oracle hash, never emit an UNK.
    "ta38_token_ids" -> ((s, d) => {
      val perDoc = tokenIdStream(s, d)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("token_id").cast("long")).as("id_sum"),
          md5(array_join(expr(
            "transform(array_sort(collect_list(struct(pos, k, token_id))), " +
              "x -> cast(x.token_id as string))"), " ")).as("ids_md5"))
      Tables.documents(s, d).select(col("doc_id")).hint("shuffle_hash")
        .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("id_sum"), lit(0L)).as("id_sum"),
          coalesce(col("ids_md5"), md5(lit(""))).as("ids_md5"))
    }),

    // -- THE TRAINING TENSOR — the artifact a trainer memory-maps, the
    //    op that closes ingest→tensor end-to-end: ta35's fractional-
    //    epoch copies (each copy is one unit of the training stream),
    //    laid out in ta14's deterministic shard order (shard/scatter
    //    hashes over the COPY key, so copies of one doc spread across
    //    the stream), each copy emitting its ta38 ordered token-id
    //    sequence plus ONE doc-boundary separator (id 0), the whole
    //    per-shard stream chunked into fixed-W context windows with a
    //    loss mask (1 = real token, 0 = separator/padding; only the
    //    shard's LAST window pads, with id −1). Per (shard, window):
    //    counts + order-pinning md5s of the full W-slot id and mask
    //    rows — the md5 IS the tensor content, the conservation spec
    //    pins that every token id lands exactly per its copy count.
    //    Scale: shards are the parallel unit (each packs
    //    independently — no global sort; production sizes shard count
    //    to cluster width); the copies×ids join IS the materialization
    //    job (output-sized, never more); the per-window collect is
    //    W-bounded (512 structs — pl06's document-bounded class).
    "ta39_training_tensor" -> ((s, d) =>
      trainingTensorOf(s, d, Tables.documents(s, d))),

    // -- ta39 with an INJECTED ZERO-TOKEN document — the empty-doc slot
    //    arithmetic under the full ORACLE gate (the round-11 verdict's
    //    fixture-edge ask; the driver fixtures carry no empty text, so
    //    the edge is injected identically on both engines, ta19's
    //    injected-ground-truth discipline): an empty doc trains nothing
    //    and encodes nothing, but its epoch copies still EMIT their
    //    separator slots — the exact case where a dropped copy would
    //    silently shift every later slot in its shards.
    "ta40_tensor_empty_doc" -> ((s, d) => {
      import s.implicits._
      val synth = Seq((EmptyDocId, "", "en", "wiki", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      trainingTensorOf(s, d,
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars").cast("long").as("n_chars"))
          .unionByName(synth))
    }),

    "ta34_tokenizer_fertility" -> ((s, d) => {
      val stats = stagedDocStats(s, d)
        .select(col("doc_id"), col("n_words"), col("n_subwords"))
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .hint("shuffle_hash")
        .join(stats.hint("shuffle_hash"), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
          when(col("n_words") > 0,
            expr("(n_subwords * 1000000) div n_words")).otherwise(lit(0L))
            .as("fertility_ppm"))
    }))

  /** The injected empty doc's id — far above any fixture doc_id at any
    * SF; source "wiki" (centi 250) + its md5 bucket give it 3 copies,
    * so the zero-token separator arithmetic binds in 3 shards. */
  private[graft] val EmptyDocId = 10000000L

  /** ta39's tensor materialization, relation-parametric over the
    * document set (ta40 injects a zero-token doc; the copy-length
    * lookup stays the STAGED stats of fixture `d`, so a doc absent
    * from the staged artifact exercises the LEFT-join zero path the
    * oracle mirrors). */
  private def trainingTensorOf(
      s: SparkSession, d: String,
      docsRel: org.apache.spark.sql.DataFrame): DataFrame = {
    {
      val W = TensorW
      val copies = TextAnalysis.epochCopies(docsRel)
        .withColumn("shard", expr(
          "cast(conv(substring(md5(concat('sh', cast(doc_id as string), ':', " +
            "cast(copy_idx as string))), 1, 8), 16, 10) as bigint) % 8"))
      // Copy lengths from the STAGED per-doc stats (n_subwords ≡ the id
      // stream's per-doc count — ta38's parity), so the offset pass
      // never re-encodes the corpus. LEFT join + coalesce(len, 0):
      // the oracle LEFT-joins its per-doc lengths the same way, so a
      // zero-token document (empty text, or a stats row missing from
      // the staged artifact) still emits its separator slot on BOTH
      // engines instead of silently vanishing from one stream and
      // shifting every later slot in the shard.
      val cps = copies.hint("shuffle_hash")
        .join(stagedDocStats(s, d).select(col("doc_id"),
            col("n_subwords").as("len")).hint("shuffle_hash"),
          Seq("doc_id"), "left")
        .withColumn("len", coalesce(col("len"), lit(0L)))
      // Per-shard base offsets: prefix sum of (len + 1) in ta14's
      // (scatter key, id) order — one window per shard, no global sort.
      val wOrd = Window.partitionBy(col("shard"))
        .orderBy(col("ord_key").asc, col("doc_id").asc, col("copy_idx").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val based = cps
        .withColumn("cum", sum(col("len") + 1).over(wOrd))
        .select(col("doc_id"), col("copy_idx"), col("shard"), col("len"),
          (col("cum") - (col("len") + 1)).as("base"))
        .localCheckpoint() // referenced by both the token and separator legs
      val ids = tokenIdStream(s, d)
        .withColumn("tokidx",
          row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("pos").asc, col("k").asc)) - 1)
      val toksLeg = based.hint("shuffle_hash")
        .join(ids.hint("shuffle_hash"), Seq("doc_id"))
        .select(col("shard"), (col("base") + col("tokidx")).as("gpos"),
          col("token_id").cast("long").as("tid"))
      val sepLeg = based
        .select(col("shard"), (col("base") + col("len")).as("gpos"),
          lit(0L).as("tid"))
      toksLeg.unionByName(sepLeg)
        .select(col("shard"), expr(s"gpos div $W").as("win"),
          (col("gpos") % W).as("slot"), col("tid"))
        .groupBy(col("shard"), col("win"))
        // ONE sorted collect per window (W-bounded) — idsj/maskj/the
        // uniqueness check all derive from it in the projection, so
        // the agg neither collects twice nor pays the distinct-agg
        // expand a countDistinct guard would add.
        .agg(count(lit(1)).as("n_filled"),
          sum(when(col("tid") =!= 0L, 1L).otherwise(0L)).as("n_real"),
          sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_sep"),
          expr("array_sort(collect_list(struct(slot, tid)))").as("srt"))
        // gpos UNIQUENESS GUARD: window slots are well-defined only if
        // every global position lands exactly once (a staged `len`
        // disagreeing with the real id-stream length for any doc would
        // collide later copies' positions; slot ≡ gpos within a window).
        // A collision must FAIL LOUD here — sorted ties would otherwise
        // turn a deterministic content bug into a flaky-looking hash
        // mismatch downstream. Sorted array ⇒ duplicates are adjacent.
        .select(col("shard"), col("win"), col("n_filled"),
          col("n_real"), col("n_sep"),
          expr("exists(zip_with(slice(srt, 1, size(srt) - 1), " +
            "slice(srt, 2, size(srt) - 1), (a, b) -> a.slot = b.slot), " +
            "x -> x)").as("dup"),
          expr("array_join(transform(srt, x -> cast(x.tid as string)), ' ')")
            .as("idsj"),
          expr("array_join(transform(srt, x -> IF(x.tid = 0, '0', '1')), ' ')")
            .as("maskj"))
        .select(col("shard"), col("win"),
          col("n_real"), col("n_sep"),
          (lit(W.toLong) - col("n_filled")).as("n_pad"),
          when(!col("dup"),
            md5(concat(col("idsj"),
              expr(s"repeat(' -1', cast($W - n_filled as int))"))))
            .otherwise(raise_error(concat(
              lit("ta39: gpos collision in shard "), col("shard").cast("string"),
              lit(" win "), col("win").cast("string")))).as("ids_md5"),
          md5(concat(col("maskj"),
            expr(s"repeat(' 0', cast($W - n_filled as int))"))).as("mask_md5"))
    }
  }

  /** The shared DuckDB training+encoding CTE stack (ta26's oracle and
    * ta09's packing oracle both consume `bpe_doc`). Generated from the
    * SAME [[Rounds]]/[[BatchCap]] constants as the Spark loop; each
    * round is the literal SQL twin of the Spark round: pair counts
    * weighted by word freq → conflict-graph local-maxima selection
    * (shared-symbol OR created-symbol keys, capped and ranked) →
    * one list_reduce fold applying the whole batch (b values unique in
    * a non-interfering set, so the set rides the fold as a filter). */
  private[operators] def withSqlPrefix: String = {
    val dtoks = "list_filter(string_split(text, ' '), x -> x <> '')"
    // MATERIALIZED per round: DuckDB inlines multi-referenced CTEs, and
    // bpe_p/bpe_x are each referenced more than once per round — inlined,
    // the upstream chain would re-expand ~4× per round (4^Rounds scans of
    // the corpus; observed as fd exhaustion). Materializing pins one
    // evaluation per CTE, the exact cost the Spark loop pays.
    val rounds = (1 to Rounds).map { r =>
      val prev = s"bpe_w${r - 1}"
      // This round's merge budget: least(cap, target - merges already
      // taken) — the taken count is the literal sum of the prior
      // rounds' batch sizes (scalar subqueries), so the SQL stop binds
      // exactly where the Spark loop's does; an exhausted budget makes
      // the round's batch empty and the fold an identity.
      val taken =
        if (r == 1) "0"
        else (1 until r).map(k => s"(SELECT count(*) FROM bpe_t$k)")
          .mkString(" + ")
      s"""bpe_p$r AS MATERIALIZED (
            SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
              SELECT freq,
                unnest(list_transform(range(len(arr) - 1), i -> arr[i+1])) AS a,
                unnest(list_transform(range(len(arr) - 1), i -> arr[i+2])) AS b
              FROM (SELECT freq, string_split(s[2:], '|') AS arr FROM $prev))
            GROUP BY a, b),
          bpe_x$r AS MATERIALIZED (
            SELECT a, b, cnt, unnest([
                struct_pack(k := a, kind := 0),
                struct_pack(k := b, kind := 0),
                struct_pack(k := a || b, kind := 1)], recursive := true)
            FROM bpe_p$r),
          bpe_c$r AS MATERIALIZED (
            SELECT a, b,
              row_number() OVER (ORDER BY cnt DESC, a ASC, b ASC) AS rr
            FROM (
              SELECT pp.a, pp.b, pp.cnt FROM bpe_p$r pp
              WHERE NOT EXISTS (
                SELECT 1 FROM bpe_x$r x JOIN bpe_x$r y ON x.k = y.k
                WHERE x.a = pp.a AND x.b = pp.b
                  AND NOT (x.kind = 1 AND y.kind = 1)
                  AND (x.a <> y.a OR x.b <> y.b)
                  AND (y.cnt > x.cnt OR (y.cnt = x.cnt
                    AND (y.a < x.a OR (y.a = x.a AND y.b < x.b))))))),
          bpe_t$r AS MATERIALIZED (
            SELECT a, b, rr FROM bpe_c$r
            WHERE rr <= least($BatchCap, $MergeTarget - ($taken))),
          bpe_m$r AS MATERIALIZED (
            SELECT coalesce(list(struct_pack(a := a, b := b)),
              CAST([] AS STRUCT(a VARCHAR, b VARCHAR)[])) AS ms FROM bpe_t$r),
          bpe_w$r AS MATERIALIZED (
            SELECT word, freq,
              list_reduce(list_prepend('', string_split(s[2:], '|')),
                (acc, x) -> CASE WHEN len(list_filter(m.ms,
                              p -> p.b = x AND ends_with(acc, '|' || p.a))) > 0
                            THEN acc || x ELSE acc || '|' || x END) AS s
            FROM $prev, bpe_m$r m)"""
    }.mkString(",\n")
    s"""WITH bpe_tok AS (
          SELECT doc_id, unnest($dtoks) AS word FROM documents),
        bpe_w0 AS (
          SELECT word, count(*) AS freq,
            ${dbByteState("word")} AS s
          FROM bpe_tok GROUP BY word),
        $rounds,
        bpe_enc AS (
          SELECT t.doc_id, coalesce(w.s, ${dbByteState("t.word")}) AS s
          FROM bpe_tok t LEFT JOIN bpe_w$Rounds w ON t.word = w.word),
        bpe_doc AS (
          SELECT doc_id, count(*) AS n_words,
            CAST(sum(len(string_split(s[2:], '|'))) AS BIGINT) AS n_subwords,
            CAST(sum(CAST(concat('0x', substr(md5(s), 1, 10)) AS BIGINT))
              AS BIGINT) AS enc_checksum
          FROM bpe_enc GROUP BY doc_id)"""
  }

  /** ta30's vocab as a DuckDB SELECT (assumes bpe_w{Rounds} in scope) —
    * shared by the ta30 oracle and ta38's id-resolution oracle. */
  private def vocabSqlBody: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY freq DESC, symbol ASC) AS INT)
            AS token_id,
          symbol, freq
        FROM (
          SELECT coalesce(c.symbol, b.symbol) AS symbol,
            CAST(coalesce(c.freq, 0) AS BIGINT) AS freq
          FROM (SELECT printf('%02X', CAST(i AS INT)) AS symbol
                FROM range(256) t(i)) b
          FULL JOIN (
            SELECT symbol, CAST(sum(freq) AS BIGINT) AS freq FROM (
              SELECT freq, unnest(string_split(s[2:], '|')) AS symbol
              FROM bpe_w$Rounds)
            GROUP BY symbol) c
          ON b.symbol = c.symbol)"""

  def oracleSql: Map[String, String] = Map(
    "ta26_bpe_tokenize" ->
      s"""$withSqlPrefix
          SELECT d.doc_id,
            CAST(coalesce(b.n_words, 0) AS BIGINT) AS n_words,
            CAST(coalesce(b.n_subwords, 0) AS BIGINT) AS n_subwords,
            CAST(coalesce(b.enc_checksum, 0) AS BIGINT) AS enc_checksum
          FROM documents d LEFT JOIN bpe_doc b ON d.doc_id = b.doc_id""",
    "ta29_bpe_merges" -> {
      // Global rank = ordinal over (round asc, within-round rank asc) —
      // the same ordering the driver-side merge log accumulates.
      val ranks = (1 to Rounds).map(r =>
        s"SELECT $r AS round, rr, a, b FROM bpe_t$r")
        .mkString(" UNION ALL ")
      s"""$withSqlPrefix
          SELECT CAST(row_number() OVER (ORDER BY round ASC, rr ASC) AS INT)
              AS rank, a, b
          FROM ($ranks)"""
    },
    "ta30_bpe_vocab" ->
      s"""$withSqlPrefix
          $vocabSqlBody""",
    "ta33_bpe_roundtrip" ->
      s"""$withSqlPrefix,
          rt_l AS (
            SELECT doc_id, list_filter(string_split(text, ' '),
              x -> x <> '') AS l
            FROM documents),
          rt_tok AS (
            SELECT doc_id, unnest(range(len(l))) AS pos, unnest(l) AS word
            FROM rt_l),
          rt_dec AS (
            SELECT t.doc_id, t.pos, t.word,
              decode(from_hex(replace(
                coalesce(w.s, ${dbByteState("t.word")}), '|', ''))) AS decoded
            FROM rt_tok t LEFT JOIN bpe_w$Rounds w ON t.word = w.word),
          rt_doc AS (
            SELECT doc_id, count(*) AS n_tokens,
              CAST(sum(CASE WHEN decoded IS DISTINCT FROM word
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
              md5(string_agg(decoded, ' ' ORDER BY pos)) AS tmd5
            FROM rt_dec GROUP BY doc_id)
          SELECT d.doc_id,
            CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
            CAST(coalesce(r.n_mismatch, 0) AS BIGINT) AS n_mismatch,
            coalesce(r.tmd5, md5(''))
              = md5(array_to_string(list_filter(string_split(d.text, ' '),
                  x -> x <> ''), ' ')) AS roundtrip_ok
          FROM documents d LEFT JOIN rt_doc r ON d.doc_id = r.doc_id""",
    "ta38_token_ids" ->
      s"""$withSqlPrefix,
          v38 AS ($vocabSqlBody),
          l38 AS (
            SELECT doc_id, list_filter(string_split(text, ' '),
              x -> x <> '') AS l
            FROM documents),
          t38 AS (
            SELECT doc_id, unnest(range(len(l))) AS pos, unnest(l) AS word
            FROM l38),
          s38 AS (
            SELECT t.doc_id, t.pos,
              string_split(coalesce(w.s, ${dbByteState("t.word")})[2:], '|')
                AS syms
            FROM t38 t LEFT JOIN bpe_w$Rounds w ON t.word = w.word),
          y38 AS (
            SELECT doc_id, pos, unnest(list_transform(range(len(syms)),
              i -> struct_pack(k := i, symbol := syms[CAST(i AS INT)+1])),
              recursive := true)
            FROM s38),
          i38 AS (
            SELECT y.doc_id, y.pos, y.k, v.token_id
            FROM y38 y JOIN v38 v ON y.symbol = v.symbol),
          d38 AS (
            SELECT doc_id, count(*) AS n_tokens,
              CAST(sum(token_id) AS BIGINT) AS id_sum,
              md5(string_agg(CAST(token_id AS VARCHAR), ' '
                ORDER BY pos, k)) AS ids_md5
            FROM i38 GROUP BY doc_id)
          SELECT d.doc_id,
            CAST(coalesce(x.n_tokens, 0) AS BIGINT) AS n_tokens,
            CAST(coalesce(x.id_sum, 0) AS BIGINT) AS id_sum,
            coalesce(x.ids_md5, md5('')) AS ids_md5
          FROM documents d LEFT JOIN d38 x ON d.doc_id = x.doc_id""",

    // ta39: the same id stream (ta38's CTEs), composed with ta35's
    // copy arithmetic and ta14's shard/scatter hashes over the copy
    // key, unrolled into the identical per-shard prefix-sum packing.
    "ta39_training_tensor" -> tensorOracleSql("documents"),

    // ta40: the identical packing with the injected zero-token doc in
    // the COPY relation only (it trains nothing and encodes nothing,
    // so the token-side CTEs stay over the real corpus — exactly as
    // the Spark side's staged stats never see it).
    "ta40_tensor_empty_doc" -> tensorOracleSql(
      s"(SELECT doc_id, source FROM documents UNION ALL " +
        s"SELECT $EmptyDocId, 'wiki') AS d40"),

    "ta34_tokenizer_fertility" ->
      s"""$withSqlPrefix
          SELECT lang, count(*) AS n_docs,
            CAST(sum(coalesce(b.n_words, 0)) AS BIGINT) AS n_words,
            CAST(sum(coalesce(b.n_subwords, 0)) AS BIGINT) AS n_subwords,
            CASE WHEN sum(coalesce(b.n_words, 0)) > 0
              THEN CAST(sum(coalesce(b.n_subwords, 0)) * 1000000
                     // sum(coalesce(b.n_words, 0)) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS fertility_ppm
          FROM documents d LEFT JOIN bpe_doc b ON d.doc_id = b.doc_id
          GROUP BY lang""")

  /** ta39/ta40's unrolled packing oracle, parameterized by the COPY
    * relation (doc_id, source). */
  private def tensorOracleSql(docsRel: String): String = {
      val W = TensorW
      s"""$withSqlPrefix,
          v39 AS ($vocabSqlBody),
          l39 AS (
            SELECT doc_id, list_filter(string_split(text, ' '),
              x -> x <> '') AS l
            FROM documents),
          t39 AS (
            SELECT doc_id, unnest(range(len(l))) AS pos, unnest(l) AS word
            FROM l39),
          s39 AS (
            SELECT t.doc_id, t.pos,
              string_split(coalesce(w.s, ${dbByteState("t.word")})[2:], '|')
                AS syms
            FROM t39 t LEFT JOIN bpe_w$Rounds w ON t.word = w.word),
          y39 AS (
            SELECT doc_id, pos, unnest(list_transform(range(len(syms)),
              i -> struct_pack(k := i, symbol := syms[CAST(i AS INT)+1])),
              recursive := true)
            FROM s39),
          i39 AS (
            SELECT y.doc_id, y.pos, y.k, v.token_id,
              row_number() OVER (PARTITION BY y.doc_id ORDER BY y.pos, y.k)
                - 1 AS tokidx
            FROM y39 y JOIN v39 v ON y.symbol = v.symbol),
          len39 AS (
            SELECT doc_id, count(*) AS len FROM i39 GROUP BY doc_id),
          e39 AS (
            SELECT doc_id, source,
              CAST(CASE CAST(concat('0x', substr(md5(source), 1, 8)) AS BIGINT)
                  % 3
                WHEN 0 THEN 250 WHEN 1 THEN 125 ELSE 50 END AS BIGINT) AS centi,
              CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 100 AS b
            FROM $docsRel),
          c39 AS (
            SELECT doc_id,
              centi // 100 + CASE WHEN b < centi % 100 THEN 1 ELSE 0 END
                AS n_copies
            FROM e39),
          x39 AS (
            SELECT doc_id,
              CAST(unnest(range(1, CAST(n_copies AS INT) + 1)) AS INT)
                AS copy_idx
            FROM c39 WHERE n_copies > 0),
          cp39 AS (
            SELECT x.doc_id, x.copy_idx,
              CAST(concat('0x', substr(md5(concat(CAST(x.doc_id AS VARCHAR),
                ':', CAST(x.copy_idx AS VARCHAR))), 1, 8)) AS BIGINT)
                AS ord_key,
              CAST(concat('0x', substr(md5(concat('sh',
                CAST(x.doc_id AS VARCHAR), ':',
                CAST(x.copy_idx AS VARCHAR))), 1, 8)) AS BIGINT) % 8 AS shard,
              CAST(coalesce(n.len, 0) AS BIGINT) AS len
            FROM x39 x LEFT JOIN len39 n ON x.doc_id = n.doc_id),
          cb39 AS (
            SELECT doc_id, copy_idx, shard, len,
              sum(len + 1) OVER (PARTITION BY shard
                ORDER BY ord_key ASC, doc_id ASC, copy_idx ASC
                ROWS UNBOUNDED PRECEDING) - (len + 1) AS base
            FROM cp39),
          st39 AS (
            SELECT c.shard, c.base + i.tokidx AS gpos,
              CAST(i.token_id AS BIGINT) AS tid
            FROM cb39 c JOIN i39 i ON c.doc_id = i.doc_id
            UNION ALL
            SELECT shard, base + len AS gpos, CAST(0 AS BIGINT) AS tid
            FROM cb39)
          -- CAST win to BIGINT: cb39's windowed sum(len + 1) promotes to
          -- HUGEINT in DuckDB, and the promotion rides base -> gpos ->
          -- gpos // W. Spark emits BIGINT; the driver hash is
          -- type-sensitive, so the widths must match exactly.
          SELECT shard, CAST(gpos // $W AS BIGINT) AS win,
            CAST(sum(CASE WHEN tid <> 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_real,
            CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sep,
            CAST($W - count(*) AS BIGINT) AS n_pad,
            -- Tie order PINNED (gpos % W, tid) to match Spark's
            -- array_sort(struct(slot, tid)) bit-for-bit, and gpos
            -- uniqueness asserted: a slot collision must error loud,
            -- never present as run-to-run nondeterministic agg order.
            CASE WHEN count(*) = count(DISTINCT gpos)
              THEN md5(string_agg(CAST(tid AS VARCHAR), ' '
                  ORDER BY gpos % $W, tid)
                || repeat(' -1', CAST($W - count(*) AS INT)))
              ELSE error('ta39: gpos collision in shard') END AS ids_md5,
            md5(string_agg(CASE WHEN tid = 0 THEN '0' ELSE '1' END, ' '
                ORDER BY gpos % $W, tid)
              || repeat(' 0', CAST($W - count(*) AS INT))) AS mask_md5
          FROM st39 GROUP BY shard, win"""
  }
}
