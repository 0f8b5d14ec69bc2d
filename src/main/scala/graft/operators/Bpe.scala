package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding vocabulary training (Sennrich,
  * Haddow, Birch, ACL 2016) — the tokenizer-construction step of a
  * training-data pipeline. The reference engine has no tokenizer
  * trainer; this extends the curation surface (SURVEY §2 extended
  * scope) next to the BPE-ish token COUNTER the text-analysis family
  * already carries.
  *
  * Algorithm: words (whitespace tokens, corpus-weighted) start as
  * character sequences; `numMerges` times, count adjacent symbol pairs
  * weighted by word frequency, pick the most frequent pair (ties to the
  * lexicographically smaller (left, right)), and merge it greedily
  * left-to-right in every word. The merge table IS the tokenizer.
  *
  * Distribution shape — the k-means-training discipline
  * ([[Similarity]]): the corpus-sized work per iteration is ONE
  * map-side-combinable pair-count aggregation over the word table
  * (itself the one-time token hash-agg of the corpus — at 100 TB the
  * distinct-word table is millions of rows, not corpus-sized); the only
  * driver state is the top candidate pairs per iteration (a few rows)
  * and the accumulated merge table (`numMerges` rows). The per-word merge
  * rewrite is a narrow HOF fold; the rounds, folds and lineage cuts are
  * [[MergeTrainer]]'s, shared with [[WordPiece]].
  *
  * Determinism: counts are exact integers; the argmax tie rule is a
  * total order; greedy left-to-right merging is order-free per word —
  * so the merge table is partitioning- and arrival-order-independent.
  *
  * Oracle twin: the DuckDB mirror unrolls the SAME iterations as chained
  * CTEs (the `kmeansCtes` house pattern), with the per-word rewrite as a
  * `list_reduce` fold over a separator-encoded symbol string — exact
  * string equality end-to-end (M5Queries `frag.bpeCtes` /
  * `frag.bpeBatchCtes` / `frag.bpeEncodeCtes`).
  *
  * The family spans the whole tokenizer lifecycle, each step
  * oracle-gated: TRAIN ([[trainMerges]] sequential,
  * [[trainMergesBatched]] vocabulary-scale), APPLY ([[segmentStats]]
  * fold spelling, [[segmentStatsFrozen]] constant-plan-size
  * expression), EMIT ([[encodeTokens]] token stream, [[vocabulary]] +
  * [[tokenIds]] integer feed, [[tokenWindows]] GPT-style windowing).
  */
object Bpe {

  /** Corpus-weighted word table: (word, cnt, syms) with syms the
    * single-character symbol sequence. `unitTokens = 1` is classic
    * word-internal BPE (Sennrich); `unitTokens = n > 1` makes the unit a
    * space-joined word n-gram whose interior space is an ordinary
    * symbol, so merges can cross word boundaries inside the unit — the
    * SentencePiece-style whitespace-inclusive regime, and the one that
    * gives a small-vocabulary corpus enough pair diversity to train a
    * deep merge table (the driver fixtures hold only 31 distinct words
    * ≈ 89 trainable word-internal merges before total fusion; the
    * 2-gram unit space is ~916 units / ~9k symbols).
    *
    * `byteLevel = true` switches the SYMBOL alphabet from code points
    * to GPT-2 byte units ([[graft.functions.ByteUnitsOps]]): each
    * distinct word is byte-unit pre-encoded, then split per unit (one
    * symbol per raw UTF-8 byte). Unsegmented scripts (CJK, Thai)
    * decompose into trainable 3-byte triples instead of riding the
    * whitespace tokenizer as opaque whole-sentence symbols, and every
    * possible input is representable over the fixed 256-unit alphabet
    * — no `<unk>`, ever. The encode is applied AFTER the distinct-word
    * hash-agg (the bijection is injective, so grouping raw words first
    * groups unit words exactly), keeping the corpus-sized pass free of
    * the mapping.
    */
  private def wordTable(docs: DataFrame, unitTokens: Int = 1,
      byteLevel: Boolean = false, pretok: Boolean = false): DataFrame = {
    require(!(byteLevel && unitTokens != 1),
      "byteLevel applies to word-level units only (unitTokens = 1)")
    // pretok = the GPT-2 pre-split ([[TextFunctions.gpt2Pretokens]]):
    // case-preserving regex pieces with the leading space ATTACHED to
    // the following word — which only round-trips when the space is an
    // ordinary trainable symbol, i.e. at byteLevel (Ġ = unit of 0x20)
    require(!pretok || byteLevel,
      "pretok requires byteLevel (the Ġ space convention lives in the unit alphabet)")
    val toks =
      if (pretok) TextFunctions.gpt2Pretokens(col("text"))
      else TextFunctions.tokens(col("text"))
    val units = if (unitTokens == 1) toks else TextFunctions.shingles(toks, unitTokens)
    val w = if (byteLevel) graft.functions.ByteUnits.byte_units(col("word"))
            else col("word")
    docs.select(explode(units).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(w.as("word"), col("cnt"), split(w, "").as("syms"))
  }

  /** One greedy left-to-right merge of (l, r) in a symbol array — the
    * [[MergeTrainer.fuseBatch]] scan for one pair, as [[segmentStats]]
    * applies a frozen table inside `transform`.
    */
  private def mergeFold(syms: org.apache.spark.sql.Column, l: String, r: String) =
    aggregate(syms, array().cast("array<string>"), (acc, ch) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && ch === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(ch))))

  /** BPE's candidate order: pair count DESC, then (l, r) ASC. */
  private def byCount(words: DataFrame): DataFrame =
    MergeTrainer.pairCounts(words).orderBy(col("c").desc, col("l"), col("r"))

  /** Run the [[MergeTrainer]] rounds over `words` and emit (rank, round,
    * left, right, pair_count).
    */
  private def trained(words: MergeTrainer.Words, rounds: Int, batchSize: Int,
      cap: Int, firstRank: Int): DataFrame = {
    val merges = MergeTrainer.train(words, rounds, batchSize, cap, firstRank,
      byCount, _ + _)
    words.df.sparkSession.createDataFrame(merges.map(m =>
        (m.rank, m.round, m.left, m.right, m.counts.getAs[Long]("c"))))
      .toDF("rank", "round", "left", "right", "pair_count")
  }

  /** Train `numMerges` merges over the corpus: [[trainMergesBatched]] at
    * `batchSize = 1`, one merge per round. Output: one row per merge,
    * (rank, left, right, pair_count), rank 0-based in training order.
    * Requires the corpus to support `numMerges` non-empty pair counts
    * (a degenerate corpus that runs dry raises — silent truncation
    * would desynchronize the oracle twin).
    */
  def trainMerges(docs: DataFrame, numMerges: Int,
      byteLevel: Boolean = false, pretok: Boolean = false): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    trainMergesBatched(docs, numMerges, 1, byteLevel = byteLevel, pretok = pretok)
      .drop("round")
  }

  /** WARM-START training — EXTEND a frozen merge table with
    * `extraMerges` further merges trained on `docs` (the
    * domain-adaptation move: a base tokenizer grows vocabulary on a new
    * corpus without retraining from characters). The prior table is
    * folded first, one merge at a time in rank order under the
    * [[MergeTrainer.FoldCheckpointEvery]] cut (so a prior of any depth
    * analyzes), then the [[MergeTrainer]] rounds continue at
    * `batchSize = 1`. Because BPE training is greedy-sequential,
    * extending on the SAME corpus the prior was trained on is exactly
    * the longer run's suffix (`extendMerges(docs, first k of
    * trainMerges(docs, n), n−k) ≡ rows k..n−1 of trainMerges(docs, n)`
    * — BpeSpec pins it, and the oracle gates the composition as the
    * long chain's tail). Output ranks continue after the prior
    * (`prior.length`-based).
    */
  def extendMerges(docs: DataFrame, prior: Seq[(String, String)],
      extraMerges: Int): DataFrame = {
    require(extraMerges >= 1, s"extraMerges must be >= 1, got $extraMerges")
    val words = prior.foldLeft(MergeTrainer.Words(wordTable(docs).localCheckpoint())) {
      case (w, (l, r)) => w.fold(Seq((l, r, l + r)))
    }
    trained(words, extraMerges, 1, MergeTrainer.candidateCap(extraMerges, 1, 0),
      prior.length).drop("round")
  }

  /** Vocabulary-scale training: up to `batchSize` merges per Spark round
    * instead of one — the round-count goes from O(vocab) sequential jobs
    * (unusable at a real 32k–64k vocabulary) to O(vocab / batchSize).
    * The rounds are [[MergeTrainer]]'s, over BPE's order (count DESC,
    * (l, r) ASC) with `l + r` as the fused symbol; the top
    * `candidateCap` candidates (default `4 · batchSize`) enter each
    * round's greedy first-fit. The scan is a linear recursion, which
    * the oracle twin mirrors exactly as a one-row-per-candidate
    * RECURSIVE CTE carrying the used list (no set-based spelling
    * exists: greedy acceptance depends on prior ACCEPTANCES, not mere
    * rank). Consequences:
    *  - `batchSize = 1` IS [[trainMerges]] (BpeSpec pins it on the
    *    shared corpus);
    *  - on corpora where merges never interact (e.g. two-symbol words),
    *    batched training ≡ sequential training outright (BpeSpec);
    *    in general the batch trades exact Sennrich sequence fidelity
    *    for O(K) fewer rounds — the standard parallel-BPE compromise,
    *    and every recorded pair_count is still the true count at its
    *    round's start.
    *
    * Output: (rank, round, left, right, pair_count) — rank 0-based in
    * global selection order, `round` the Spark round that selected it.
    * A round always selects ≥ 1 pair, so `rounds` rounds train between
    * `rounds` and `rounds·batchSize` merges; a corpus that runs dry
    * raises, like [[trainMerges]].
    */
  def trainMergesBatched(docs: DataFrame, rounds: Int, batchSize: Int,
      candidateCap: Int = 0, unitTokens: Int = 1,
      byteLevel: Boolean = false, pretok: Boolean = false): DataFrame = {
    val cap = MergeTrainer.candidateCap(rounds, batchSize, candidateCap)
    trained(MergeTrainer.Words(wordTable(docs, unitTokens, byteLevel, pretok).localCheckpoint()),
      rounds, batchSize, cap, 0)
  }

  /** Segment a corpus with a TRAINED merge table: apply the merges in
    * rank order to every word and report per-document token counts —
    * the tokenizer-fertility report (chars per token / tokens per word)
    * that decides whether a vocabulary fits a corpus. The merge table
    * rides the plan as chained narrow folds (bounded by the table the
    * caller trained); documents never shuffle — the output is a narrow
    * projection.
    *
    * Output: (doc_id, n_words, n_tokens) — whitespace words and BPE
    * tokens after all merges; fertility (tokens per word) is their
    * ratio. (Total character count is merge-invariant — BpeSpec pins
    * that conservation property — so it is not a useful column.)
    */
  def segmentStats(docs: DataFrame, merges: Seq[(String, String)],
      byteLevel: Boolean = false, pretok: Boolean = false): DataFrame = {
    require(!pretok || byteLevel,
      "pretok requires byteLevel (the Ġ space convention lives in the unit alphabet)")
    val toks =
      if (pretok) TextFunctions.gpt2Pretokens(col("text"))
      else TextFunctions.tokens(col("text"))
    val unit: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (byteLevel) graft.functions.ByteUnits.byte_units else identity
    val seg0 = transform(toks, w => split(unit(w), ""))
    val merged = merges.foldLeft(seg0) { case (cur, (l, r)) =>
      transform(cur, syms => mergeFold(syms, l, r))
    }
    docs.select(col("doc_id"), merged.as("seg"))
      .select(col("doc_id"),
        size(col("seg")).cast("long").as("n_words"),
        coalesce(aggregate(col("seg"), lit(0L), (acc, s) => acc + size(s)),
          lit(0L)).as("n_tokens"))
  }

  /** [[segmentStats]] with the merge table applied by ONE
    * reference-object expression ([[graft.functions.BpeSegmentStats]])
    * instead of `merges.length` chained HOF folds — the apply-side
    * scale path: the fold spelling's expression tree grows linearly in
    * the merge count, and the limit is MEASURED, not estimated
    * (FOLDDEPTH_r13.json; SCALE.md, round 13, sf0.1): at 64
    * merges the fold plan FAILS ANALYSIS outright under default confs
    * (`Max iterations (100) reached for batch Resolution` — the nested
    * HOF tree exceeds the analyzer's fixed-point budget) and costs
    * 145–222 s with the cap raised (past 180 s by 1024 merges), while
    * this one-node plan reads 0.5–2 s at the same depths and 13.9 s at
    * a production 32k (per-row work is linear in table depth for ANY
    * applier; the plan cost is what the reference object removes).
    * Output-identical to [[segmentStats]] on every input (BpeSpec
    * property-pins it, random overlapping tables included), so the
    * existing oracle gates both spellings.
    */
  def segmentStatsFrozen(docs: DataFrame, merges: Seq[(String, String)],
      byteLevel: Boolean = false, pretok: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val st = toColumn(graft.functions.BpeSegmentStats(toExpression(col("text")),
      merges, byteLevel, pretok))
    docs.select(col("doc_id"), st.as("st"))
      .select(col("doc_id"), col("st.n_words").as("n_words"),
        // tokenless docs mirror segmentStats' coalesce-at-0
        coalesce(col("st.n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** The EMIT step — the per-document BPE token stream under a frozen
    * merge table, the actual pretraining data-prep output the fertility
    * report only summarizes: one [[graft.functions.BpeEncode]]
    * reference-object expression per row (constant plan size like
    * [[segmentStatsFrozen]]) exploded to (doc_id, pos, token), pos the
    * 1-based position in the document's token sequence (word order,
    * then within-word symbol order). Entirely narrow — at 100 TB this
    * is a pure map stage feeding the packing/sharding operators; ids
    * are a vocabulary dictionary join away by design (the vocabulary is
    * corpus state, not expression state).
    */
  def encodeTokens(docs: DataFrame, merges: Seq[(String, String)],
      byteLevel: Boolean = false, pretok: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val enc = toColumn(graft.functions.BpeEncode(toExpression(col("text")),
      merges, byteLevel, pretok))
    docs.select(col("doc_id"), posexplode(enc).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("token"))
  }

  /** Tokenizer FERTILITY REPORT by corpus slice — tokens-per-word
    * (fertility) per `source`, the tokenizer-evaluation statistic
    * pipelines watch per domain/language slice (a slice whose fertility
    * is far above the corpus mean is one the vocabulary under-serves —
    * the standard signal for rebalancing tokenizer training data).
    * Output per source: (source, n_docs, n_words, n_tokens, fert_q)
    * with `fert_q = (scale·n_tokens) div n_words` (0 for a wordless
    * slice) — integer-exact cross-engine.
    *
    * Plan shape: one [[graft.functions.BpeSegmentStats]]
    * reference-object call per row (constant plan size at any merge
    * table depth), then ONE map-side-combinable aggregation keyed on
    * `source` — output bounded by the source cardinality. At 100 TB:
    * a pure map stage plus a tiny shuffle.
    */
  def fertilityBySource(docs: DataFrame, merges: Seq[(String, String)],
      scale: Long = 10000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val st = toColumn(graft.functions.BpeSegmentStats(toExpression(col("text")), merges))
    docs.select(col("source"), st.as("st"))
      .select(col("source"), col("st.n_words").as("nw"),
        coalesce(col("st.n_tokens"), lit(0L)).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("nt")).as("n_tokens"))
      .withColumn("fert_q",
        when(col("n_words") > 0, expr(s"($scale * n_tokens) div n_words"))
          .otherwise(lit(0L)))
  }

  /** FILL-IN-THE-MIDDLE transform (Bavarian et al., arXiv:2207.14255
    * §2 — "FIM-for-free": reorder a fraction of documents into
    * [PRE] prefix [SUF] suffix [MID] middle so an autoregressive model
    * learns infilling; PSM layout, sentinels appended as ordinary
    * tokens). Selection and split points must be reproducible
    * cross-engine, so the paper's random draws are replaced by
    * hash-determinism on the DOCUMENT TEXT (content-keyed like the
    * paper's per-example coin, stable under re-partitioning and
    * re-runs): with `h` the rolling hash of the raw text and `n` the
    * encoded token count,
    *
    *  - FIM applies iff `h % 2 == 0` (the paper's 50% rate),
    *  - prefix length `i1 = h % (n+1)`, middle end
    *    `i2 = i1 + (h div 7) % (n − i1 + 1)` — both uniform-ish over
    *    the valid range, both exact int64 arithmetic.
    *
    * A FIM'd document emits `<fim_pre> tk[1..i1] <fim_suf>
    * tk[i2+1..n] <fim_mid> tk[i1+1..i2]` (n+3 tokens); a non-FIM
    * document emits its stream unchanged. Output: (doc_id, pos, token,
    * fim) — same (doc_id, pos, token) contract as [[encodeTokens]], so
    * the result feeds [[tokenWindows]]/[[Curation]] unchanged.
    *
    * Plan shape: ENTIRELY NARROW — one [[graft.functions.BpeEncode]]
    * reference-object call per row, array slicing/concat, posexplode;
    * no join, no shuffle, no per-doc regrouping (the array never leaves
    * the row until the final explode). At 100 TB this is a pure map
    * stage, the cheapest possible spelling of the operator.
    */
  def fimTransform(docs: DataFrame, merges: Seq[(String, String)],
      preToken: String = "<fim_pre>", sufToken: String = "<fim_suf>",
      midToken: String = "<fim_mid>"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val enc = toColumn(graft.functions.BpeEncode(toExpression(col("text")), merges))
    docs.select(col("doc_id"),
        coalesce(enc, array().cast("array<string>")).as("tk"),
        coalesce(graft.functions.TextFunctions.rollingHash(col("text")), lit(0L)).as("h"))
      .withColumn("n", size(col("tk")).cast("long"))
      .withColumn("i1", col("h") % (col("n") + 1))
      .withColumn("i2", col("i1") + expr("(h div 7) % (n - i1 + 1)"))
      .withColumn("fim", col("h") % 2 === 0)
      .withColumn("ot", when(col("fim"), concat(
          array(lit(preToken)), slice(col("tk"), lit(1), col("i1").cast("int")),
          array(lit(sufToken)),
          slice(col("tk"), (col("i2") + 1).cast("int"), (col("n") - col("i2")).cast("int")),
          array(lit(midToken)),
          slice(col("tk"), (col("i1") + 1).cast("int"), (col("i2") - col("i1")).cast("int"))))
        .otherwise(col("tk")))
      .select(col("doc_id"), col("fim"), posexplode(col("ot")).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("token"), col("fim"))
  }

  /** BPE-DROPOUT (Provilkov, Emelianenko & Voita, ACL 2020 — subword
    * regularization for BPE: randomly skipping merges at apply time
    * exposes the model to multiple segmentations of the same word,
    * which the paper shows improves translation robustness): the
    * [[encodeTokens]] emit step with merge rank `m` SKIPPED for a word
    * iff `rolling_hash(word:m:epoch) % dropMod == 0` — the paper's
    * per-merge-operation coin made hash-deterministic (the
    * [[fimTransform]] discipline) at the (word, merge-rank, epoch)
    * granularity: every occurrence of a word segments identically
    * within an epoch (reproducible under re-partitioning and re-runs),
    * while the `epoch` key re-draws the coins — the across-epochs
    * segmentation diversity the regularizer exists for.
    * `dropMod = 10` is the paper's recommended p = 0.1.
    *
    * Same (doc_id, pos, token) contract and ENTIRELY NARROW plan as
    * [[encodeTokens]] (one reference-object expression per row);
    * dropping merges never changes the concatenated character stream —
    * only the cut points (BpeSpec pins conservation).
    */
  def encodeTokensDropout(docs: DataFrame, merges: Seq[(String, String)],
      dropMod: Int = 10, epoch: Int = 0, byteLevel: Boolean = false,
      pretok: Boolean = false): DataFrame = {
    require(dropMod >= 2, s"dropMod must be >= 2 (1 would drop every merge), got $dropMod")
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val enc = toColumn(graft.functions.BpeEncode(toExpression(col("text")),
      merges, byteLevel, pretok, dropMod, epoch))
    docs.select(col("doc_id"), posexplode(enc).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("token"))
  }

  /** T5-STYLE SPAN CORRUPTION (Raffel et al., JMLR 2020 §3.1.4 — the
    * denoising pretraining objective's data prep; [[fimTransform]]'s
    * sibling): mask contiguous token spans with numbered sentinels,
    * emitting the INPUT stream (unmasked tokens + one `<extra_id_k>`
    * per span) and the TARGET stream (each span's sentinel followed by
    * the tokens it hid). The paper's random span draws are replaced by
    * hash-determinism (the [[fimTransform]] discipline — reproducible
    * under re-partitioning and re-runs): the token stream is cut into
    * `blockSize`-token blocks, and block `b` of a document with text
    * hash `h` corrupts offsets `[s, min(s+len, blockEnd))` where
    * `s = (h + b) % (blockSize − 2)` and
    * `len = 1 + (h div 7 + b) % 3` — a span starts only if `s` lands
    * inside the block, so corruption density is ≈ 2/blockSize·100% with
    * span lengths 1–3 (T5's ~15% at mean 3 ⇒ the default
    * `blockSize = 10` sits at the paper's operating point). Sentinel
    * numbering `k` is the 0-based span ordinal within the document.
    *
    * Output: (doc_id, stream, pos, token), `stream ∈ {input, target}`,
    * `pos` dense 1-based per (doc, stream); documents with no tokens
    * emit nothing, a document with no corrupted span emits its
    * unchanged stream as `input` and an empty `target`.
    *
    * Plan shape: the flags (`block`, span membership, span start) are
    * narrow arithmetic on the encoded stream; sentinel ordinals and
    * both streams' dense positions are window functions over ONE
    * `doc_id`-keyed exchange (per-doc groups — millions of small
    * partitions at scale, the [[LanguageModel]] adjacency discipline);
    * the flagged frame is a [[SharedBranch]] feeding both stream
    * projections.
    */
  def spanCorruption(docs: DataFrame, merges: Seq[(String, String)],
      blockSize: Int = 10, sentinelPrefix: String = "<extra_id_"): DataFrame = {
    require(blockSize >= 3, s"blockSize must be >= 3 (span start draws from blockSize - 2), got $blockSize")
    val enc = encodeTokens(docs, merges)
    val hashes = docs.select(col("doc_id"),
      coalesce(TextFunctions.rollingHash(col("text")), lit(0L)).as("h"))
    // flags are pure arithmetic on (j, h); the join keys the stream to
    // its doc hash — doc_id equi-join, AQE picks the strategy
    val flagged0 = enc.join(hashes, Seq("doc_id"))
      .withColumn("j", col("pos").cast("long") - 1)
      .withColumn("b", expr(s"j div $blockSize"))
      .withColumn("off", expr(s"j % $blockSize"))
      .withColumn("s", expr(s"(h + b) % (${blockSize - 2})"))
      .withColumn("ln", expr("1 + ((h div 7) + b) % 3"))
      .withColumn("corr", col("off") >= col("s") && col("off") < col("s") + col("ln"))
      .withColumn("start", col("off") === col("s"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("j"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = SharedBranch.sharedBranch(flagged0
      .withColumn("k", sum(col("start").cast("long")).over(w) - 1))
    val sentinel = concat(lit(sentinelPrefix), col("k"), lit(">"))
    val wIn = Window.partitionBy(col("doc_id")).orderBy(col("j"))
    val input = flagged.filter(!col("corr") || col("start"))
      .select(col("doc_id"), lit("input").as("stream"),
        row_number().over(wIn).as("pos"),
        when(col("start"), sentinel).otherwise(col("token")).as("token"))
    // target ordering: the sentinel row precedes its span's tokens —
    // key 2j for the start row's sentinel, 2j+1 for each hidden token
    val wTg = Window.partitionBy(col("doc_id")).orderBy(col("tkey"))
    val target = flagged.filter(col("corr"))
      .select(col("doc_id"), col("j"), col("k"), col("token"), col("start"))
      .withColumn("rows", when(col("start"),
          array(struct((col("j") * 2).as("tkey"), sentinel.as("tok")),
            struct((col("j") * 2 + 1).as("tkey"), col("token").as("tok"))))
        .otherwise(array(struct((col("j") * 2 + 1).as("tkey"), col("token").as("tok")))))
      .select(col("doc_id"), explode(col("rows")).as("r"))
      .select(col("doc_id"), col("r.tkey").as("tkey"), col("r.tok").as("token"))
      .select(col("doc_id"), lit("target").as("stream"),
        row_number().over(wTg).as("pos"), col("token"))
    input.unionByName(target)
  }

  /** UL2 MIXTURE-OF-DENOISERS (Tay et al., arXiv:2205.05131 §3.1 — the
    * R/S/X denoiser mixture that unifies span corruption and prefix-LM
    * pretraining; [[spanCorruption]]'s generalization): each document
    * draws ONE denoiser hash-deterministically — `d = h % 4` with
    * `h = rolling_hash(text)` — weighted toward the regular denoiser
    * (0,1 → R, 2 → X, 3 → S, the paper's mixture leans on R), is
    * corrupted under that denoiser's parameters, and its input stream
    * leads with the paradigm token (`[R]`/`[X]`/`[S]` at pos 1 — the
    * paper's mode prompt, which the fine-tuned model is conditioned
    * on):
    *
    *  - '''R (regular)''': exactly [[spanCorruption]]'s arithmetic —
    *    10-token blocks, span start `s = (h + b) % 8`, length
    *    `1 + (h div 7 + b) % 3` (T5's ~15–20% density at mean 2);
    *  - '''X (extreme)''': 16-token blocks, span lengths 6–8 via
    *    `6 + (h div 7 + b) % 3`, same start draw (`s + len ≤ 15 < 16`
    *    — spans never cross blocks): ≈ 44% corruption, the paper's
    *    long-span/high-rate regime;
    *  - '''S (sequential)''': prefix-LM as the degenerate one-span
    *    corruption — pivot `p = h % n` over the n-token stream, the
    *    suffix `[p, n)` hidden behind the single sentinel
    *    `<extra_id_0>`; the target is the sentinel + suffix.
    *
    * The paper's random draws are replaced by hash-determinism (the
    * [[fimTransform]] discipline — reproducible under re-partitioning
    * and re-runs).
    *
    * Output: (doc_id, denoiser, stream, pos, token),
    * `stream ∈ {input, target}`, `pos` dense 1-based per (doc, stream)
    * with the paradigm token always at input pos 1; documents with no
    * tokens emit nothing; an R/X document whose short stream dodges
    * every span draw emits its unchanged stream (after the paradigm
    * token) as `input` and an empty `target` — S documents always
    * corrupt (`p ≤ n − 1`).
    *
    * Plan shape: [[spanCorruption]]'s exactly — the denoiser draw,
    * block flags and pivot are narrow arithmetic on the encoded
    * stream; the per-doc token count `n` (the S pivot's modulus), the
    * sentinel ordinals and both streams' dense positions are window
    * functions over ONE `doc_id`-keyed exchange (per-doc groups —
    * millions of small partitions at scale); the flagged frame is a
    * [[SharedBranch]] feeding the paradigm-row, input and target
    * projections.
    */
  def ul2Denoisers(docs: DataFrame, merges: Seq[(String, String)],
      sentinelPrefix: String = "<extra_id_"): DataFrame = {
    val enc = encodeTokens(docs, merges)
    val hashes = docs.select(col("doc_id"),
      coalesce(TextFunctions.rollingHash(col("text")), lit(0L)).as("h"))
    val wAll = Window.partitionBy(col("doc_id"))
    val flagged0 = enc.join(hashes, Seq("doc_id"))
      .withColumn("j", col("pos").cast("long") - 1)
      .withColumn("d", expr("h % 4"))
      .withColumn("denoiser",
        when(col("d") <= 1, lit("[R]"))
          .when(col("d") === 2, lit("[X]")).otherwise(lit("[S]")))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("bs", when(col("d") === 2, lit(16L)).otherwise(lit(10L)))
      .withColumn("b", expr("j div bs"))
      .withColumn("off", expr("j % bs"))
      .withColumn("s", expr("(h + b) % 8"))
      .withColumn("ln",
        when(col("d") === 2, lit(6L)).otherwise(lit(1L))
          + expr("((h div 7) + b) % 3"))
      .withColumn("p", expr("h % n"))
      .withColumn("corr",
        when(col("d") === 3, col("j") >= col("p"))
          .otherwise(col("off") >= col("s") && col("off") < col("s") + col("ln")))
      .withColumn("start",
        when(col("d") === 3, col("j") === col("p"))
          .otherwise(col("off") === col("s")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("j"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = SharedBranch.sharedBranch(flagged0
      .withColumn("k", sum(col("start").cast("long")).over(w) - 1))
    val sentinel = concat(lit(sentinelPrefix), col("k"), lit(">"))
    val wIn = Window.partitionBy(col("doc_id")).orderBy(col("j"))
    // the paradigm token: one row per non-empty doc at input pos 1
    val modeRows = flagged.filter(col("j") === 0)
      .select(col("doc_id"), col("denoiser"), lit("input").as("stream"),
        lit(1).as("pos"), col("denoiser").as("token"))
    val input = flagged.filter(!col("corr") || col("start"))
      .select(col("doc_id"), col("denoiser"), lit("input").as("stream"),
        (row_number().over(wIn) + 1).as("pos"),
        when(col("start"), sentinel).otherwise(col("token")).as("token"))
    val wTg = Window.partitionBy(col("doc_id")).orderBy(col("tkey"))
    val target = flagged.filter(col("corr"))
      .select(col("doc_id"), col("denoiser"), col("j"), col("k"),
        col("token"), col("start"))
      .withColumn("rows", when(col("start"),
          array(struct((col("j") * 2).as("tkey"), sentinel.as("tok")),
            struct((col("j") * 2 + 1).as("tkey"), col("token").as("tok"))))
        .otherwise(array(struct((col("j") * 2 + 1).as("tkey"), col("token").as("tok")))))
      .select(col("doc_id"), col("denoiser"), explode(col("rows")).as("r"))
      .select(col("doc_id"), col("denoiser"), col("r.tkey").as("tkey"),
        col("r.tok").as("token"))
      .select(col("doc_id"), col("denoiser"), lit("target").as("stream"),
        row_number().over(wTg).as("pos"), col("token"))
    modeRows.unionByName(input).unionByName(target)
  }

  /** BERT-STYLE MLM MASKING (Devlin et al., NAACL 2019 §3.1 — the
    * masked-language-model objective's data prep; [[fimTransform]] /
    * [[spanCorruption]]'s sibling): select ~15% of token positions; of
    * those, 80% are replaced by `[MASK]`, 10% by a random vocabulary
    * token, 10% kept unchanged — the label is always the original
    * token. The paper's random draws are replaced by hash-determinism
    * (the [[fimTransform]] discipline — reproducible under
    * re-partitioning and re-runs), keyed on (doc_id, pos, token) so
    * each POSITION draws independently: with
    * `h = rolling_hash(doc_id : pos : token)` (non-negative by
    * construction, mod 10⁹+7),
    *
    *  - the position is selected iff `h % 100 < selPct` (default 15),
    *  - the branch is `b = (h div 100) % 10`: b < 8 → `[MASK]`,
    *    b = 8 → the vocabulary token with
    *    `token_id = (h div 1000) % |V|`, b = 9 → kept.
    *
    * Tokenizer-agnostic: `stream` is any (doc_id, pos, token) stream
    * (BPE [[encodeTokens]], [[WordPiece.encodeTokens]], unigram), and
    * `vocab` a [[vocabulary]]-shaped (token_id, token) table.
    *
    * Output: (doc_id, pos, input_token, label, masked) — `label` is the
    * original token on selected rows, NULL otherwise (the training
    * loss's ignore convention).
    *
    * Plan shape: ENTIRELY NARROW on the corpus — the vocabulary size is
    * a broadcast 1-row aggregate and the random-replacement lookup is a
    * broadcast dictionary join (model metadata, bounded by
    * construction); no corpus shuffle.
    *
    * `maxPerSeq` > 0 adds the published `max_predictions_per_seq` cap:
    * at most `min(maxPerSeq, ⌈selPct·len/100⌉)` positions masked per
    * document (len = the document's token count, specials included —
    * the published `num_to_predict`; the ceiling keeps the ≥ 1 floor
    * for any non-empty document, spelled as exact integer arithmetic
    * instead of the builder's float round). When the hash selection
    * overshoots, the kept positions are the cap-many FIRST in
    * selection-hash order (`(h, pos)` — the deterministic stand-in for
    * the published shuffled candidate order); overflow positions
    * revert to unmasked. The cap costs one per-doc window pair
    * (millions of small groups) — the default 0 keeps the windowless
    * narrow plan.
    *
    * `epochSeed` implements RoBERTa-style DYNAMIC MASKING (Liu et al.
    * 2019 §4.1): a set seed joins the selection/branch hash key
    * (`seed : doc : pos : token`), so each epoch draws a fresh,
    * reproducible mask over the same stream; `None` (default) keeps
    * the un-seeded key.
    */
  def mlmMask(stream: DataFrame, vocab: DataFrame,
      maskToken: String = "[MASK]", selPct: Int = 15,
      specials: Seq[String] = Nil, maxPerSeq: Int = 0,
      epochSeed: Option[Int] = None,
      carryCols: Seq[String] = Nil): DataFrame = {
    // `carryCols`: extra input columns threaded through to the output
    // UNCHANGED (the mask is row-preserving and keyed on (doc_id, pos,
    // token) only) — callers that need per-position metadata alongside
    // the mask (q_bert_tensors' token_type/is_next) carry it here
    // instead of re-joining the example stream on (doc_id, pos), which
    // re-exchanged the whole corpus for columns the stream already had
    // (guide §2.4)
    // `specials`: tokens NEVER selected for masking ([CLS]/[SEP] in the
    // BERT example builder — create_pretraining_data.py's rule); the
    // default keeps the plain-stream behavior
    require(selPct >= 1 && selPct <= 100,
      s"selPct must be in [1, 100], got $selPct")
    require(maxPerSeq >= 0, s"maxPerSeq must be >= 0, got $maxPerSeq")
    val vsize = vocab.agg(count(lit(1)).as("vsize"))
    val notSpecial =
      if (specials.isEmpty) lit(true) else !col("token").isin(specials: _*)
    val key = epochSeed match {
      case Some(e) => concat_ws(":", lit(e), col("doc_id"), col("pos"), col("token"))
      case None => concat_ws(":", col("doc_id"), col("pos"), col("token"))
    }
    val drawn = stream
      .crossJoin(broadcast(vsize))
      .withColumn("h", TextFunctions.rollingHash(key))
      .withColumn("sel0", col("h") % 100 < selPct && notSpecial)
    val capped = if (maxPerSeq == 0) drawn.withColumn("sel", col("sel0"))
    else {
      val wDoc = Window.partitionBy(col("doc_id"))
      drawn
        .withColumn("_len", count(lit(1)).over(wDoc))
        .withColumn("_rk", row_number().over(
          wDoc.orderBy(col("sel0").desc, col("h"), col("pos"))))
        .withColumn("sel", col("sel0") && col("_rk") <= least(
          lit(maxPerSeq.toLong), expr(s"($selPct * _len + 99) div 100")))
    }
    val hashed = capped
      .withColumn("b", expr("(h div 100) % 10"))
      .withColumn("rid", expr("(h div 1000) % vsize"))
    hashed
      .join(broadcast(vocab.select(col("token_id").as("rid"),
        col("token").as("rtok"))), Seq("rid"), "left")
      .select(Seq(col("doc_id"), col("pos"),
        when(!col("sel"), col("token"))
          .when(col("b") < 8, lit(maskToken))
          .when(col("b") === 8, col("rtok"))
          .otherwise(col("token")).as("input_token"),
        when(col("sel"), col("token")).as("label"),
        col("sel").as("masked")) ++ carryCols.map(col): _*)
  }

  /** ELECTRA-style REPLACED-TOKEN-DETECTION corruption (Clark et al.,
    * ICLR 2020 — the discriminator's data prep): ~`selPct`% of
    * positions have their token REPLACED by a plausible alternative
    * and every position is labeled `is_replaced` (the RTD objective
    * trains on ALL positions, unlike MLM's 15%). The paper's generator
    * network is stood in for by the [[mlmMask]] hash dictionary draw
    * (`token_id = (h div 1000) % |V|` — the same broadcast lookup),
    * keeping the transform deterministic and oracle-exact. The
    * published labeling subtlety is kept: when the draw happens to
    * produce the ORIGINAL token, the position is labeled NOT replaced
    * ("if the generator generates the correct token, that token is
    * considered 'real'" — §2).
    *
    * Output: (doc_id, pos, input_token, is_replaced).
    *
    * Plan shape: [[mlmMask]]'s exactly — narrow + the broadcast 1-row
    * vocab size + the broadcast dictionary join; no corpus shuffle.
    */
  def rtdCorrupt(stream: DataFrame, vocab: DataFrame, selPct: Int = 15,
      specials: Seq[String] = Nil): DataFrame = {
    require(selPct >= 1 && selPct <= 100,
      s"selPct must be in [1, 100], got $selPct")
    val vsize = vocab.agg(count(lit(1)).as("vsize"))
    val notSpecial =
      if (specials.isEmpty) lit(true) else !col("token").isin(specials: _*)
    stream
      .crossJoin(broadcast(vsize))
      .withColumn("h", TextFunctions.rollingHash(
        concat_ws(":", col("doc_id"), col("pos"), col("token"))))
      .withColumn("sel", col("h") % 100 < selPct && notSpecial)
      .withColumn("rid", expr("(h div 1000) % vsize"))
      .join(broadcast(vocab.select(col("token_id").as("rid"),
        col("token").as("rtok"))), Seq("rid"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("sel"), col("rtok")).otherwise(col("token"))
          .as("input_token"),
        (col("sel") && col("rtok") =!= col("token")).as("is_replaced"))
  }

  /** The VOCABULARY of an encoded corpus: one row per distinct token
    * with its corpus frequency and a dense 0-based `token_id` assigned
    * by frequency rank (count DESC, token ASC ties — deterministic).
    * The rank is a range-partitioned [[PrefixSum]] over the
    * vocabulary-sized count table (bounded by the merge table + corpus
    * alphabet, never corpus-sized), not a single-partition window.
    * Output: (token_id, token, n_occ).
    */
  def vocabulary(encoded: DataFrame): DataFrame = {
    val counts = encoded.groupBy(col("token")).agg(count(lit(1)).as("n_occ"))
    PrefixSum.inclusive(counts.withColumn("_one", lit(1L)),
        Seq(col("n_occ").desc, col("token")), col("_one"), "rk")
      .select((col("rk") - 1).as("token_id"), col("token"), col("n_occ"))
  }

  /** The ID STREAM — [[encodeTokens]]' output joined to a
    * [[vocabulary]]: (doc_id, pos, token_id), the integer tensor feed.
    * The vocabulary broadcasts (it is model metadata, bounded by
    * construction); the token stream stays narrow — no shuffle touches
    * the corpus. A token absent from the vocabulary (possible only when
    * the vocab was frozen from a DIFFERENT corpus) is dropped by the
    * inner join — callers wanting loud OOV handling join left and
    * assert on nulls.
    */
  def tokenIds(encoded: DataFrame, vocab: DataFrame): DataFrame =
    encoded.join(broadcast(vocab.select(col("token"), col("token_id"))), Seq("token"))
      .select(col("doc_id"), col("pos"), col("token_id"))

  /** HELD-OUT OOV REPORT — the tokenizer-evaluation metric a frozen
    * vocabulary is judged by: per document of the SCORE stream, how
    * many of its tokens are absent from the frozen `vocab`
    * (`oov_ppm = (10⁶·n_oov) div n_tokens`, 0 for tokenless docs).
    * Freeze the vocabulary from one corpus ([[vocabulary]] over the
    * train half), score another — a high OOV share is the signal the
    * vocabulary under-serves that slice (the [[fertilityBySource]]
    * sibling, absence- rather than length-based).
    *
    * Plan shape: the vocabulary broadcasts (model metadata, bounded by
    * construction); the score stream pays one `doc_id`-keyed hash
    * aggregation. `docIds` keeps every scored document in the report
    * (tokenless → all-zero row), the LEFT-join-at-0 house discipline.
    */
  def oovReport(scored: DataFrame, vocab: DataFrame,
      docIds: DataFrame): DataFrame = {
    val agg = scored
      .join(broadcast(vocab.select(col("token")).withColumn("inv", lit(1))),
        Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
    docIds.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_ppm",
        when(col("n_tokens") > 0, expr("(1000000 * n_oov) div n_tokens"))
          .otherwise(lit(0L)))
  }

  /** GPT-style TOKEN WINDOWING — the last prep step before tensors:
    * documents are concatenated in (doc_id) order with an `eodToken`
    * separator after each one (empty documents contribute just their
    * separator), and the resulting global stream is split every
    * `windowSize` tokens, documents crossing window boundaries freely
    * (the pretraining convention; the document-RESPECTING alternative
    * is [[Curation.packWindows]]' bin packing). The global position is
    * a range-partitioned [[PrefixSum]] over (doc_id, pos) — the one
    * corpus-sized ordered pass, no single-partition window; window id
    * and offset are then narrow integer arithmetic.
    *
    * Output: (doc_id, pos, token, win_id, off) — every window holds
    * exactly `windowSize` tokens except the last; `off` is 0-based
    * within the window.
    */
  def tokenWindows(docs: DataFrame, merges: Seq[(String, String)],
      windowSize: Int, eodToken: String = "<eod>",
      byteLevel: Boolean = false, pretok: Boolean = false): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    globalTokenStream(docs, merges, eodToken, byteLevel, pretok)
      .select(col("doc_id"), col("pos"), col("token"),
        expr(s"(gpos - 1) div $windowSize").as("win_id"),
        expr(s"(gpos - 1) % $windowSize").as("off"))
  }

  /** The shared windowing input: the EOD-separated corpus-global token
    * stream with its 1-based global position `gpos` — documents
    * concatenated in (doc_id) order, an `eodToken` row after each
    * (empty documents contribute just their separator). The global
    * position is a range-partitioned [[PrefixSum]] over (doc_id, pos)
    * — the one corpus-sized ordered pass; every windowing variant is
    * narrow arithmetic (or a bounded explode) on top.
    */
  private def globalTokenStream(docs: DataFrame,
      merges: Seq[(String, String)], eodToken: String,
      byteLevel: Boolean = false, pretok: Boolean = false): DataFrame =
    globalStreamOf(
      SharedBranch.sharedBranch(encodeTokens(docs, merges, byteLevel, pretok)),
      docs.select(col("doc_id")), eodToken)

  /** TOKENIZER-AGNOSTIC form of the windowing input: `stream` is ANY
    * (doc_id, pos, token) token stream (BPE [[encodeTokens]], unigram
    * [[Unigram.encodePieces]], or a pre-tokenized table), `docIds` the
    * one-column frame of ALL document ids (so tokenless documents still
    * contribute their EOD separator). The stream feeds the per-doc
    * length lookup AND the union — callers pass it already persisted
    * ([[SharedBranch]]) when it is not a cheap re-read.
    */
  private[operators] def globalStreamOf(stream: DataFrame,
      docIds: DataFrame, eodToken: String): DataFrame = {
    val lens = docIds
      .join(stream.groupBy(col("doc_id")).agg(max(col("pos")).as("mp")),
        Seq("doc_id"), "left")
    val eod = lens.select(col("doc_id"),
      (coalesce(col("mp"), lit(0)) + 1).as("pos"), lit(eodToken).as("token"))
    PrefixSum.inclusive(
      stream.select(col("doc_id"), col("pos"), col("token"))
        .unionByName(eod).withColumn("_one", lit(1L)),
      Seq(col("doc_id"), col("pos")), col("_one"), "gpos")
  }

  /** [[tokenWindows]] over an ARBITRARY pre-built token stream — the
    * tokenizer-agnostic windowing face (the unigram/SentencePiece
    * sibling feeds [[Unigram.encodePieces]] through here; so would any
    * externally-tokenized corpus). Same output contract and the same
    * single-PrefixSum cost as the BPE spelling.
    */
  def tokenWindowsOf(stream: DataFrame, docIds: DataFrame,
      windowSize: Int, eodToken: String = "<eod>"): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    globalStreamOf(SharedBranch.sharedBranch(stream), docIds, eodToken)
      .select(col("doc_id"), col("pos"), col("token"),
        expr(s"(gpos - 1) div $windowSize").as("win_id"),
        expr(s"(gpos - 1) % $windowSize").as("off"))
  }

  /** STRIDED (overlapping) token windows — the LM EVALUATION windowing
    * (GPT-2 §3.1-style strided perplexity: score each token with up to
    * `windowSize − stride` tokens of preceding context by sliding the
    * window `stride` tokens at a time; `stride == windowSize`
    * degenerates to [[tokenWindows]]' disjoint training split, and the
    * spec pins that equality). Window `w` (0-based) covers global
    * 0-based positions `[w·stride, w·stride + windowSize)`, so a token
    * at position p belongs to windows `⌈(p − windowSize + 1) / stride⌉
    * … ⌊p / stride⌋` (clamped at 0) — an explode bounded by
    * ⌈windowSize / stride⌉ rows per token, the hop-window discipline:
    * the blow-up factor is a CONFIG ratio, never data-dependent, and
    * map-side (no shuffle — the global position is the same single
    * [[PrefixSum]] pass as the disjoint spelling).
    *
    * Output: (doc_id, pos, token, win_id, off), `off` the 0-based
    * offset within the window; a token's scoring slot in window
    * ⌊p / stride⌋ is the unique row with `off < stride` (those rows
    * partition the stream — the spec pins it).
    */
  def tokenWindowsStrided(docs: DataFrame, merges: Seq[(String, String)],
      windowSize: Int, stride: Int, eodToken: String = "<eod>"): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    require(stride >= 1 && stride <= windowSize,
      s"stride must be in [1, windowSize=$windowSize], got $stride " +
        "(a stride past the window would silently drop tokens)")
    globalTokenStream(docs, merges, eodToken)
      .select(col("doc_id"), col("pos"), col("token"),
        // w_lo: ceil((p − W + 1)/s) as trunc-div of (p − W + s) — exact
        // whenever the numerator is non-negative, and both sides clamp
        // to 0 when it isn't (p < W ⇒ true w_lo ≤ 0)
        explode(sequence(
          greatest(lit(0L), expr(s"(gpos - 1 - $windowSize + $stride) div $stride")),
          expr(s"(gpos - 1) div $stride"))).as("win_id"),
        col("gpos"))
      .select(col("doc_id"), col("pos"), col("token"), col("win_id"),
        (col("gpos") - 1 - col("win_id") * stride).as("off"))
  }

  /** Document-boundary SEGMENT IDS within token windows — the
    * attention-mask prep step on top of [[tokenWindows]]: when windows
    * cross document boundaries (the pretraining convention), the
    * trainer needs per-window segment ordinals to mask cross-document
    * attention (e.g. GPT-3 §2.1's "distinct documents within a
    * context" masking). `seg` is the 0-based ordinal of the row's
    * document within its window (dense rank over doc_id — documents
    * enter windows in doc_id order by construction).
    *
    * Scale shape: the window partitions by `win_id`, whose groups are
    * bounded by `windowSize` rows — millions of small groups, never a
    * single-task funnel; everything else is narrow.
    */
  def windowSegments(windowed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    windowed.withColumn("seg",
      (dense_rank().over(Window.partitionBy(col("win_id")).orderBy(col("doc_id"))) - 1)
        .cast("long"))
  }

  /** Per-row content fingerprint of a window stream — every exported
    * column participates, so the XOR manifest detects any lost,
    * duplicated, or altered row, not just token-text drift.
    */
  private def windowRowFp: org.apache.spark.sql.Column =
    TextFunctions.rollingHash(concat_ws(" ", col("doc_id"), col("pos"),
      col("token"), col("win_id"), col("off")))

  /** Shard manifest of a token-window stream ([[tokenWindows]] output):
    * windows go to `win_id % nShards` (fixed-size windows make the
    * modulo assignment balanced by construction — no length-packing
    * pass needed, unlike document shards); per shard the window count,
    * row count, and an order-free XOR content signature over per-row
    * fingerprints (the [[Curation.shardManifest]] audit discipline at
    * window granularity). Output: (shard, n_windows, n_tokens,
    * content_sig).
    */
  def windowShardManifest(windowed: DataFrame, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    windowed
      .withColumn("shard", pmod(col("win_id"), lit(nShards.toLong)))
      .withColumn("fp", windowRowFp)
      .groupBy(col("shard"))
      .agg(countDistinct(col("win_id")).as("n_windows"),
        count(lit(1)).as("n_tokens"),
        expr("bit_xor(fp)").as("content_sig"))
  }

  /** Materialize a token-window stream as `nShards` training shards —
    * the tensor-feed EXPORT: one parquet partition directory per
    * shard, rows clustered by (win_id, off) so a shard reader streams
    * whole windows in order. The range exchange on (shard, win_id) is
    * what makes that clustering REAL: ties on the partition keys land
    * in one range partition, so a window is never split across part
    * files and files within a shard directory carry sorted,
    * non-overlapping win_id ranges (a plain sortWithinPartitions would
    * leave each upstream task writing its own file per shard, with a
    * boundary-straddling window split across two files and cross-file
    * order unspecified). One full-data exchange + one write pass —
    * the honest price of an ordered tensor feed.
    */
  def writeWindowShards(windowed: DataFrame, dir: String, nShards: Int): Unit = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    windowed
      .withColumn("shard", pmod(col("win_id"), lit(nShards.toLong)))
      .repartitionByRange(col("shard"), col("win_id"))
      .sortWithinPartitions(col("shard"), col("win_id"), col("off"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
  }

  /** The read-back audit of [[writeWindowShards]]: recompute the
    * manifest FROM THE FILES — signatures from round-tripped rows, not
    * the writer's memory — so equality with
    * [[windowShardManifest]]`(input)` proves the export preserved
    * every window row byte-exactly and the directory layout matches
    * the assignment. (Partition-column inference reads `shard=` back
    * as int; the cast restores the assignment's BIGINT.)
    */
  def windowShardManifestFromDir(spark: SparkSession, dir: String): DataFrame = {
    val back = spark.read.parquet(dir)
    back
      .withColumn("fp", windowRowFp)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(countDistinct(col("win_id")).as("n_windows"),
        count(lit(1)).as("n_tokens"),
        expr("bit_xor(fp)").as("content_sig"))
  }

  /** [[trainMerges]] collected to the (left, right) pairs
    * [[segmentStats]] applies — driver-bounded by numMerges.
    */
  def mergePairs(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy(col("rank")).select(col("left"), col("right")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
}
