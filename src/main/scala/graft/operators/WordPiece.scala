package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed WordPiece vocabulary training and application (Schuster &
  * Nakajima, ICASSP 2012; the BERT release's tokenization.py, Devlin et
  * al. 2019) — the THIRD production tokenizer family next to BPE
  * ([[Bpe]]) and unigram-LM ([[Unigram]]). The reference engine has no
  * tokenizer trainer; this extends the curation surface (SURVEY §2
  * extended scope).
  *
  * TRAINING is BPE-shaped — iterate: count adjacent symbol pairs, pick
  * one, fuse it everywhere — but with two WordPiece-defining changes:
  *
  *  - symbols carry the `##` CONTINUATION prefix (word "abc" starts as
  *    ["a", "##b", "##c"]), and fusing (l, r) strips r's prefix
  *    (("a","##b") → "ab", ("##a","##b") → "##ab");
  *  - the argmax is by LIKELIHOOD score, not raw count: score(l, r) =
  *    pair_count / (count(l) · count(r)) — the pair whose fusion most
  *    increases corpus likelihood under a unigram symbol model (the
  *    published criterion). Scores are compared cross-engine as the
  *    quantized integer `score_q = (pair_count · 10¹²) div
  *    (count(l) · count(r))` in exact decimal arithmetic (ties then
  *    (l, r) ASC) — the [[Unigram]] loss-delta discipline: one
  *    deterministic total order both engines compute bit-identically,
  *    quantization reordering only pairs whose true scores agree to
  *    10⁻¹² (the published trainer compares float64 scores, which is
  *    not a cross-engine contract at all).
  *
  * Pre-tokenization is the BERT BasicTokenizer convention
  * ([[TextFunctions.bertTokens]]): lowercase, punctuation chars and CJK
  * ideographs split out as their own tokens, whitespace split.
  *
  * Distribution shape — [[Bpe]]'s rounds, run by the same
  * [[MergeTrainer]]: the corpus-sized work is the ONE-TIME distinct-word
  * hash-agg; each round then pays TWO map-side-combinable aggregations
  * over the word table (adjacent-pair counts AND unigram symbol counts —
  * the score's denominator needs the marginals, the one extra pass
  * WordPiece costs over BPE), a symbol-table-bounded broadcast-join
  * between them, and a top-candidates collect.
  *
  * APPLY is NOT merge replay: WordPiece encodes by greedy
  * longest-match-first against the vocabulary SET
  * ([[graft.functions.WordPieceEncode]] — one reference-object
  * expression, constant plan size at any vocabulary size), with the
  * whole word collapsing to `[UNK]` when any position has no match (the
  * BERT WordpieceTokenizer rule). The vocabulary is the training
  * alphabet plus every fused piece in rank order.
  *
  * Oracle twin: the DuckDB mirror unrolls the SAME training rounds as
  * chained CTEs with a HUGEINT score (M5Queries `frag.wpCtes`) and the
  * greedy matcher as per-position unrolled longest-prefix joins
  * (`frag.wpEncodeCtes`) — exact equality end-to-end.
  */
object WordPiece {

  /** The score quantization scale (10¹²) — ONE constant threaded into
    * the Spark trainer and the oracle CTEs.
    */
  val ScoreScale = 1000000000000L

  /** Corpus-weighted word table over BERT basic tokens: (word, cnt,
    * syms) with syms the WordPiece start-vs-continuation symbol
    * sequence (first code point bare, the rest `##`-prefixed).
    */
  private def wordTable(docs: DataFrame): DataFrame = {
    val w = col("word")
    val syms = when(length(w) > 1,
        concat(array(substring(w, 1, 1)),
          transform(split(expr("substring(word, 2)"), ""),
            c => concat(lit("##"), c))))
      .otherwise(array(w))
    docs.select(explode(TextFunctions.bertTokens(col("text"))).as("word"))
      .groupBy(w).agg(count(lit(1)).as("cnt"))
      .select(w, col("cnt"), syms.as("syms"))
  }

  /** Unigram symbol counts — the score's marginals; symbol-table-sized
    * output from one map-side-combinable pass.
    */
  private def symCounts(words: DataFrame): DataFrame =
    words.select(col("cnt"), explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("cnt")).as("sc"))

  private def stripCont(s: String): String =
    if (s.startsWith("##")) s.substring(2) else s

  /** WordPiece's candidate order: pair counts joined to both marginals,
    * then (score_q DESC, l, r). The join is symbol-table-sized on both
    * sides (pairs × marginals) — broadcast-or-hash per AQE, never
    * corpus-sized; the decimal arithmetic keeps pair·10¹² and the
    * marginal product exact at any corpus scale (int64 would wrap past
    * ~9·10⁶ pair occurrences).
    */
  private def byScore(words: DataFrame): DataFrame = {
    val uc = symCounts(words)
    MergeTrainer.pairCounts(words)
      .join(uc.select(col("sym").as("l"), col("sc").as("lc")), Seq("l"))
      .join(uc.select(col("sym").as("r"), col("sc").as("rc")), Seq("r"))
      .withColumn("score_q", expr(
        s"CAST((CAST(c AS DECIMAL(20,0)) * CAST($ScoreScale AS DECIMAL(13,0))) " +
          "div (CAST(lc AS DECIMAL(19,0)) * CAST(rc AS DECIMAL(19,0))) AS BIGINT)"))
      .orderBy(col("score_q").desc, col("l"), col("r"))
  }

  /** Train `numMerges` WordPiece merges. Output: one row per merge —
    * (rank, left, right, fused, pair_count, score_q), rank 0-based in
    * training order. Raises when the corpus runs out of pairs (silent
    * truncation would desynchronize the oracle twin).
    */
  def trainWordPiece(docs: DataFrame, numMerges: Int): DataFrame =
    trainAndVocab(docs, numMerges)._1

  /** [[trainWordPiece]] AND the frozen vocabulary from ONE corpus scan:
    * [[trainBatchedAndVocab]] at `batchSize = 1`, one merge per round.
    * Returns (merge table, vocabulary in alphabet-then-rank order) — the
    * vocabulary is byte-identical to
    * `vocabOf(docs, trainWordPiece(docs, numMerges))` (spec-pinned).
    */
  def trainAndVocab(docs: DataFrame, numMerges: Int): (DataFrame, Seq[String]) = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val (trained, vocab) = trainBatchedAndVocab(docs, numMerges, 1)
    (trained.drop("round"), vocab)
  }

  /** The sorted distinct symbol set of a word table — alphabet-bounded
    * driver state (the model-metadata collect discipline).
    */
  private def alphabetOf(words: DataFrame): Seq[String] =
    words.select(explode(col("syms")).as("p")).distinct()
      .orderBy(col("p")).collect().map(_.getString(0)).toSeq

  /** VOCABULARY-SCALE WordPiece training: up to `batchSize` merges per
    * Spark round (O(vocab / batchSize) rounds instead of the sequential
    * trainer's O(vocab)). The rounds are [[MergeTrainer]]'s, over the
    * likelihood order (score_q DESC, (l, r) ASC — ONE pair-count and ONE
    * marginal aggregation per round) with `l + stripCont(r)` as the
    * fused symbol. The recorded score_q is the score at the round's
    * START (the marginals of later selections in a round are not
    * refreshed by earlier ones — the standard parallel-trainer
    * compromise, exactly [[Bpe.trainMergesBatched]]'s contract;
    * `batchSize = 1` is [[trainWordPiece]], spec-pinned).
    *
    * Output: (rank, round, left, right, fused, pair_count, score_q).
    */
  def trainWordPieceBatched(docs: DataFrame, rounds: Int, batchSize: Int,
      candidateCap: Int = 0): DataFrame =
    trainBatchedAndVocab(docs, rounds, batchSize, candidateCap)._1

  /** [[trainWordPieceBatched]] AND the frozen vocabulary from ONE corpus
    * scan: the trainer's initial word table is checkpointed anyway, so
    * the alphabet (the vocabulary's base layer) reads from it instead of
    * a second full-corpus distinct-word pass — [[vocabOf]] re-runs
    * `wordTable(docs)`, paying the corpus scan twice per train+apply
    * chain.
    */
  def trainBatchedAndVocab(docs: DataFrame, rounds: Int, batchSize: Int,
      candidateCap: Int = 0): (DataFrame, Seq[String]) = {
    val cap = MergeTrainer.candidateCap(rounds, batchSize, candidateCap)
    val words = wordTable(docs).localCheckpoint()
    val alphabet = alphabetOf(words)
    val merges = MergeTrainer.train(MergeTrainer.Words(words), rounds,
      batchSize, cap, 0, byScore, (l, r) => l + stripCont(r))
    val trained = docs.sparkSession.createDataFrame(merges.map(m =>
        (m.rank, m.round, m.left, m.right, m.fused,
          m.counts.getAs[Long]("c"), m.counts.getAs[Long]("score_q"))))
      .toDF("rank", "round", "left", "right", "fused", "pair_count", "score_q")
    (trained, (alphabet ++ merges.map(_.fused)).distinct)
  }

  /** The trained VOCABULARY as driver state: the training alphabet
    * (every symbol of the initial word table — alphabet-bounded, the
    * model-metadata collect discipline) plus every fused piece in rank
    * order, deduped order-preserving (two merges can fuse to the same
    * string via different splits).
    */
  def vocabOf(docs: DataFrame, trained: DataFrame): Seq[String] = {
    val alphabet = wordTable(docs)
      .select(explode(col("syms")).as("p")).distinct()
      .orderBy(col("p")).collect().map(_.getString(0)).toSeq
    val fused = trained.orderBy(col("rank")).select(col("fused"))
      .collect().map(_.getString(0)).toSeq
    (alphabet ++ fused).distinct
  }

  /** The EMIT step — the per-document WordPiece token stream under a
    * frozen vocabulary: one [[graft.functions.WordPieceEncode]]
    * reference-object expression per row, exploded to (doc_id, pos,
    * token), pos 1-based per document. Entirely narrow — a pure map
    * stage at 100 TB, like [[Bpe.encodeTokens]].
    */
  def encodeTokens(docs: DataFrame, vocab: Seq[String],
      unk: String = "[UNK]"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val enc = toColumn(graft.functions.WordPieceEncode(
      toExpression(col("text")), vocab, unk))
    docs.select(col("doc_id"), posexplode(enc).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("token"))
  }

  /** The BERT PRETRAINING EXAMPLE BUILDER (Devlin et al. 2019 §3 — the
    * assembly step `create_pretraining_data.py` performs): each
    * [[Curation.nspPairs]] row (A, B, is_next) becomes the token stream
    * `[CLS] A-pieces [SEP] B-pieces [SEP]` with SEGMENT ids (token_type
    * 0 through the first [SEP] inclusive, 1 after — the published
    * convention), both sentences encoded by the frozen WordPiece
    * vocabulary. Special tokens are injected STRUCTURALLY (array
    * concat), never through the text path — the basic tokenizer would
    * split `[CLS]` into `[ cls ]`.
    *
    * Output: (doc_id, sent_idx, pos, token, token_type, is_next) —
    * (doc_id, sent_idx) is the pair key (the A sentence's coordinates),
    * pos 1-based within the example.
    *
    * Plan shape: ENTIRELY NARROW — two [[graft.functions
    * .WordPieceEncode]] reference-object calls per pair row, array
    * concat, posexplode; no join, no shuffle (the pair stream already
    * paid NSP's exchanges).
    *
    * `maxSeqLength` > 0 adds `truncate_seq_pair` (the published
    * create_pretraining_data.py rule): while the assembled length
    * `len(A) + len(B) + 3` exceeds the cap, trim ONE piece from the
    * LONGER side (ties trim B — `tokens_a if len(a) > len(b) else
    * tokens_b` verbatim), from the FRONT or BACK of that side by a
    * fair draw. The published builder draws `rng.random() < 0.5`; here
    * the draw is HASH-DETERMINISTIC (the [[Bpe.mlmMask]] discipline):
    * trim step i of pair (d, s) trims the front iff
    * `rolling_hash(d:s:i) % 2 == 0`. The whole loop is ONE `aggregate`
    * HOF over `sequence(1, n_trims)` carrying four running trim
    * counters — still entirely narrow, no trim-side data movement.
    * `maxSeqLength = 0` (default) keeps the unbounded behavior;
    * otherwise it must be ≥ 5 (the published invariant: the longer
    * side is always ≥ 2 when a trim fires, so both sides stay
    * non-empty — below [CLS] a [SEP] b [SEP] = 5 the loop could not
    * terminate).
    */
  def bertExamples(pairs: DataFrame, vocab: Seq[String],
      cls: String = "[CLS]", sep: String = "[SEP]",
      unk: String = "[UNK]", maxSeqLength: Int = 0): DataFrame = {
    require(maxSeqLength == 0 || maxSeqLength >= 5,
      s"maxSeqLength must be 0 (unbounded) or >= 5, got $maxSeqLength")
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    def enc(c: String) =
      toColumn(graft.functions.WordPieceEncode(toExpression(col(c)), vocab, unk))
    val staged0 = pairs.select(col("doc_id"), col("sent_idx"), col("is_next"),
      enc("a").as("ta"), enc("b").as("tb"))
    val staged = if (maxSeqLength == 0) staged0 else {
      val la = size(col("ta")).cast("long")
      val lb = size(col("tb")).cast("long")
      // the whole while-loop is ONE native pass
      // ([[graft.functions.TruncTrimFold]] — same counters, same
      // hash-deterministic draws via the rolling-hash prefix identity,
      // bit-identical to the aggregate-over-sequence HOF spelling it
      // replaces, which paid an n-element array build + an interpreted
      // four-counter struct rebuild + a full string hash per trim step)
      val folded = graft.functions.TruncTrimFold.trunc_trim_fold(
        concat_ws(":", col("doc_id"), col("sent_idx")), la, lb, maxSeqLength)
      staged0.withColumn("_tr", folded)
        .select(col("doc_id"), col("sent_idx"), col("is_next"),
          slice(col("ta"), (col("_tr.fa") + 1).cast("int"),
            (la - col("_tr.fa") - col("_tr.ba")).cast("int")).as("ta"),
          slice(col("tb"), (col("_tr.fb") + 1).cast("int"),
            (lb - col("_tr.fb") - col("_tr.bb")).cast("int")).as("tb"))
    }
    staged
      .select(col("doc_id"), col("sent_idx"), col("is_next"),
        (size(col("ta")) + 2).as("bnd"),
        posexplode(concat(array(lit(cls)), col("ta"), array(lit(sep)),
          col("tb"), array(lit(sep)))).as(Seq("pos0", "token")))
      .select(col("doc_id"), col("sent_idx"), (col("pos0") + 1).as("pos"),
        col("token"),
        when(col("pos0") + 1 <= col("bnd"), 0L).otherwise(1L).as("token_type"),
        col("is_next"))
  }

  /** WHOLE-WORD MASKING (the BERT release's `do_whole_word_mask`
    * variant — [[Bpe.mlmMask]]'s word-granular sibling): selection is
    * keyed at the WORD level, so a selected word masks ALL its pieces
    * together (the per-piece mask leaks the word's length and
    * boundaries; wwm removes that shortcut). Words are the maximal
    * `head, ##cont, ##cont…` runs of the WordPiece stream (a piece is
    * a head iff it lacks the continuation prefix — `[UNK]` is its own
    * word). Hash-determinism (the [[Bpe.mlmMask]] discipline):
    *
    *  - the word draw is `h_w = rolling_hash(doc_id : word_ord)` —
    *    selected iff `h_w % 100 < selPct` (word_ord = the word's
    *    1-based ordinal in the document, a per-doc running head count);
    *  - the 80/10/10 branch stays PER POSITION
    *    (`h_p = rolling_hash(doc_id : pos : token)` — the reference
    *    implementation draws per masked index even under wwm).
    *
    * Output: (doc_id, pos, input_token, label, masked) — the
    * [[Bpe.mlmMask]] contract; `masked` is word-uniform by
    * construction.
    *
    * Plan shape: one per-doc window for the running head count
    * (millions of small groups), then narrow arithmetic + the broadcast
    * dictionary join — no corpus shuffle beyond the word-ordinal
    * window.
    *
    * `specials`: tokens NEVER selected ([CLS]/[SEP] on an assembled
    * example stream — the published builder's `continue` on special
    * tokens; a special is always its own word, so the per-position
    * exclusion is exactly the word-level rule).
    *
    * `maxPerSeq` > 0 adds the `max_predictions_per_seq` cap: at most
    * `min(maxPerSeq, ⌈selPct·len/100⌉)` PIECES masked per document
    * (len = the document's token count, specials included — the
    * published `num_to_predict`). Selected words are visited in
    * selection-hash order (`(hw, word_ord)` — the deterministic stand-
    * in for the published shuffled candidate order) and a word whose
    * piece count would overflow the budget is SKIPPED and the scan
    * CONTINUES (`len(masked_lms) + len(index_set) > num_to_predict:
    * continue` — a later smaller word can still fit). The scan is a
    * per-document `aggregate` HOF over the doc-bounded selected-word
    * list; the extra plan cost is one more doc-keyed aggregation pair
    * on the already-doc-hashed stream.
    */
  def wwmMask(stream: DataFrame, vocab: DataFrame,
      maskToken: String = "[MASK]", selPct: Int = 15,
      contPrefix: String = "##", specials: Seq[String] = Nil,
      maxPerSeq: Int = 0): DataFrame = {
    require(selPct >= 1 && selPct <= 100,
      s"selPct must be in [1, 100], got $selPct")
    require(maxPerSeq >= 0, s"maxPerSeq must be >= 0, got $maxPerSeq")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val vsize = vocab.agg(count(lit(1)).as("vsize"))
    val notSpecial =
      if (specials.isEmpty) lit(true) else !col("token").isin(specials: _*)
    val hashed = stream
      .crossJoin(broadcast(vsize))
      .withColumn("word_ord", sum(
        when(col("token").startsWith(contPrefix), 0L).otherwise(1L)).over(w))
      .withColumn("hw", TextFunctions.rollingHash(
        concat_ws(":", col("doc_id"), col("word_ord"))))
      .withColumn("hp", TextFunctions.rollingHash(
        concat_ws(":", col("doc_id"), col("pos"), col("token"))))
      .withColumn("sel0", col("hw") % 100 < selPct && notSpecial)
    val selected = if (maxPerSeq == 0) hashed.withColumn("sel", col("sel0"))
    else {
      // words grouped on (doc_id, word_ord) — the stream is already
      // doc-hashed by the word-ordinal window, so neither this nor the
      // per-doc fold re-exchanges the corpus; sel0 is word-constant
      // (hw keys on (doc, word_ord); a special is a whole word)
      val kept = hashed
        .groupBy(col("doc_id"), col("word_ord"))
        .agg(count(lit(1)).as("np"), first(col("hw")).as("whw"),
          first(col("sel0")).as("wsel"))
        .groupBy(col("doc_id"))
        .agg(sum(col("np")).as("_len"),
          sort_array(collect_list(when(col("wsel"),
            struct(col("whw").as("hw"), col("word_ord").as("wo"),
              col("np").as("np"))))).as("_cands"))
        .withColumn("_cap", least(lit(maxPerSeq.toLong),
          expr(s"($selPct * _len + 99) div 100")))
        .withColumn("_kept", aggregate(col("_cands"),
          struct(lit(0L).as("u"), array().cast("array<long>").as("k")),
          (acc, x) => when(acc("u") + x("np") <= col("_cap"),
            struct((acc("u") + x("np")).as("u"),
              concat(acc("k"), array(x("wo"))).as("k"))).otherwise(acc)))
        .select(col("doc_id"), explode(col("_kept.k")).as("word_ord"),
          lit(true).as("_wsel"))
      hashed.join(kept, Seq("doc_id", "word_ord"), "left")
        .withColumn("sel", coalesce(col("_wsel"), lit(false)))
    }
    selected
      .withColumn("b", expr("(hp div 100) % 10"))
      .withColumn("rid", expr("(hp div 1000) % vsize"))
      .join(broadcast(vocab.select(col("token_id").as("rid"),
        col("token").as("rtok"))), Seq("rid"), "left")
      .select(col("doc_id"), col("pos"),
        when(!col("sel"), col("token"))
          .when(col("b") < 8, lit(maskToken))
          .when(col("b") === 8, col("rtok"))
          .otherwise(col("token")).as("input_token"),
        when(col("sel"), col("token")).as("label"),
        col("sel").as("masked"))
  }

  /** DETOKENIZATION ROUNDTRIP — the WordPiece sibling of the unigram
    * metaspace roundtrip ([[Unigram]]): encode under the frozen
    * vocabulary, then reconstruct the basic-tokenized text by stripping
    * the `##` continuation prefix and joining pieces back into words
    * (heads open a word, continuations append — the inverse of the
    * greedy matcher's emission convention). A word that collapsed to
    * `unk` reconstructs as the literal `unk` string, so
    * `matches_basic` is false exactly on documents with out-of-alphabet
    * words — the roundtrip gate carries its own failure witness.
    *
    * Output: (doc_id, detok, matches_basic) with `detok` the
    * space-joined reconstruction and `matches_basic` its equality with
    * the space-joined [[TextFunctions.bertTokens]] stream.
    *
    * Plan shape: ENTIRELY NARROW — one [[graft.functions
    * .WordPieceEncode]] call + one `aggregate` fold per row; the
    * piece→word regrouping never leaves the un-exploded array, so no
    * shuffle touches the corpus.
    */
  def detokenize(docs: DataFrame, vocab: Seq[String],
      unk: String = "[UNK]", contPrefix: String = "##"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val enc = toColumn(graft.functions.WordPieceEncode(
      toExpression(col("text")), vocab, unk))
    val words = aggregate(enc, array().cast("array<string>"), (acc, t) =>
      when(t.startsWith(contPrefix) && size(acc) > 0,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1),
            t.substr(lit(contPrefix.length + 1), length(t))))))
        .otherwise(concat(acc, array(t))))
    docs
      .select(col("doc_id"), array_join(words, " ").as("detok"),
        array_join(TextFunctions.bertTokens(col("text")), " ").as("_bt"))
      .select(col("doc_id"), col("detok"),
        (col("detok") === col("_bt")).as("matches_basic"))
  }

  /** UNK-rate report by corpus slice — the WordPiece-family vocabulary-
    * coverage signal ([[Bpe.oovReport]]'s sibling at the whole-word
    * granularity the UNK rule creates): per source, document / token /
    * UNK counts and `unk_ppm = (10⁶ · n_unk) div n_tokens` (0 for a
    * tokenless slice). Entirely narrow until one source-keyed
    * aggregation: the UNK count per document is `size(filter(tokens))`
    * on the un-exploded encode array — the stream never shuffles.
    */
  def unkBySource(docs: DataFrame, vocab: Seq[String],
      unk: String = "[UNK]"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val enc = toColumn(graft.functions.WordPieceEncode(
      toExpression(col("text")), vocab, unk))
    docs.select(col("source"), enc.as("tk"))
      .select(col("source"), size(col("tk")).cast("long").as("nt"),
        size(filter(col("tk"), t => t === lit(unk))).cast("long").as("nu"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("nu")).as("n_unk"))
      .withColumn("unk_ppm",
        when(col("n_tokens") > 0, expr("(1000000 * n_unk) div n_tokens"))
          .otherwise(lit(0L)))
  }
}
