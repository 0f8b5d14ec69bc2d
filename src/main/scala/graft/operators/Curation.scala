package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingest and tokenization: PII redaction, eval-set
  * decontamination, context-window packing, repetition statistics. All
  * per-row work is built-in codegen'd expressions; every cross-row step is
  * an explicitly keyed join/aggregation or a distributed prefix sum — no
  * all-pairs, no unpartitioned windows, no driver loops.
  */
object Curation {

  // ---- PII redaction -------------------------------------------------

  /** Detection patterns, deliberately backslash-free (character classes
    * only) so the identical source text works in Java regex (Spark) and
    * RE2 (DuckDB oracle) — `[.]` instead of `\.`, `[0-9]` instead of `\d`.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
  val PhoneRe = "[+][0-9]{7,15}"

  /** Count + redact PII spans. Redaction order is fixed (email, ip,
    * phone); counts are taken on the ORIGINAL text so they are independent
    * of replacement side effects. Purely narrow per-row work.
    */
  def redactPii(df: DataFrame, text: Column): DataFrame = {
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(text, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>")
    df.withColumn("n_emails", size(regexp_extract_all(text, lit(EmailRe), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(text, lit(Ipv4Re), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(text, lit(PhoneRe), lit(0))))
      .withColumn("redacted", redacted)
  }

  // ---- eval-set decontamination --------------------------------------

  /** Flag training documents sharing any word-3-gram shingle with the
    * held-out eval split (doc_id ≡ 0 mod `evalModulus`). The industry-
    * standard n-gram-overlap decontamination check, shaped for scale:
    * shingle hashes explode to (doc, hash) rows, the eval hash set is
    * DISTINCT and small by construction, and the join is keyed on the
    * hash — never all-pairs. No broadcast HINT on the eval side: AQE
    * picks broadcast when the side is actually small (identical plan for
    * the intended regime) but degrades to a shuffle hash join instead of
    * OOMing the driver if someone feeds a large "eval" split — for which
    * [[decontaminateBloom]] is the designed escalation. Zero-overlap docs
    * are kept with n_shared = 0 via the left join so the output
    * enumerates the whole training split.
    *
    * `minShared` is the verdict threshold: a doc is `contaminated` iff it
    * shares at least that many DISTINCT shingles with the eval split. The
    * default 1 is the strict any-overlap detector; pipelines that FILTER
    * on the verdict raise it (a handful of common 3-grams is noise, a
    * run of them is leakage — n_shared is reported either way so the
    * caller can audit the cut).
    */
  def decontaminate(docs: DataFrame, evalModulus: Long = 97L,
      minShared: Long = 1L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // shingle_hashes (the one-pass codegen expression, ≡ the HOF twin's
    // arithmetic) dedups per doc, so (doc_id, sh) arrives unique and the
    // post-join agg is a one-pass count — a countDistinct expansion here
    // would re-pay the dedup the extraction already did
    val hashes = docs.select(col("doc_id"),
      explode(graft.functions.ShingleHashes.shingle_hashes(col("text"), 3)).as("sh"))
    val evalHashes = hashes.filter(pmod(col("doc_id"), lit(evalModulus)) === 0)
      .select(col("sh")).distinct()
    val overlaps = hashes.filter(pmod(col("doc_id"), lit(evalModulus)) =!= 0)
      .join(evalHashes, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
    docs.filter(pmod(col("doc_id"), lit(evalModulus)) =!= 0)
      .select(col("doc_id"))
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_shared"),
        (coalesce(col("n"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** Contamination rate BY SOURCE — [[decontaminate]]'s verdicts folded
    * to the per-source report (which scrape pipeline is leaking the
    * eval split — the question that decides where to fix ingestion, not
    * just which rows to drop): per source, the judged doc count, the
    * contaminated count, and its integer ppm rate. One doc-keyed join
    * returns the source label; the report is |sources| rows.
    *
    * Output: (source, n_docs, n_contaminated, ppm_contaminated).
    */
  def contaminationBySource(docs: DataFrame, evalModulus: Long = 97L,
      minShared: Long = 1L): DataFrame =
    decontaminate(docs, evalModulus, minShared)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("contaminated"), lit(1))).as("n_contaminated"))
      .withColumn("ppm_contaminated",
        expr("(n_contaminated * 1000000) div n_docs"))

  /** Approximate decontamination for the scale where the exact path's
    * broadcast eval-hash set no longer fits: the eval split's shingle
    * hashes go into a Bloom filter (built DISTRIBUTIVELY by
    * `df.stat.bloomFilter` — one aggregation, mergeable sketches), and
    * every training document probes it through a narrow codegen
    * expression ([[graft.functions.BloomContainsCount]]) — no join at
    * all on the training side, where the exact twin pays a hash-keyed
    * join per shingle occurrence.
    *
    * Guarantees (spec-pinned, not oracled — sketch layouts are
    * engine-specific, same policy as `cardinalitiesApprox`):
    * `contaminated` here ⊇ the exact operator's set (no false
    * negatives), and `n_shared_possible` ≥ the exact `n_shared`
    * per document; `fpp` bounds the overshoot.
    */
  def decontaminateBloom(docs: DataFrame, evalModulus: Long = 97L,
      fpp: Double = 0.001): DataFrame = {
    // three consumers of the tokenize+shingle+hash projection (the
    // expected-count job, the filter-build aggregation, the training-side
    // probe scan) — persist so the extraction runs once, not three times
    val hashed = SharedBranch.sharedBranch(docs.select(col("doc_id"),
      graft.functions.ShingleHashes.shingle_hashes(col("text"), 3).as("shs")))
    val evalHashes = hashed.filter(pmod(col("doc_id"), lit(evalModulus)) === 0)
      .select(explode(col("shs")).as("sh")).distinct()
    val expected = math.max(1L, evalHashes.count())
    val bf = evalHashes.stat.bloomFilter("sh", expected, fpp)
    // coalesce: shingleHashes(NULL text) is NULL, and the exact twin
    // reports such docs as n_shared = 0 / contaminated = false via its
    // left join — the documented superset contract must hold row-for-row
    hashed.filter(pmod(col("doc_id"), lit(evalModulus)) =!= 0)
      .select(col("doc_id"),
        coalesce(
          graft.functions.BloomExpressions.bloomContainsCount(col("shs"), bf),
          lit(0L)).as("n_shared_possible"))
      .withColumn("contaminated", col("n_shared_possible") > 0)
  }

  /** Contamination ATTRIBUTION — the triage step after [[decontaminate]]
    * flags a document: WHICH eval document leaked into it? Per
    * contaminated training doc, the eval doc sharing the most distinct
    * shingles (ties → smallest eval doc id). Same hash-keyed join shape
    * as the detector — the (train, eval) pair space is bounded by shared
    * shingles, never train×eval — plus one per-doc ranking window
    * (partitioned by the training doc, never global).
    *
    * Output: (doc_id, eval_doc, n_shared) for contaminated docs only.
    */
  def contaminationAttribution(docs: DataFrame, evalModulus: Long = 97L): DataFrame = {
    // shingle_hashes (one-pass codegen) dedups per doc, so
    // (doc_id, eval_doc, sh) triples arrive unique from the join and a
    // plain count replaces the countDistinct expansion
    val hashes = docs.select(col("doc_id"),
      explode(graft.functions.ShingleHashes.shingle_hashes(col("text"), 3)).as("sh"))
    // broadcast EXPLICITLY: unlike decontaminate's distinct()-aggregated
    // eval side (whose Aggregate gives the planner a small size
    // estimate), this bare projection's size estimate derives from the
    // full corpus scan — left alone the planner can pick the TRAIN
    // explosion as the build side and collect the whole corpus's
    // shingles to the driver (measured 17× on the sf0.1 bench). The
    // eval split is small by definition (the reference-benchmark side),
    // exactly decontaminate's broadcast contract.
    val evalHashes = broadcast(
      hashes.filter(pmod(col("doc_id"), lit(evalModulus)) === 0)
        .select(col("doc_id").as("eval_doc"), col("sh")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_shared").desc, col("eval_doc"))
    hashes.filter(pmod(col("doc_id"), lit(evalModulus)) =!= 0)
      .join(evalHashes, "sh")
      .groupBy(col("doc_id"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("eval_doc"), col("n_shared"))
  }

  /** Unicode normalization — the standard ingest step BEFORE any
    * hash-based dedup: decomposed and precomposed spellings of the same
    * grapheme ("é" as e+◌́ vs U+00E9) must hash identically or near-dup
    * detection silently misses them. NFC canonical composition
    * (UAX #15 — conformant implementations agree bit-for-bit) plus
    * whitespace-run collapse; narrow per-row work, trivially parallel.
    * Output: (doc_id, text_norm, n_raw, n_norm) — the length drop
    * witnesses composition.
    */
  def normalizeText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(graft.functions.NfcNormalize.nfc(col("text")),
        "[ \t\n\f\r]+", " ").as("text_norm"),
      length(col("text")).as("n_raw"),
      length(graft.functions.NfcNormalize.nfc(col("text"))).as("n_norm"))

  // ---- context-window packing ----------------------------------------

  /** Concat-then-chunk packing (the standard pretraining layout): token
    * streams are concatenated in doc_id order and cut every
    * `windowTokens`; each document spans bins
    * floor(start/W) .. floor((start+n−1)/W). The global token offset is a
    * distributed prefix sum ([[PrefixSum]]) — no single-task window, no
    * driver loop; empty documents span no bin (NULL bounds, 0 bins).
    */
  def packContextWindows(docs: DataFrame, windowTokens: Int): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    val counted = docs.select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    val summed = PrefixSum.inclusive(counted, Seq(col("doc_id")), col("n_tokens"), "cum")
    summed
      .withColumn("start_tok", col("cum") - col("n_tokens"))
      // integer `div`, never fp floor: token offsets are non-negative and
      // the cumulative stream can pass 2⁵³ (same house rule as
      // Temporal.rangeJoin's buckets)
      .withColumn("bin_first",
        when(col("n_tokens") > 0, expr(s"start_tok div ${windowTokens.toLong}")))
      .withColumn("bin_last",
        when(col("n_tokens") > 0, expr(s"(cum - 1) div ${windowTokens.toLong}")))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        col("bin_first"), col("bin_last"),
        coalesce(col("bin_last") - col("bin_first") + 1, lit(0L)).as("n_bins"))
  }

  /** LENGTH-BUCKETED doc-respecting sequence packing — the padding-
    * bounded alternative to [[packContextWindows]]' concat-then-cut
    * layout: no document ever crosses a window boundary (what
    * fine-tuning / instruction-tuning batches need — concat-and-cut
    * would truncate examples mid-sequence). True greedy bin packing
    * (first-fit decreasing) is a sequential scan with a non-associative
    * carry — un-distributable; the production-grade distributed
    * spelling is LENGTH BUCKETING (the sequence-bucketing discipline of
    * NMT batch builders): round each doc's token count up to a power of
    * two (`bucket`), pack `capacity = max(1, windowTokens div bucket)`
    * same-bucket docs per window, so per-window padding waste is
    * bounded by half the window (every resident fills > bucket/2 of its
    * bucket slot) and the whole assignment is rank arithmetic.
    * Documents LONGER than the window land in the single overflow
    * bucket (`2·windowTokens`) at capacity 1 — flagged for the chunker,
    * never silently truncated; tokenless docs pack nothing and are
    * dropped.
    *
    * Output: (doc_id, n_tokens, bucket, win, slot) — `win` 0-based
    * within the bucket, `slot` 0-based within the window; window
    * identity is the (bucket, win) pair.
    *
    * Plan shape: token counting is narrow; the within-bucket rank is
    * ONE range-partitioned [[PrefixSum]] over (bucket, doc_id) with the
    * per-bucket start offsets (≤ log₂ W + 2 rows) broadcast back —
    * NEVER a `Window.partitionBy(bucket)` (≤ 10 buckets would funnel
    * the corpus through ≤ 10 tasks); everything after is narrow integer
    * arithmetic. `windowTokens` must be a power of two so the bucket
    * ladder lands exactly on it.
    */
  def lengthBucketedPack(docs: DataFrame, windowTokens: Int): DataFrame = {
    require(windowTokens >= 1 && (windowTokens & (windowTokens - 1)) == 0,
      s"windowTokens must be a positive power of two, got $windowTokens")
    val ladder = Iterator.iterate(1L)(_ * 2)
      .takeWhile(_ <= windowTokens).toSeq
    val counted = docs.select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val bucket = ladder.foldRight(lit(2L * windowTokens): Column) {
      (p, acc) => when(col("n_tokens") <= p, lit(p)).otherwise(acc)
    }
    val ranked = PrefixSum.inclusive(
      counted.withColumn("bucket", bucket).withColumn("_one", lit(1L)),
      Seq(col("bucket"), col("doc_id")), col("_one"), "grk")
    val offs = ranked.groupBy(col("bucket")).agg(min(col("grk")).as("b0"))
    ranked.join(broadcast(offs), Seq("bucket"))
      .withColumn("rk", col("grk") - col("b0"))
      .withColumn("cap", greatest(lit(1L), expr(s"$windowTokens div bucket")))
      .select(col("doc_id"), col("n_tokens"), col("bucket"),
        expr("rk div cap").as("win"), expr("rk % cap").as("slot"))
  }

  /** Per-bucket FILL report over [[lengthBucketedPack]] — the packing
    * auditor: window count, resident docs/tokens, and the integer fill
    * rate `fill_ppm = (10⁶·n_tokens) div (n_windows·windowTokens)`
    * (the overflow bucket can exceed 10⁶ — capacity-1 windows holding
    * docs longer than the window; every other bucket is ≤ 10⁶ and
    * > 5·10⁵ by the half-full guarantee when its windows are full).
    * Output bounded by the bucket ladder (≤ log₂ W + 2 rows).
    */
  def lengthBucketedFill(docs: DataFrame, windowTokens: Int): DataFrame =
    lengthBucketedPack(docs, windowTokens)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        (max(col("win")) + 1).as("n_windows"))
      .withColumn("fill_ppm",
        expr(s"(1000000 * n_tokens) div (n_windows * $windowTokens)"))

  /** INVERSE CLOZE TASK pairs (Lee, Chang & Toutanova, ACL 2019 §3.2 —
    * ORQA's retrieval pretraining objective, the standard dense-
    * retriever data prep): one sentence of the passage becomes the
    * pseudo-QUERY, the remaining sentences the positive CONTEXT; 10%
    * of the time the query sentence stays IN the context (the paper's
    * rule — the retriever must also learn lexical overlap, not only
    * abstraction). The paper's draws are hash-deterministic here (the
    * [[graft.operators.Bpe.fimTransform]] discipline): with
    * `h = rolling_hash(text)`, the query index is `h % n` over the n
    * kept sentences and the keep-in-context coin is
    * `(h div 7) % 10 == 0`.
    *
    * Sentences split at `[.!?]+` + whitespace ([[sentenceChunks]]'s
    * lookbehind-free pattern, terminators consumed) and tokenless
    * sentences are dropped; documents with fewer than 2 kept sentences
    * emit nothing (no context would remain). The context rejoins with
    * a single space — the terminators are already consumed, and the
    * retriever tokenizes downstream anyway.
    *
    * Output: (doc_id, sent_idx, keep_query, query, context),
    * `sent_idx` the query's 1-based position among kept sentences.
    *
    * Plan shape: ENTIRELY NARROW — array ops per row, zero shuffle (a
    * pure map stage at 100 TB; the [[Curation.nspPairs]] sibling is
    * the cross-document objective and pays the joins).
    */
  def ictPairs(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions
    val sents = filter(split(col("text"), "[.!?]+[ \t\n\f\r]+"),
      s => size(TextFunctions.tokens(s)) > 0)
    docs.select(col("doc_id"), sents.as("ss"),
        coalesce(TextFunctions.rollingHash(col("text")), lit(0L)).as("h"))
      .filter(size(col("ss")) >= 2)
      .withColumn("n", size(col("ss")).cast("long"))
      .withColumn("qi", expr("h % n"))
      .withColumn("keep_query", expr("(h div 7) % 10 = 0"))
      .select(col("doc_id"), (col("qi") + 1).as("sent_idx"),
        col("keep_query"),
        element_at(col("ss"), (col("qi") + 1).cast("int")).as("query"),
        when(col("keep_query"), array_join(col("ss"), " "))
          .otherwise(array_join(expr("filter(ss, (x, i) -> i != qi)"), " "))
          .as("context"))
  }

  /** SENTENCE-AWARE chunking — the boundary-respecting sibling of
    * [[chunkByTokens]] (which cuts mid-sentence at fixed offsets): the
    * document splits at sentence boundaries (`[.!?]+` followed by
    * whitespace — a lookbehind-free pattern because the oracle's RE2
    * has no lookbehind; the terminator is consumed identically in both
    * engines), and consecutive sentences assign to ≈`maxTokens` chunks
    * by START offset: `chunk_idx = tokens_before div maxTokens`. A
    * chunk can overflow by at most one sentence minus one token —
    * bounded, and the price of never splitting a sentence (the RAG
    * indexing convention). Sentences with no tokens are dropped.
    *
    * Output: (doc_id, sent_idx, chunk_idx, n_tokens, sentence) —
    * `sent_idx` dense 1-based over kept sentences; chunk bodies are one
    * ordered concat away, left to the caller (the assignment is the
    * operator).
    *
    * Plan shape: the split + token count are narrow; the running
    * token offset is a window over `doc_id` (per-doc groups — millions
    * of small partitions at scale, the [[LanguageModel]] adjacency
    * discipline); nothing else shuffles.
    */
  def sentenceChunks(docs: DataFrame, maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    val sents = filter(split(col("text"), "[.!?]+[ \t\n\f\r]+"),
      s => size(TextFunctions.tokens(s)) > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("sent_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), posexplode(sents).as(Seq("si0", "sentence")))
      .select(col("doc_id"), (col("si0") + 1).as("sent_idx"), col("sentence"),
        size(TextFunctions.tokens(col("sentence"))).cast("long").as("n_tokens"))
      .withColumn("cb", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("sent_idx"),
        expr(s"cb div ${maxTokens.toLong}").as("chunk_idx"),
        col("n_tokens"), col("sentence"))
  }

  /** The C4 PAGE/LINE FILTER (Raffel et al., JMLR 2020 §2.2 — the
    * published cleaning rules the C4 corpus ships with; the Gopher
    * gate's older sibling and the other rule set a production pipeline
    * actually runs):
    *
    * LINE rules (a line survives iff ALL hold):
    *  - ends in a terminal punctuation mark (`[.!?"]`, trailing spaces
    *    allowed — the paper's rule includes the closing quote),
    *  - contains at least 5 words (whitespace tokens),
    *  - does not contain the word "javascript" (case-insensitive —
    *    the paper's cookie/noscript-boilerplate heuristic).
    *
    * PAGE rules (the page is discarded iff ANY holds, evaluated on the
    * RAW page for the phrase/char rules and on the CLEANED text for the
    * sentence count, exactly like the reference implementation):
    *  - `too_few_sentences` — fewer than 3 sentences after line
    *    filtering (terminator-split segments with ≥ 1 token),
    *  - `lorem_ipsum` — the page contains "lorem ipsum",
    *  - `curly_brace` — the page contains `{` (the code heuristic),
    *  - `badword` — any whitespace token equals a `badwords` entry
    *    (the paper uses the public "List of Dirty, Naughty…" list;
    *    the list is a parameter — token-set membership, the
    *    [[GopherStopWords]] convention).
    *
    * Output: (doc_id, keep, reasons, n_lines_kept, n_sentences,
    * clean_text) — reasons alphabetical; `clean_text` is the kept lines
    * re-joined (what C4 actually emits for a kept page).
    *
    * Plan shape: ENTIRELY NARROW — line split, HOF filters, and the
    * sentence count are per-row expressions; no join, no shuffle, no
    * state. The cheapest possible operator at 100 TB.
    */
  def c4Filter(docs: DataFrame, badwords: Seq[String]): DataFrame = {
    import graft.functions.TextFunctions
    val lineOk: Column => Column = l =>
      size(TextFunctions.tokens(l)) >= 5 &&
        l.rlike("""[.!?"][ \t\r]*$""") &&
        !lower(l).contains("javascript")
    val kept = filter(split(col("text"), "\n"), lineOk)
    val cleaned = array_join(kept, "\n")
    val nSent = size(filter(split(col("clean_text"), "[.!?]+[ \t\n\f\r]+"),
      s => size(TextFunctions.tokens(s)) > 0)).cast("long")
    val hasBad = size(array_intersect(
      array_distinct(TextFunctions.tokens(col("text"))),
      array(badwords.map(lit): _*))) > 0
    val fired = array(
      when(col("n_sentences") < 3, lit("too_few_sentences")),
      when(lower(col("text")).contains("lorem ipsum"), lit("lorem_ipsum")),
      when(col("text").contains("{"), lit("curly_brace")),
      when(hasBad, lit("badword")))
    docs
      .withColumn("clean_text", cleaned)
      .withColumn("n_lines_kept", size(kept).cast("long"))
      .withColumn("n_sentences", nSent)
      .withColumn("reasons", array_sort(filter(fired, r => r.isNotNull)))
      .select(col("doc_id"), (size(col("reasons")) === 0).as("keep"),
        col("reasons"), col("n_lines_kept"), col("n_sentences"),
        col("clean_text"))
  }

  /** PII REDACTION — the web-corpus scrubbing step the public pipeline
    * families run before training (the BigScience ROOTS corpus's PII
    * pass and the C4-family address rules are the published
    * precedents): typed patterns replaced by typed placeholder tokens,
    * with per-document match counts so downstream mixing/reporting can
    * filter or weight by PII density. Exactly THREE shape rules, each
    * an exact cross-engine regex (ASCII classes and `\b` only — Java
    * and RE2 agree on these; no lookaround, no Unicode classes):
    *
    *  1. EMAIL `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}` →
    *     `<EMAIL>`,
    *  2. IPV4 `\b(\d{1,3}\.){3}\d{1,3}\b` → `<IP>` (the shape rule —
    *     octet-range validation is deliberately out, matching the
    *     published shape-based scrubbers),
    *  3. LONG DIGIT RUN `\b\d{9,}\b` → `<DIGITS>` (account/SSN/phone
    *     shapes; runs of 8 or fewer digits survive).
    *
    * Replacement is SEQUENTIAL in that order and each rule's count is
    * taken on the text the PREVIOUS rules already scrubbed (an email's
    * digits are never double-counted as a digit run) — the oracle
    * mirrors the same three-stage pipeline.
    *
    * Output: (doc_id, clean_text, n_email, n_ip, n_digits, pii_free).
    *
    * Plan shape: ENTIRELY NARROW — three regexp_replace /
    * regexp_extract_all per row, no join, no shuffle; the cheapest
    * operator shape at 100 TB, like [[c4Filter]].
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    def cnt(c: Column, pat: String) =
      size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
    docs
      .withColumn("n_email", cnt(col("text"), PiiEmailPattern))
      .withColumn("_t1",
        regexp_replace(col("text"), PiiEmailPattern, "<EMAIL>"))
      .withColumn("n_ip", cnt(col("_t1"), PiiIpPattern))
      .withColumn("_t2", regexp_replace(col("_t1"), PiiIpPattern, "<IP>"))
      .withColumn("n_digits", cnt(col("_t2"), PiiDigitsPattern))
      .select(col("doc_id"),
        regexp_replace(col("_t2"), PiiDigitsPattern, "<DIGITS>")
          .as("clean_text"),
        col("n_email"), col("n_ip"), col("n_digits"),
        (col("n_email") + col("n_ip") + col("n_digits") === 0)
          .as("pii_free"))
  }

  /** The [[piiScrub]] rule patterns — ONE constant set threaded into
    * the Spark operator and the DuckDB oracle (plain strings so the
    * backslashes survive both spellings).
    */
  val PiiEmailPattern: String = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PiiIpPattern: String = """\b(\d{1,3}\.){3}\d{1,3}\b"""
  val PiiDigitsPattern: String = """\b\d{9,}\b"""

  /** BERT-style NSP (next-sentence-prediction) PAIR CONSTRUCTION
    * (Devlin et al., NAACL 2019 §3.1 Task #2 — the second objective the
    * MLM transform ships with): every consecutive sentence pair (A, B)
    * within a document emits a training example — 50% with the TRUE
    * next sentence (`is_next = true`), 50% with a sentence drawn from a
    * DIFFERENT document (`is_next = false`). The paper's random draws
    * are replaced by hash-determinism (the [[Bpe.mlmMask]] discipline),
    * keyed on (doc_id, sent_idx, A-text): with
    * `h = rolling_hash(doc_id : sent_idx : a_text)`,
    *
    *  - `is_next = (h % 2 == 0)`;
    *  - the NotNext replacement is drawn by a CLOSED-FORM
    *    different-document pick (the paper's "random sentence from
    *    another document" is a rejection loop, which has no exact
    *    oracle spelling): documents with ≥ 1 sentence get a dense
    *    0-based index (range-partitioned [[PrefixSum]], never a global
    *    window); `dr = (h div 7) % (n_docs − 1)` skips the A-document
    *    via `dpick = dr + (dr ≥ self ? 1 : 0)` — a bijection onto the
    *    other documents — and the sentence within is
    *    `(h div 11) % n_sents(dpick) + 1`.
    *
    * Sentence boundaries are [[sentenceChunks]]' terminator split.
    * Output: (doc_id, sent_idx, a, b, b_doc_id, b_sent_idx, is_next) —
    * b_doc/b_sent make the draw auditable; IsNext rows carry their own
    * doc and sent_idx + 1.
    *
    * Plan shape: the sentence stream is narrow + one per-doc window
    * (millions of small groups); the doc index is one PrefixSum over
    * the DOCUMENT-sized table; the NotNext branch pays two equi-joins
    * (pick → document, pick → sentence) on the minority half of the
    * pairs; `n_docs` is a broadcast 1-row aggregate. Requires ≥ 2
    * documents with sentences (the modulus is n_docs − 1) — raises
    * loudly below that, never a silent empty.
    */
  def nspPairs(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions
    val sents0 = filter(split(col("text"), "[.!?]+[ \t\n\f\r]+"),
      s => size(TextFunctions.tokens(s)) > 0)
    val sentTable = SharedBranch.sharedBranch(
      docs.select(col("doc_id"), posexplode(sents0).as(Seq("si0", "sentence")))
        .select(col("doc_id"), (col("si0") + 1).as("sent_idx"), col("sentence")))
    val docTable = SharedBranch.sharedBranch(PrefixSum.inclusive(
      sentTable.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sents"))
        .withColumn("_one", lit(1L)),
      Seq(col("doc_id")), col("_one"), "rk")
      .select(col("doc_id"), col("n_sents"), (col("rk") - 1).as("d_idx")))
    val nDocs = docTable.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("sent_idx"))
    val pairs = sentTable
      .withColumn("nxt", lead(col("sentence"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("h", TextFunctions.rollingHash(
        concat_ws(":", col("doc_id"), col("sent_idx"), col("sentence"))))
      .withColumn("is_next", col("h") % 2 === 0)
    val isNext = pairs.filter(col("is_next"))
      .select(col("doc_id"), col("sent_idx"), col("sentence").as("a"),
        col("nxt").as("b"), col("doc_id").as("b_doc_id"),
        (col("sent_idx") + 1).cast("long").as("b_sent_idx"), col("is_next"))
    val notNext = pairs.filter(!col("is_next"))
      .join(docTable.select(col("doc_id"), col("d_idx").as("self_idx")), Seq("doc_id"))
      .crossJoin(broadcast(nDocs))
      // the guard rides INSIDE dr (assert_true is NULL on success) so
      // column pruning can never drop it: a 1-document corpus has no
      // different document to draw from — fail loudly, not modulo-zero
      .withColumn("dr", when(org.apache.spark.sql.functions.assert_true(
          col("n_docs") >= 2,
          lit("nspPairs needs >= 2 documents with sentences")).isNull,
        expr("(h div 7) % (n_docs - 1)")))
      .withColumn("dpick", when(col("dr") >= col("self_idx"), col("dr") + 1)
        .otherwise(col("dr")))
      .join(docTable.select(col("d_idx").as("dpick"),
        col("doc_id").as("b_doc_id"), col("n_sents").as("b_n")), Seq("dpick"))
      .withColumn("b_sent_idx", expr("(h div 11) % b_n + 1"))
      .join(sentTable.select(col("doc_id").as("b_doc_id"),
        col("sent_idx").cast("long").as("b_sent_idx"), col("sentence").as("b")),
        Seq("b_doc_id", "b_sent_idx"))
      .select(col("doc_id"), col("sent_idx"), col("sentence").as("a"),
        col("b"), col("b_doc_id"), col("b_sent_idx"), col("is_next"))
    isNext.unionByName(notNext)
  }

  /** Sliding token-window chunking (the RAG / fine-tuning chunker, as
    * opposed to [[packContextWindows]]'s concat-then-cut pretraining
    * layout): each document emits windows of `window` tokens every
    * `stride` tokens — overlapping when stride < window — with the final
    * partial window kept. Purely narrow per-row work (tokenize once,
    * explode the start offsets, slice); no cross-row step at all, so it
    * scales embarrassingly.
    *
    * Output: (doc_id, chunk_idx, chunk_text, n_tokens); empty documents
    * emit no chunks.
    */
  def chunkByTokens(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, s"window/stride must be positive, got $window/$stride")
    val toks = TextFunctions.tokens(col("text"))
    val n = size(toks)
    val starts = when(n > 0, sequence(lit(0), n - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"), toks.as("toks"),
        posexplode(starts).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(window))).as("chunk_text"),
        size(slice(col("toks"), col("start") + 1, lit(window))).as("n_tokens"))
  }

  // ---- balanced output sharding --------------------------------------

  /** Assign each document to one of `nShards` output shards balanced by
    * TOKEN count, preserving doc_id order within and across shards (shard
    * boundaries are cuts in the concatenated token stream — what a
    * training data-loader wants: equal work per shard, stable order).
    * `shard = (start_tok · nShards) div total_tokens`, clamped to the last
    * shard; all integer arithmetic (exact while
    * `total_tokens · nShards < 2⁶³`). Imbalance is bounded by the largest
    * single document. Cost: the distributed prefix sum + one narrow
    * total-count pass.
    */
  def balancedShards(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val counted = docs.select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    val summed = PrefixSum.inclusive(counted, Seq(col("doc_id")), col("n_tokens"), "cum")
    val total = counted.agg(sum(col("n_tokens")).as("total"))
    summed
      .crossJoin(broadcast(total))
      .withColumn("start_tok", col("cum") - col("n_tokens"))
      .withColumn("shard",
        when(col("total") > 0,
          least(expr(s"(start_tok * $nShards) div total"), lit(nShards - 1L)))
          .otherwise(lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("shard"))
  }

  /** Shard MANIFEST — the reproducibility audit over
    * [[balancedShards]]'s assignment: per shard, the doc count, token
    * total, and an order-independent content signature (XOR of the
    * per-doc rolling content hashes — commutative, so the signature is
    * a property of the shard's SET of documents, not of task order).
    * Two pipeline runs that claim the same corpus compare manifests
    * instead of re-reading 100 TB; a drifted shard pinpoints itself.
    * One-sided caveat (documented, standard for XOR manifests): a pair
    * of identical documents cancels out of the signature, so equal
    * signatures + equal counts is very strong but not cryptographic
    * evidence of equality.
    *
    * Plan: the shard assignment's prefix-sum chain + one doc-keyed
    * (uniform) join to attach content hashes + one |shards|-row
    * aggregation, all map-side combinable.
    *
    * Output: (shard, n_docs, n_tokens, content_sig).
    */
  def shardManifest(docs: DataFrame, nShards: Int): DataFrame =
    balancedShards(docs, nShards)
      .join(docs.select(col("doc_id"),
        TextFunctions.rollingHash(col("text")).as("fp")), "doc_id")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        expr("bit_xor(fp)").as("content_sig"))

  /** MATERIALIZE the balanced shards — the pipeline's output step: the
    * corpus written `shard=`-partitioned (one directory per training
    * shard, the layout a trainer's data loader reads sequentially and a
    * resume skips by partition), full row carried (text + metadata +
    * n_tokens). Overwrite mode: a re-export replaces the directory
    * atomically enough for the single-writer pipeline case (concurrent
    * writers want a table format underneath — same seam as the
    * incremental-dedup index). A (shard, doc_id) sort within partitions
    * makes re-exports byte-stable for the manifest diff.
    */
  def writeTrainingShards(docs: DataFrame, dir: String, nShards: Int): Unit =
    balancedShards(docs, nShards)
      .join(docs, "doc_id")
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)

  /** The read-back audit of [[writeTrainingShards]]: recompute the
    * manifest FROM THE FILES — content signatures from the round-tripped
    * text, not the writer's memory — so `manifest(written) ==`
    * [[shardManifest]]`(input)` proves the export preserved every
    * document byte-exactly and the partition layout matches the
    * assignment. (Partition-column inference reads `shard=` back as int;
    * cast restores the assignment's BIGINT.)
    */
  def shardManifestFromDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(dir)
      .withColumn("fp", TextFunctions.rollingHash(col("text")))
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("bit_xor(fp)").as("content_sig"))

  // ---- per-group heavy hitters ---------------------------------------

  /** Exact top-`k` tokens per group (vocabulary heavy hitters — the
    * corpus-inspection primitive behind stopword induction and
    * contamination triage). Shaped for scale: explode → two-level hash
    * aggregation, both with map-side partial combine (the (group, token)
    * space is vocabulary-sized, not corpus-sized, after the first
    * partial), then a per-group ranking window — partitioned by group,
    * never global. Ties break to the lexicographically smaller token for
    * a deterministic, oracle-stable result.
    */
  def topTokensPerGroup(docs: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val counts = docs
      .select(col(groupCol), explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n").desc, col("token"))
    counts
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("token"), col("n"), col("rnk"))
  }

  // ---- composite quality filter --------------------------------------

  /** Gopher-style composite quality gate: a document is kept iff NO rule
    * fires; `reasons` lists the fired rules (alphabetical). Every
    * threshold is an exact integer cross-multiplication (`5·distinct <
    * 2·total` instead of `distinct/total < 0.4`) so the verdict is
    * bit-identical in any engine — no floating-point ratios anywhere.
    * Narrow per-row work; the thresholds are tuned for discrimination on
    * the synthetic corpus and are parameters, not constants, in spirit —
    * production would expose them all.
    *
    * Rules: `too_short` (< minTokens), `too_long` (> maxTokens),
    * `high_repetition` (distinct-token ratio < 0.4), `bigram_repetition`
    * (distinct-bigram ratio < 0.5), `short_words` (mean word length < 4).
    */
  def qualityFilter(docs: DataFrame, minTokens: Int = 30,
      maxTokens: Int = 10000): DataFrame =
    withQualityVerdict(docs, minTokens, maxTokens)
      .select(col("doc_id"), col("_q.n_tokens").as("n_tokens"),
        col("_q.keep").as("keep"), col("_q.reasons").as("reasons"))

  /** [[qualityFilter]]'s verdict as ONE added struct column `_q`
    * (n_tokens, keep, reasons), every input column retained — the
    * composable core both faces share. Keeping the row intact matters on
    * STREAMS: the batch pipeline re-attaches text with a doc_id join,
    * which on a streaming frame would be a stream-stream join; this
    * spelling stays a stateless projection.
    */
  private[graft] def withQualityVerdict(docs: DataFrame, minTokens: Int,
      maxTokens: Int): DataFrame = {
    // one metric definition for the gate AND the reported statistics
    // (repetitionMetrics) — long casts keep the cross-multiplications
    // overflow-safe under ANSI for arbitrarily long documents
    val ts = col("_tstats")
    val nTok = ts.getField("n_tokens").cast("long")
    val fired = array(
      when(ts.getField("n_bigrams") > 0 &&
        ts.getField("n_distinct_bigrams").cast("long") * 2 <
          ts.getField("n_bigrams").cast("long"),
        lit("bigram_repetition")),
      when(ts.getField("n_distinct_tokens").cast("long") * 5 < nTok * 2,
        lit("high_repetition")),
      when(nTok > 0 && ts.getField("n_wchars") * 10 < nTok * 40,
        lit("short_words")),
      when(nTok > maxTokens, lit("too_long")),
      when(nTok < minTokens, lit("too_short")))
    docs
      .withColumn("_tstats", graft.functions.TokenStats.token_stats(col("text")))
      .withColumn("_reasons", filter(fired, r => r.isNotNull))
      .withColumn("_q", struct(nTok.as("n_tokens"),
        (size(col("_reasons")) === 0).as("keep"), col("_reasons").as("reasons")))
      .drop("_tstats", "_reasons")
  }

  // ---- the end-to-end curation pipeline --------------------------------

  /** The WHOLE curation pipeline as one composed, verifiable operator —
    * what a production training-data run actually executes, rather than
    * each stage in isolation:
    *
    *  1. boilerplate-line removal ([[TextDedup.lineDedup]], hash-only
    *     shuffles — banner/copyright lines vanish, first occurrences of
    *     moderately repeated lines survive);
    *  2. Unicode NFC normalization + whitespace collapse
    *     ([[normalizeText]] — dedup hashing downstream sees one spelling
    *     per grapheme);
    *  3. the composite quality gate ([[qualityFilter]] — too-short /
    *     repetitive / short-word documents leave);
    *  4. MinHash-LSH near-dup dedup keep-first
    *     ([[TextDedup.minhashNearDups]] — a document near-duplicating a
    *     smaller-id survivor leaves);
    *  5. eval-split decontamination ([[decontaminate]] — the eval split
    *     itself and every train doc sharing ≥ minShared distinct shingles
    *     with it leave);
    *  6. context-window packing ([[packContextWindows]] — the survivors'
    *     token streams concatenate into windowTokens-sized bins).
    *
    * Plan shape: every cross-row step keeps its stage's scale discipline
    * (hash-keyed equi-joins, banded candidates, distributed prefix sum);
    * stage handoffs are doc_id-keyed joins. Stage OUTPUTS consumed by
    * multiple later branches are materialized eagerly with
    * `localCheckpoint` rather than a plain persist: Catalyst plans are
    * trees, not DAGs, so six chained stages each referencing their input
    * 2–4× compound to a plan with tens of thousands of duplicated scan
    * nodes — analysis and cache-lookup canonicalization of that tree
    * dominated wall clock (15 s of driver time for ~1 s of execution at
    * sf0.1) even though every duplicate hit the block cache. Checkpoints
    * flatten each stage boundary to a leaf, exactly the
    * [[TextDedup.distributedClusters]] discipline; the stored blocks are
    * the same (doc_id, text) frames the persist would have held, and a
    * checkpointed handoff is also immune to the sampled-exchange
    * nondeterminism [[SharedBranch]] exists to prevent. (On a cluster,
    * localCheckpoint trades executor-loss tolerance for not needing a
    * checkpoint dir — the standard inter-stage materialization bargain;
    * a production run pointing at reliable storage would write the stage
    * outputs as tables here anyway.)
    *
    * Output: [[packContextWindows]]'s (doc_id, n_tokens, start_tok,
    * bin_first, bin_last, n_bins) over the surviving documents.
    */
  /** Stage handoff = ONE checkpoint + CONDITIONAL re-spread: AQE
    * coalesces the tiny post-join shuffles of a filtered-down corpus
    * toward ONE partition, the checkpoint freezes that layout, and the
    * next stage's compute-heavy per-row work (tokenize + shingle +
    * hash) then runs single-threaded — measured 9.3 s in one
    * single-task broadcast-build stage at sf0.1 (the
    * [[TextDedup.documents]] lesson, mid-pipeline). The spread happens
    * only when the frozen layout is actually starved (< half the cores
    * have a partition) — which can only occur when AQE judged the
    * frame small — and is a LIVE round-robin exchange over the
    * checkpointed blocks, NOT a second checkpoint: the round-18
    * spelling re-materialized (and doubly pinned) every starved
    * handoff; §5 says one materialization per stage. Consumers re-pay
    * only the tiny local exchange, never the stage's lineage (the
    * checkpoint truncates it — PrefixSum's range sampling pass included),
    * and a 100 TB stage output keeps its thousands of partitions and
    * pays NO extra shuffle.
    */
  private def stageHandoff(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val ck = df.localCheckpoint()
    if (ck.rdd.getNumPartitions * 2 <= par) ck.repartition(par) else ck
  }

  def curationPipeline(docs: DataFrame, minLineChars: Int = 10,
      boilerplateDf: Long = 50L, nearDupThreshold: Double = 0.5,
      evalModulus: Long = 97L, minShared: Long = 3L,
      windowTokens: Int = 256): DataFrame = {
    def handoff(df: DataFrame): DataFrame = stageHandoff(df)
    // 1. line dedup (the reassembled text is the only column carried on)
    val lineDeduped = TextDedup.lineDedup(docs, minLineChars, boilerplateDf,
        hashOnlyShuffle = true)
      .select(col("doc_id"), col("text_dedup").as("text"))
    // 2. normalize; consumed by the quality gate AND its verdict join
    val normed = handoff(
      normalizeText(lineDeduped).select(col("doc_id"), col("text_norm").as("text")))
    // 3. quality gate
    val kept = handoff(
      normed.join(
        qualityFilter(normed).filter(col("keep")).select(col("doc_id")),
        Seq("doc_id")))
    // 4. near-dup keep-first: a doc near-duplicating a smaller id leaves
    val dups = TextDedup.minhashNearDups(kept, nearDupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val nearDeduped = handoff(kept.join(dups, Seq("doc_id"), "left_anti"))
    // 5. decontamination — filtering, not just detecting, so the verdict
    // uses the minShared overlap threshold (any-overlap on a word-salad
    // corpus flags nearly every doc; a run of shared shingles is leakage)
    val clean = decontaminate(nearDeduped, evalModulus, minShared)
      .filter(!col("contaminated")).select(col("doc_id"))
    // checkpointed like the other handoffs: PrefixSum's range partitioner
    // SAMPLES its input before materializing it, so an un-truncated
    // survivors plan would re-run the decontamination joins once per
    // sampling pass on top of the persist pass
    val survivors = handoff(nearDeduped.join(clean, Seq("doc_id")))
    // 6. pack
    packContextWindows(survivors, windowTokens)
  }

  /** GPT-ERA PRETRAINING PIPELINE END-TO-END — the TOKENIZER-era
    * sibling of [[curationPipeline]] (the r17 verdict's #4 ask: the
    * chain a GPT-style pretraining run executes, composed as ONE
    * oracle-gated query): C4 page/line filtering ([[c4Filter]] — the
    * kept page's `clean_text` is what the rest of the chain sees) →
    * MinHash near-dup keep-first → eval-split decontamination
    * (filtering at `minShared` overlap) → BPE merge training ON THE
    * SURVIVORS (the tokenizer sees only what curation kept — the
    * ordering real pipelines use) → encode → EOD-separated global
    * token windows ([[graft.operators.Bpe.tokenWindows]]) → balanced
    * shard assignment over the fixed-size windows (a contiguous
    * `win_id` cut is token-balanced by construction) → the per-shard
    * AUDIT manifest (the [[shardManifest]] discipline: counts + the
    * order-independent XOR content signature over
    * `hash(doc:pos:token)` rows — two runs compare manifests instead
    * of re-reading the corpus).
    *
    * Output: (shard, n_windows, n_rows, n_tokens, content_sig) — one
    * row per non-empty shard; `n_rows` counts EOD separators,
    * `n_tokens` does not.
    *
    * Plan shape: each stage's audited shape unchanged (hash-only
    * minhash exchanges, narrow C4, the windowing PrefixSum), stage
    * handoffs checkpoint + conditionally re-spread (the
    * [[curationPipeline]] lesson); the merge table is driver-bounded
    * (`mergeRounds` rows) and the only new frames are the 1-row
    * window-count broadcast and the |shards|-row aggregate.
    */
  def pretrainPipeline(docs: DataFrame, badwords: Seq[String],
      nearDupThreshold: Double = 0.5, evalModulus: Long = 97L,
      minShared: Long = 4L, mergeRounds: Int = 8, windowTokens: Int = 64,
      nShards: Int = 8): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    def handoff(df: DataFrame): DataFrame = stageHandoff(df)
    // 1. C4 page gate; carry the kept page's cleaned text forward
    val kept = handoff(c4Filter(docs, badwords).filter(col("keep"))
      .select(col("doc_id"), col("clean_text").as("text")))
    // 2. near-dup keep-first over the CLEANED text
    val dups = TextDedup.minhashNearDups(kept, nearDupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val nearDeduped = handoff(kept.join(dups, Seq("doc_id"), "left_anti"))
    // 3. decontamination — filtering at the minShared overlap
    val clean = decontaminate(nearDeduped, evalModulus, minShared)
      .filter(!col("contaminated")).select(col("doc_id"))
    val survivors = handoff(nearDeduped.join(clean, Seq("doc_id")))
    // a corpus curation emptied out yields an EMPTY manifest, not the
    // trainer's (deliberately loud) ran-out-of-pairs error; the probe is
    // one bounded action on the already-checkpointed survivors handoff —
    // the trainer that follows pays `mergeRounds` full aggregations on
    // the same frame, so this adds nothing at scale
    if (survivors.isEmpty) {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("shard", LongType),
        StructField("n_windows", LongType), StructField("n_rows", LongType),
        StructField("n_tokens", LongType), StructField("content_sig", LongType)))
      return docs.sparkSession.createDataFrame(
        docs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    // 4–5. tokenizer era: merges trained on the survivors, then the
    // EOD-separated global window stream
    val merges = Bpe.mergePairs(Bpe.trainMerges(survivors, mergeRounds))
    val windows = SharedBranch.sharedBranch(
      Bpe.tokenWindows(survivors, merges, windowTokens))
    // 6. contiguous balanced shard cut over win_id + the audit manifest
    val nw = windows.agg((coalesce(max(col("win_id")), lit(-1L)) + 1L).as("n_win"))
    windows.crossJoin(broadcast(nw))
      .withColumn("shard",
        least(expr(s"(win_id * $nShards) div n_win"), lit(nShards - 1L)))
      .withColumn("fp", TextFunctions.rollingHash(
        concat(col("doc_id").cast("string"), lit(":"),
          col("pos").cast("string"), lit(":"), col("token"))))
      .groupBy(col("shard"))
      .agg(countDistinct(col("win_id")).as("n_windows"),
        count(lit(1)).as("n_rows"),
        sum(when(col("token") =!= "<eod>", 1L).otherwise(0L)).as("n_tokens"),
        expr("bit_xor(fp)").as("content_sig"))
  }

  // ---- repetition statistics -----------------------------------------

  /** The per-document token/bigram statistics both the quality gate and
    * the reported metrics derive from — a single definition so the two
    * can never drift. One pass over the raw string via the
    * [[graft.functions.TokenStats]] codegen expression; the equivalent
    * HOF chain (`size(toks)`, `size(array_distinct(toks))`, bigram
    * shingles, `aggregate` char fold) builds five intermediate arrays per
    * row — TokenStatsParitySpec property-tests the two spellings
    * identical, including null text.
    */
  private def tokenStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("_tstats", graft.functions.TokenStats.token_stats(col("text")))
      .select(
        col("doc_id"),
        col("_tstats.n_tokens").as("n_tokens"),
        col("_tstats.n_distinct_tokens").as("n_distinct_tokens"),
        col("_tstats.n_bigrams").as("n_bigrams"),
        col("_tstats.n_distinct_bigrams").as("n_distinct_bigrams"),
        col("_tstats.n_wchars").as("n_wchars"))

  /** Token/bigram repetition counts (the Gopher-style repetition signals,
    * kept as exact integers — ratios are the caller's division).
    */
  def repetitionMetrics(docs: DataFrame): DataFrame =
    tokenStats(docs).drop("n_wchars")

  /** The FULL published Gopher n-gram repetition signal set (Rae et al.
    * 2021, arXiv:2112.11446 Table A1 — the two rule families the
    * composite gate above approximates with its distinct-ratio rules):
    * per document, exact-integer char-coverage NUMERATORS for
    *
    *  - `top{2,3,4}`: characters inside the MOST FREQUENT n-gram —
    *    occurrences × the n-gram's token chars (ties count DESC, n-gram
    *    ASC — a deterministic total order; the paper's float "fraction
    *    of characters" is numerator / n_wchars, the caller's division);
    *  - `dup{5..10}`: characters at token positions COVERED by at least
    *    one n-gram occurring ≥ 2 times — a positional UNION, so
    *    overlapping duplicate n-grams never double-count a character
    *    (the reference implementations' position-marking rule);
    *
    * plus `n_wchars` (total token chars — the shared denominator; chars
    * are code points per token, whitespace excluded, the
    * [[graft.functions.TokenStats]] convention).
    *
    * Scale shape: ENTIRELY NARROW — every signal is a function of the
    * document's own token array, so the whole set is computed in the
    * ARRAY domain on the document row: the per-(doc, n) n-gram count
    * table becomes a per-row `array_sort` + run-length fold (equal
    * n-grams are adjacent after the sort — the argmax scans runs in
    * n-gram-ascending order, so a strict `>` update reproduces the
    * (count DESC, ngram ASC) rank rule bit-for-bit), and the
    * duplicate-coverage union stays the per-row
    * expand-flatten-array_distinct it already was. No n-gram string
    * ever crosses an exchange: the round-18 spelling exploded 9 shingle
    * sizes into two corpus-scale string-keyed count shuffles + a
    * coverage join + three doc-keyed pivots (guide §2.3/§2.4 — this is
    * the "shuffle nothing" endpoint of that sequence). Array sizes stay
    * doc-bounded (the house doc-bounded-explode envelope); tokenless
    * documents report all zeros.
    */
  def gopherNgramSignals(docs: DataFrame): DataFrame =
    gopherStage2(gopherStage1(gopherStage0(docs))).select(
      Seq(col("doc_id"), col("n_wchars")) ++
        Seq(2, 3, 4).map(n => col(s"top$n")) ++
        (5 to 10).map(n => col(s"dup$n")): _*)

  /** Stage 0: the token array, computed once ([[gopherGate]] enters the
    * same chain carrying its extra per-doc columns — `keep` lists them
    * so the projections pass them through).
    */
  private def gopherStage0(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    docs.select(col("doc_id") +: (keep.map(col) :+
      coalesce(graft.functions.TextFunctions.tokens(col("text")),
        array().cast("array<string>")).as("_w")): _*)

  /** Stage 1: per-size sorted shingle scaffolding as REAL columns —
    * each is referenced more than once downstream, and a multi-
    * referenced non-trivial alias is exactly what CollapseProject
    * refuses to inline, so every array is built once per row (inlining
    * them into the fold lambdas would re-build them per ELEMENT).
    * `_sst{2,3,4}`: sorted n-gram arrays; `_zp{5..10}`: (ngram, start)
    * structs sorted so equal n-grams are adjacent.
    */
  private def gopherStage1(staged: DataFrame): DataFrame = {
    import graft.functions.TextFunctions
    val w = col("_w")
    staged.select(
      Seq(col("*")) ++
        Seq(2, 3, 4).map(n =>
          array_sort(TextFunctions.shingles(w, n)).as(s"_sst$n")) ++
        (5 to 10).map { n =>
          val ss = TextFunctions.shingles(w, n)
          // n-gram count = size(w) − n + 1 without re-building the
          // shingle array just to measure it
          val idx = when(size(w) >= n, sequence(lit(1), size(w) - lit(n - 1)))
            .otherwise(array().cast("array<int>"))
          array_sort(zip_with(ss, idx,
            (ng, p) => struct(ng.as("ng"), p.as("p")))).as(s"_zp$n")
        }: _*)
  }

  /** Stage 2: the numerators, one fold per signal over the stage-1
    * arrays; everything else passes through.
    */
  private def gopherStage2(mid: DataFrame): DataFrame = {
    val w = col("_w")
    mid.select(
      Seq(col("*"), gopherWchars(w).as("n_wchars")) ++
        Seq(2, 3, 4).map(n => gopherTopNum(col(s"_sst$n"), n).as(s"top$n")) ++
        (5 to 10).map(n => gopherDupNum(w, col(s"_zp$n"), n).as(s"dup$n")): _*)
  }

  /** Σ token chars of a token array — the gopher denominator, one fold. */
  private def gopherWchars(w: Column): Column =
    aggregate(w, lit(0L), (acc, t) => acc + length(t).cast("long"))

  /** top-n numerator in the array domain: occurrences of the most
    * frequent n-gram × its token chars (chars = len − (n−1) separators;
    * tokens are whitespace-free). Equal n-grams are adjacent in the
    * sorted array `sst`, so one run-length fold finds (count DESC,
    * ngram ASC): the scan meets n-grams in ascending order and updates
    * on STRICT run-length improvement — ties keep the earlier (smaller)
    * n-gram, exactly the old spelling's `min(struct(-c, ng))`.
    */
  private def gopherTopNum(sst: Column, n: Int): Column = {
    val best = aggregate(sst,
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("bc"), lit("").as("bng")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          when(run > acc("bc"), run).otherwise(acc("bc")).as("bc"),
          when(run > acc("bc"), x).otherwise(acc("bng")).as("bng"))
      })
    when(size(sst) > 0,
        best("bc") * (length(best("bng")) - lit(n - 1)).cast("long"))
      .otherwise(lit(0L))
  }

  /** dup-n numerator in the array domain: token chars at positions
    * covered by at least one n-gram occurring ≥ 2 times. In the sorted
    * struct array `zp` equal n-grams are adjacent, so the duplicated
    * starts are exactly the members of adjacent equal pairs (interior
    * run members appear twice — the downstream `array_distinct`
    * absorbs that); the positional union expands starts to covered
    * positions, dedups, and folds token lengths — all on the document
    * row.
    */
  private def gopherDupNum(w: Column, zp: Column, n: Int): Column = {
    val m = size(zp)
    // clamped: a negative slice length throws, whichever branch of the
    // `when` below ends up evaluated
    val len = greatest(m - 1, lit(0))
    val pairs = zip_with(slice(zp, lit(1), len), slice(zp, lit(2), len),
      (a, b) => when(a("ng") === b("ng"), array(a("p"), b("p")))
        .otherwise(array().cast("array<int>")))
    val covered = array_distinct(flatten(transform(flatten(pairs),
      p => sequence(p, p + lit(n - 1)))))
    when(m >= 2,
        aggregate(covered, lit(0L),
          (acc, q) => acc + length(element_at(w, q)).cast("long")))
      .otherwise(lit(0L))
  }

  /** The published stop-word list of Gopher's "must contain at least two
    * of" rule (Rae et al. 2021 Table A1).
    */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The COMPLETE Gopher-style quality gate — [[qualityFilter]]'s five
    * rules plus the rest of the published Table A1 rule set, every
    * threshold an exact integer cross-multiplication:
    *
    *  - `long_words` — mean word length > 10 (`n_wchars > 10·n_tokens`;
    *    the < 3 side is [[qualityFilter]]'s `short_words`, kept at its
    *    gated spelling),
    *  - `low_alpha` — < 80% of words contain an alphabetic char
    *    (`5·n_alpha < 4·n_tokens`),
    *  - `high_symbols` — symbol-to-word ratio > 0.1, symbols = '#' and
    *    ellipsis ('…' or '...', non-overlapping count)
    *    (`10·n_sym > n_tokens`),
    *  - `few_stopwords` — fewer than 2 DISTINCT stop words present
    *    ([[GopherStopWords]]),
    *  - `top_ngram{2,3,4}` — top-n-gram char fraction above 20/18/16%
    *    (`100·top_n > t·n_wchars`),
    *  - `dup_ngram{5..10}` — duplicate-n-gram char fraction above
    *    15/14/13/12/11/10% (`100·dup_n > t·n_wchars`),
    *
    * over the [[gopherNgramSignals]] numerators (a doc-keyed equi-join —
    * both sides hash on doc_id), plus the Table A1 LINE-SHARE rules:
    *
    *  - `bullet_lines` — more than 90% of lines start with a bullet
    *    character (`•‣▶*-` after optional indent —
    *    `10·n_bullet > 9·n_lines`),
    *  - `ellipsis_lines` — more than 30% of lines end with an ellipsis
    *    ('…' or '...' before optional trailing blanks —
    *    `10·n_ellip > 3·n_lines`),
    *
    * both exact integer cross-multiplications over `\n`-split lines (a
    * single-line document is one line — neither rule can fire on it).
    * Output: (doc_id, n_tokens, keep, reasons) — reasons alphabetical,
    * the [[qualityFilter]] contract.
    */
  def gopherGate(docs: DataFrame, minTokens: Int = 30,
      maxTokens: Int = 10000): DataFrame = {
    // '…' is one code point, '#' one char, '...' removes 3 chars per
    // NON-OVERLAPPING occurrence — all exact integer arithmetic (`div`,
    // never the double-typed `/`)
    val sym = (length(col("text")) -
        length(regexp_replace(col("text"), "#", ""))).cast("long") +
      expr("CAST(length(text) - length(regexp_replace(text, '\\\\.\\\\.\\\\.', '')) AS BIGINT) div 3") +
      (length(col("text")) -
        length(regexp_replace(col("text"), "…", ""))).cast("long")
    // line-share numerators: '\n'-split lines, bullet = optional blank
    // indent then one of •‣▶*-, ellipsis = '…'/'...' then optional
    // trailing blanks; lines carry no terminators (they were split on
    // them), so Java's before-final-newline '$' and RE2's end-anchor
    // '$' agree
    val lines = split(col("text"), "\n")
    // ONE narrow projection chain — every signal (quality verdict,
    // symbol/line shares, and the array-domain n-gram numerators) is a
    // function of the document row, so the three doc-keyed joins the
    // pre-round-19 spelling paid (base ⋈ ng ⋈ extra over a persisted
    // shared frame) collapse into pass-through columns on the
    // gopherStage chain (guide §2.4: no exchange anywhere)
    // n_alpha/n_stop stay on the RAW (nullable) token expression — the
    // pre-round-19 spelling's null-text behavior (null counts, rules
    // silently not firing) is part of the pinned output; the n-gram
    // stage uses the null-coalesced array (whose zeros match the old
    // LEFT-join-at-0 discipline)
    val wToks = graft.functions.TextFunctions.tokens(col("text"))
    val perDoc = withQualityVerdict(docs, minTokens, maxTokens)
      .select(col("doc_id"), col("text"),
        col("_q.n_tokens").as("n_tokens"),
        col("_q.reasons").as("base_reasons"),
        sym.as("n_sym"),
        size(filter(wToks, t => t.rlike("\\p{L}"))).cast("long").as("n_alpha"),
        size(array_intersect(array_distinct(wToks),
          array(GopherStopWords.map(lit): _*))).cast("long").as("n_stop"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => l.rlike("^[ \\t]*[•‣▶*-]")))
          .cast("long").as("n_bullet"),
        size(filter(lines, l => l.rlike("(\\.\\.\\.|…)[ \\t]*$")))
          .cast("long").as("n_ellip"))
    val staged = gopherStage0(perDoc,
      keep = Seq("n_tokens", "base_reasons", "n_sym", "n_alpha", "n_stop",
        "n_lines", "n_bullet", "n_ellip"))
    val sig = gopherStage2(gopherStage1(staged))
    val topT = Seq(2 -> 20, 3 -> 18, 4 -> 16)
    val dupT = Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
    val fired = array(
      (Seq(
        when(col("n_wchars") > col("n_tokens") * 10, lit("long_words")),
        when(col("n_alpha") * 5 < col("n_tokens") * 4, lit("low_alpha")),
        when(col("n_sym") * 10 > col("n_tokens"), lit("high_symbols")),
        when(col("n_stop") < 2, lit("few_stopwords")),
        when(col("n_bullet") * 10 > col("n_lines") * 9, lit("bullet_lines")),
        when(col("n_ellip") * 10 > col("n_lines") * 3, lit("ellipsis_lines"))) ++
      topT.map { case (n, t) =>
        when(col(s"top$n") * 100 > col("n_wchars") * t, lit(s"top_ngram$n")) } ++
      dupT.map { case (n, t) =>
        when(col(s"dup$n") * 100 > col("n_wchars") * t, lit(s"dup_ngram$n")) }): _*)
    sig
      .withColumn("_fired", filter(fired, r => r.isNotNull))
      .withColumn("reasons",
        array_sort(concat(col("base_reasons"), col("_fired"))))
      .select(col("doc_id"), col("n_tokens"),
        (size(col("reasons")) === 0).as("keep"), col("reasons"))
  }

  /** Per-source quota: keep at most `maxPerSource` documents per source,
    * preferring the higher `score` (ties to the smaller doc_id) — the
    * C4 / RefinedWeb-family per-domain cap that stops one crawled host
    * from dominating the training mixture.
    *
    * Scale shape: ONE aggregation with the bounded
    * [[graft.functions.BoundedTopN]] state — each map partition collapses
    * to ≤ maxPerSource (score, id) pairs per source before the exchange,
    * so the shuffle carries O(quota · partitions) rows per source no
    * matter how hot the domain. The window spelling
    * (`row_number() over (partition by source order by …)`) is the
    * oracle twin and ships EVERY row of a hot domain to one reducer —
    * exactly the skew this operator exists to manage
    * (SourceQuotaSpec property-tests the two spellings identical,
    * including score ties).
    *
    * Output: (source, doc_id, qrank), qrank 1..maxPerSource in
    * preference order.
    *
    * Contract (checked loudly, both spellings identical by construction):
    *   - `score` must be an INTEGRAL column. The aggregator's input
    *     encoder is (Long, Long); Spark's implicit numeric cast would
    *     silently TRUNCATE a double score, diverging from the window twin
    *     which ranks the untruncated values — so a fractional score type
    *     is rejected at plan time here instead. Scale a fractional score
    *     to integer units first (the `cents` discipline).
    *   - rows with a null score or null doc_id are DROPPED (a null-scored
    *     document has no rank preference; the tuple encoder would reject
    *     it at runtime otherwise). The window twin filters identically so
    *     the two spellings stay property-identical on nullable input.
    */
  def sourceQuota(docs: DataFrame, maxPerSource: Int,
      score: Column): DataFrame = {
    requireIntegralScore(docs, score)
    docs
      .filter(score.isNotNull && col("doc_id").isNotNull)
      .groupBy(col("source"))
      .agg(graft.functions.BoundedTopN
        .bounded_top_n(score, col("doc_id"), maxPerSource).as("kept"))
      .select(col("source"), posexplode(col("kept")).as(Seq("p", "doc_id")))
      .select(col("source"), col("doc_id"), (col("p") + 1).cast("int").as("qrank"))
  }

  /** The window-ranking twin of [[sourceQuota]] — the oracle-mirroring
    * spelling, and the property-test reference for the bounded
    * aggregation. Mirrors the aggregator's null-row drop (see the
    * [[sourceQuota]] contract) so the two spellings agree on any input.
    */
  private[graft] def sourceQuotaByWindow(docs: DataFrame, maxPerSource: Int,
      score: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(score.desc, col("doc_id"))
    docs
      .filter(score.isNotNull && col("doc_id").isNotNull)
      .withColumn("qrank", row_number().over(w))
      .filter(col("qrank") <= maxPerSource)
      .select(col("source"), col("doc_id"), col("qrank"))
  }

  /** Resolve `score` against `docs` and reject fractional types loudly —
    * the silent-truncation guard from the sourceQuota contract. Driver
    * -side analysis of a single-column projection; no job runs. Shared
    * with the streaming twin ([[graft.streaming.StreamingSourceQuota]])
    * so the contract has one definition.
    */
  /** The per-source REPORT CARD — the curation diagnostics joined into
    * one frame, the table a mixture owner actually reads before
    * re-weighting: per source, volume ([[Sampling.mixtureWeights]]'
    * doc/token counts and its α = 0.5 sampling share), vocabulary
    * novelty ([[TextDedup.sourceNovelty]]), and duplication pressure
    * ([[TextDedup.crossSourceDupMatrix]] folded to the source's
    * within-source pair count and its total cross-source pair
    * involvement). Pure composition — every column is the corresponding
    * verified operator's output, joined on the |sources|-row key, so the
    * report inherits their correctness gates; joins auto-broadcast at
    * |sources| rows.
    *
    * The three branches each re-scan the (column-pruned) corpus — the
    * [[Relevance]] tradeoff note applies: narrow extra passes beat
    * forcing unrelated aggregations through one shuffle.
    *
    * Output: (source, n_docs, n_tokens, weight_ppm, n_shingles,
    * n_exclusive, ppm_exclusive, n_dup_pairs_within, n_dup_pairs_cross).
    */
  def sourceReport(docs: DataFrame, dupThreshold: Double = 0.5): DataFrame = {
    val wts = graft.operators.Sampling.mixtureWeights(docs)
    val nov = TextDedup.sourceNovelty(docs)
    val m = SharedBranch.sharedBranch(
      TextDedup.crossSourceDupMatrix(docs, dupThreshold))
    val within = m.filter(col("source_x") === col("source_y"))
      .select(col("source_x").as("source"),
        col("n_dup_pairs").as("n_dup_pairs_within"))
    val cross = m.filter(col("source_x") =!= col("source_y"))
      .select(explode(array(col("source_x"), col("source_y"))).as("source"),
        col("n_dup_pairs"))
      .groupBy(col("source"))
      .agg(sum(col("n_dup_pairs")).as("n_dup_pairs_cross"))
    wts
      .join(nov, Seq("source"), "left")
      .join(within, Seq("source"), "left")
      .join(cross, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight_ppm"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_exclusive"), lit(0L)).as("n_exclusive"),
        coalesce(col("ppm_exclusive"), lit(0L)).as("ppm_exclusive"),
        coalesce(col("n_dup_pairs_within"), lit(0L)).as("n_dup_pairs_within"),
        coalesce(col("n_dup_pairs_cross"), lit(0L)).as("n_dup_pairs_cross"))
  }

  private[graft] def requireIntegralScore(docs: DataFrame, score: Column): Unit = {
    import org.apache.spark.sql.types._
    val dt = docs.select(score).schema.head.dataType
    require(dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType,
      s"sourceQuota score must be an integral column (got $dt): the bounded " +
        "aggregator's (Long, Long) encoder would silently truncate fractional " +
        "scores — scale to integer units (e.g. cents) first")
  }
}
