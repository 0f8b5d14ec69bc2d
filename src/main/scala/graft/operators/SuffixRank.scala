package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed truncated suffix ranking — the suffix-array construction
  * step underneath corpus-scale exact substring deduplication (Lee et
  * al., arXiv:2107.06499 build a suffix array of the concatenated
  * corpus; [[TextDedup.exactSubstringDupPairs]] covers the fixed-k
  * window form, this ranks every token suffix by its first
  * `prefixTokens` tokens — the order the full suffix array sorts by,
  * truncated at a known horizon).
  *
  * Algorithm: at a FIXED truncation horizon the classic Manber–Myers
  * doubling loop is unnecessary — the truncated suffix order IS the
  * lexicographic order of the tuple `(r₁(p), r₁(p+1), …,
  * r₁(p+h−1))` of single-token vocabulary ranks, 0-filled past the
  * document end (a shorter suffix that is a prefix of a longer one
  * sorts FIRST, the lexicographic rule; vocabulary ranks start at 1, so
  * the 0 fill can never collide with a real token). One corpus-global
  * dense rank of that tuple therefore produces BIT-IDENTICAL ranks to
  * log₂(h) doubling rounds — same equality classes, same order, same
  * dense numbering — for one doc-keyed window (h−1 `lead`s share one
  * sort) plus ONE range exchange, where doubling paid (window exchange
  * + range exchange + full-corpus localCheckpoint) PER ROUND (guide
  * §2.4/§5; the round-19 collapse — OPTIMIZATION_r19.md §10 records the
  * paired comparison against the doubling spelling).
  *
  * Scale shape — O(1) linear passes, never a comparison sort of
  * strings:
  *  - the corpus-global rank is range-partitioned
  *    [[PrefixSum.denseRank]] (contiguous global ranges, per-partition
  *    windows, broadcast offsets — no unpartitioned window, no driver
  *    zipWithIndex);
  *  - the k-ahead ranks are `lead(r, k)` per-doc windows (pos is dense,
  *    so row k ahead IS pos+k — one doc-keyed exchange for ALL h−1
  *    shifts, not a self-join per shift); the wide exchanges carry
  *    integer ranks, never text (the hashOnlyShuffle discipline);
  *  - token strings appear exactly once (the vocabulary rank), then the
  *    corpus rides as integers.
  *
  * Output: (doc_id, pos, srank) — pos 1-based token position, srank the
  * corpus-wide dense rank of the suffix's `prefixTokens`-token prefix.
  * Equal prefixes share a rank (ties broken nowhere: the rank IS the
  * truncated-suffix order, the input to dup-span extraction where equal
  * adjacent ranks mark repeated runs).
  */
object SuffixRank {

  def suffixRanks(docs: DataFrame, prefixTokens: Int = 8): DataFrame = {
    require(prefixTokens >= 1 && (prefixTokens & (prefixTokens - 1)) == 0,
      s"prefixTokens must be a power of two, got $prefixTokens")
    val toks = docs.select(col("doc_id"),
      posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("int").as("pos"), col("tok"))
    // rank of the 1-token prefix: the distinct-token table is
    // VOCABULARY-sized, so the distinct + rank + broadcast-join-back
    // spelling keeps the corpus un-exchanged (the token strings cross a
    // shuffle once per TYPE, never per occurrence)
    val vocabRank = PrefixSum.inclusive(
      toks.select(col("tok")).distinct().withColumn("_one", lit(1L)),
      Seq(col("tok")), col("_one"), "r").drop("_one")
    val r1 = toks.join(vocabRank, Seq("tok"))
      .select(col("doc_id"), col("pos"), col("r"))
    // ALL h−1 look-ahead ranks from ONE per-doc window (`pos` is dense:
    // posexplode emits 1..n with no gaps, so the rank at pos+k is
    // exactly `lead(r, k)`); a missing pos+k (past the doc's end) ranks
    // 0, the lexicographic shorter-suffix-first rule. No per-round
    // localCheckpoint remains: the single consumer chain below is
    // guarded by denseRank's own SharedBranch persist of the ranged
    // frame, so nothing here executes twice.
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val aheadCols = (1 until prefixTokens).map(k =>
      coalesce(lead(col("r"), k).over(wDoc), lit(0L)).as(s"_r$k"))
    val wide = r1.select(
      Seq(col("doc_id"), col("pos"), col("r")) ++ aheadCols: _*)
    val keys = col("r") +: (1 until prefixTokens).map(k => col(s"_r$k"))
    PrefixSum.denseRank(wide, keys, "srank")
      .select(col("doc_id"), col("pos"), col("srank"))
  }

  /** The use of the suffix order: a rank held by more than one position
    * marks a duplicated truncated suffix — Lee et al.'s
    * repeated-substring detection, read off the rank table with one
    * map-side-combinable aggregation. Output: (srank, n_occ, first_doc,
    * first_pos), the canonical occurrence being the (doc_id, pos)-least
    * (the keep-first convention of the substring-removal family).
    *
    * Truncated-tail semantics (deliberate, two regimes):
    *  - `fullWindowsOnly = false` (default): ranks are over TRUNCATED
    *    suffixes, so positions with fewer than `prefixTokens` tokens
    *    remaining can share a rank on a shorter-than-`prefixTokens`
    *    common tail (two documents ending in the same 7-token tail
    *    share a rank at horizon 8 — SuffixRankSpec's doc 5). Shared
    *    ranks here mean "identical to the end of the horizon OR to the
    *    end of the document", NOT "exactly prefixTokens tokens
    *    duplicated" — fine for corpus diagnostics, over-eager as a
    *    removal key.
    *  - `fullWindowsOnly = true`: positions with fewer than
    *    `prefixTokens` remaining tokens are dropped BEFORE the
    *    group-by, so every surviving shared rank is a genuine
    *    full-length duplicated window — the contract the span-removal
    *    family ([[TextDedup]]; `q_substring_removal_sa`) requires.
    *    Doc lengths are recovered from the rank table itself (`max(pos)`
    *    per doc — one extra map-side-combinable aggregation, rejoined on
    *    doc_id), then `pos ≤ len − prefixTokens + 1` keeps exactly the
    *    full-window positions.
    */
  def duplicateRuns(docs: DataFrame, prefixTokens: Int = 8,
      fullWindowsOnly: Boolean = false): DataFrame = {
    val ranks = suffixRanks(docs, prefixTokens)
    val base =
      if (!fullWindowsOnly) ranks
      else {
        val r = SharedBranch.sharedBranch(ranks)
        val lens = r.groupBy(col("doc_id")).agg(max(col("pos")).as("n_toks"))
        r.join(lens, Seq("doc_id"))
          .filter(col("pos") <= col("n_toks") - (prefixTokens - 1))
          .drop("n_toks")
      }
    base.groupBy(col("srank"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("n_occ") > 1)
      .select(col("srank"), col("n_occ"),
        col("first.doc_id").as("first_doc"), col("first.pos").as("first_pos"))
  }
}
