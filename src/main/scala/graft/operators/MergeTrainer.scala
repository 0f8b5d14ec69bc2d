package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The greedy merge-trainer round every BPE and WordPiece trainer runs
  * ([[Bpe.trainMergesBatched]], [[WordPiece.trainBatchedAndVocab]], and
  * their sequential forms, which are the same trainers at
  * `batchSize = 1`). One round is:
  *
  *  1. '''argmax''': rank the word table's adjacent-pair candidates in
  *     the trainer's total order (`ranked`) — the round's one
  *     corpus-sized, map-side-combinable aggregation — and collect the
  *     top `cap`;
  *  2. '''collect''': scan them in rank order with a used-symbol set,
  *     selecting a candidate iff none of {l, r, fused} was used by an
  *     already-selected pair, stopping at `batchSize` (greedy
  *     first-fit; the top-1 pair is always selected, so
  *     `batchSize = 1` is exactly sequential training);
  *  3. '''fold''': apply the selection to every word in one greedy
  *     left-to-right pass ([[fuseBatch]]) — never after the final
  *     round, whose table nobody reads;
  *  4. '''cut''': the lineage rule of [[FoldCheckpointEvery]].
  *
  * Selected pairs are pairwise symbol-disjoint, so their pair counts
  * are mutually invariant and the one-pass fold is order-free. Driver
  * state per round is the `cap` collected rows and the O(cap) scan.
  */
private[operators] object MergeTrainer {

  /** The lineage cut: the word table is `localCheckpoint`ed once this
    * many merges have been folded since the last cut. The folds chained
    * between cuts are narrow per-row rewrites of the word-type table, so
    * re-running them is cheap next to one materialization job per
    * round, while plan depth stays 4× under the 64-fold Catalyst
    * analysis cliff measured in FOLDDEPTH_r13.json. Earlier checkpoint
    * blocks free via GC/ContextCleaner once unreferenced.
    */
  val FoldCheckpointEvery = 16

  /** One selected merge: its global rank, the round that selected it,
    * the pair, its fused symbol, and the candidate row it was ranked by
    * (the trainer's counts).
    */
  final case class Merge(rank: Int, round: Int, left: String, right: String,
      fused: String, counts: Row)

  /** A word table (`cnt`, `syms` columns) under folding, with the
    * number of merges folded since its last lineage cut.
    */
  final case class Words(df: DataFrame, sinceCut: Int = 0) {
    def fold(pairs: Seq[(String, String, String)]): Words = {
      val next = df.withColumn("syms", fuseBatch(col("syms"), pairs))
      val folded = sinceCut + pairs.length
      if (folded >= FoldCheckpointEvery) Words(next.localCheckpoint())
      else Words(next, folded)
    }
  }

  /** Corpus-weighted adjacent-pair counts (l, r, c) of a word table —
    * ONE map-side-combinable aggregation.
    */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"),
        explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))

  /** One greedy left-to-right pass fusing a batch of symbol-disjoint
    * (l, r) → fused merges in a symbol array: when the accumulator's
    * last symbol is some `l` and the incoming one its `r`, the tail
    * becomes `fused` (repeated-pair runs fuse pairwise, "aaa" + (a, a)
    * → ["aa", "a"] — the standard BPE scan). Symbol-disjointness leaves
    * no application order to disagree about.
    */
  def fuseBatch(syms: Column, pairs: Seq[(String, String, String)]): Column =
    aggregate(syms, array().cast("array<string>"), (acc, ch) => {
      val appended = concat(acc, array(ch))
      val last = element_at(acc, -1)
      // one flat CASE: the empty-accumulator branch first, so `last` is
      // never read from an empty array
      pairs.foldLeft(when(size(acc) === 0, appended)) { case (branches, (l, r, f)) =>
        branches.when(last === lit(l) && ch === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(f))))
      }.otherwise(appended)
    })

  /** A trainer's candidate cap — `requested`, or `4 · batchSize` when it
    * is 0 — with its round arguments validated before any Spark work.
    */
  def candidateCap(rounds: Int, batchSize: Int, requested: Int): Int = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val cap = if (requested > 0) requested else 4 * batchSize
    require(cap >= batchSize, s"candidateCap $cap < batchSize $batchSize")
    cap
  }

  /** Run `rounds` rounds over `words`, ranking `firstRank` onward.
    * `ranked` orders a word table's candidate pairs (columns `l`, `r`
    * and the trainer's counts) by the trainer's total order; `fuse`
    * names a pair's fused symbol. Raises when a round finds no pair —
    * silent truncation would desynchronize the oracle twins.
    */
  def train(words: Words, rounds: Int, batchSize: Int, cap: Int,
      firstRank: Int, ranked: DataFrame => DataFrame,
      fuse: (String, String) => String): Seq[Merge] = {
    var w = words
    val merges = mutable.ArrayBuffer.empty[Merge]
    for (round <- 0 until rounds) {
      val cands = ranked(w.df).limit(cap).collect()
      require(cands.nonEmpty, s"corpus ran out of symbol pairs after ${merges.length} " +
        (if (firstRank == 0) "" else "extension ") + s"merges (round $round of $rounds)")
      val used = mutable.Set.empty[String]
      val picked = mutable.ArrayBuffer.empty[Merge]
      for (row <- cands if picked.length < batchSize) {
        val (l, r) = (row.getAs[String]("l"), row.getAs[String]("r"))
        val f = fuse(l, r)
        if (!used(l) && !used(r) && !used(f)) {
          picked += Merge(firstRank + merges.length + picked.length, round, l, r, f, row)
          used ++= Seq(l, r, f)
        }
      }
      merges ++= picked
      if (round < rounds - 1)
        w = w.fold(picked.map(m => (m.left, m.right, m.fused)).toSeq)
    }
    merges.toSeq
  }
}
