package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.sources.Tables
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The engine's tool entry point, one subcommand per job:
  *
  * {{{
  *   runMain graft.tools.Cli probe [q1 q2 ...]
  *   runMain graft.tools.Cli plans <outDir> <suffix> q1,q2,...
  *   runMain graft.tools.Cli plans-md
  * }}}
  *
  *  - `probe` prints each table's cached partition count (as the bench's
  *    preload freezes it), then runs each named query and prints its
  *    executed adaptive plan.
  *  - `plans` writes `explain("formatted")` of each named query to
  *    `<outDir>/<query>_<suffix>.txt`: the plans/rNN before/after evidence.
  *  - `plans-md` regenerates PLANS.md from the flagship queries at sf0.001,
  *    so plan quality is reviewable without running Spark.
  *
  * `probe` and `plans` read the SF directory [[graft.Bench]] times
  * (`SPARK_GRAFT_SF_DIR`). None of them times a query: [[graft.Bench]]
  * is the one timer.
  */
object Cli {
  def main(args: Array[String]): Unit = args.toList match {
    case "probe" :: names => probe(names)
    case List("plans", outDir, suffix, names) => plans(outDir, suffix, names)
    case List("plans-md") => plansMd()
    case _ => sys.error(
      "usage: Cli probe [q1 q2 ...] | plans <outDir> <suffix> q1,q2,... | plans-md")
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = GraftSession.local("graft-cli")
    try body(spark) finally spark.stop()
  }

  private def release(spark: SparkSession): Unit = {
    Tables.evictPinned(spark, blocking = true)
    Tables.releaseLocalCheckpoints(spark)
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def probe(names: Seq[String]): Unit = {
    val picked = if (names.isEmpty) Nil else SparkEntry.selected(Some(names.mkString(",")))
    withSession { spark =>
      val dir = Bench.sfDir
      Tables.preload(spark, dir)
      for (t <- Seq("events", "documents", "embeddings", "lineitem", "orders")) {
        val df = Tables.load(spark, dir, t)
        println(s"$t: cached partitions = ${df.rdd.getNumPartitions}, rows = ${df.count()}")
      }
      picked.foreach { case (q, fn) =>
        val df = fn(spark, dir)
        df.collect()
        println(s"=== final adaptive plan for $q")
        println(df.queryExecution.executedPlan.toString.take(20000))
        release(spark)
      }
    }
  }

  private def plans(outDir: String, suffix: String, names: String): Unit = {
    val picked = SparkEntry.selected(Some(names))
    withSession { spark =>
      Files.createDirectories(Paths.get(outDir))
      picked.foreach { case (name, fn) =>
        try {
          Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), formatted(fn(spark, Bench.sfDir)))
          println(s"[plans] wrote $outDir/${name}_$suffix.txt")
        } catch {
          case e: Throwable => System.err.println(s"[plans] $name failed: ${e.getMessage}")
        } finally release(spark)
      }
    }
  }

  private val flagships = Seq(
    "q_route_dispatch" -> "routing core: decode -> rules -> multicast explode -> disposition",
    "q_source_scan" -> "projection + filter pushdown to parquet",
    "q_join_revenue" -> "broadcast dimension join + decimal agg",
    "q_sort_topk" -> "top-k (TakeOrderedAndProject)",
    "q_sessionize" -> "two windows + rollup on one shuffle",
    "q_lsh_candidates" -> "MinHash-LSH banding candidate join",
    "q_simhash_dups" -> "Hamming-LSH banding: band-key join + first-band dedup + bit_count verify",
    "q_embed_topk" -> "broadcast brute-force cosine top-k",
    "q_asof_join" -> "backward as-of join: sorted-union, one shuffle on keys",
    "q_range_join" -> "interval join: bucketed equi-join + residual filter",
    "q_pack_windows" -> "context packing over distributed prefix sum",
    "q_bm25" -> "quantized BM25: term-filtered agg + broadcast DF/totals",
    "q_embed_pq" -> "PQ ADC: codes join broadcast lookup tables",
    "q_embed_ivfpq" -> "composed IVF-PQ: probed buckets -> ADC over codes -> exact refine of the shortlist",
    "q_knn_graph_bounded" -> "skew-bounded k-NN graph: multi-probe (bucket, sub-bucket) equi-join",
    "q_incremental_dedup" -> "incremental dedup: cross-side fingerprint + band joins",
    "q_bpe_pretok_train_batched" -> "GPT-2 pretok batched training round: regexp_extract_all pre-split explode -> distinct-word hash-agg (byte-unit encode AFTER the agg) -> pair-count partial agg",
    "q_unigram_prune_loss" -> "likelihood-loss prune: one UnigramLossDelta reference object per DISTINCT word (excluded-forward DPs inside), vocabulary-bounded decimal agg",
    "q_semdedup" -> "SemDeDup: narrow codegen cluster assign + within-cluster cosine join",
    "q_substring_dups" -> "exact-substring dedup: window-hash bucket join",
    "q_containment_capped" -> "containment with the maxDf stop-shingle anti-join before the self-join",
    "q_line_dedup_hashed" -> "line dedup, hash-only shuffles: 64-bit keys in the wide exchanges, strings re-attach on (doc_id, pos)",
    "q_minhash_recall" -> "measured LSH recall: banded pipeline LEFT-joined under the exact twin",
    "q_lm_score" -> "bigram LM score: TakeOrderedAndProject vocab cap, one doc_id window exchange, bigram pre-agg reuses its partitioning",
    "q_source_quota" -> "per-source quota: BoundedTopN aggregate with partial (map-side) combine — no per-key ranking window",
    "q_embed_ivfpq_indexed" -> "persisted IVF-PQ index: probed buckets as a static partition filter on the bucket-partitioned parquet scan (PartitionFilters), codes-only rows, refine fetches vectors by id",
    "q_embed_ivfpq_append" -> "GROWN IVF-PQ index: the probe is oblivious to growth — the same static bucket filter prunes across every (bucket, batch) partition, appended batches included",
    "q_epoch_shuffle" -> "seeded epoch shuffle: range exchange on the uniform hash key + per-partition rank + broadcast offset/total frames — no single-task window",
    "q_token_shift" -> "snapshot drift: two partial-agg explode chains, token-keyed full outer join, broadcast 1-row totals, TakeOrderedAndProject top-k (no vocabulary sort)",
    "q_dup_matrix" -> "cross-source dup matrix: the banded LSH verify chain reused, pair-to-source equi-joins, tiny (|sources|^2-bounded) final agg",
    "q_pipeline_e2e" -> "end-to-end curation pipeline: six stages behind localCheckpoint handoffs (plan shows only the final pack over the checkpointed survivors)",
    "q_substring_removal_hashed" -> "substring span removal, hash-only shuffles: 64-bit window keys in the wide exchanges, collision residue string-keyed behind a broadcast, reassembly by doc-keyed join + narrow indexed filter",
    "q_hash_classifier" -> "hashed-feature linear classifier: exploded token stream joins the broadcast weight table, one doc_id shuffle for the map-side-combinable score sum",
    "q_doc_novelty" -> "per-doc novelty: map-side-combinable shingle df agg, unique set returns via AQE-splittable semi-join (no per-shingle window sort), n_shingles never shuffles",
    "q_mixture_weights" -> "temperature mixture weights: one source-keyed token agg + broadcast 1-row sqrt-weight total",
    "q_leakage_split" -> "leakage-safe split: banded dedup pair graph -> components -> doc-keyed cluster-key join -> narrow hash split",
    "q_event_rate_cap" -> "event rate cap: BoundedTopN on (user, window) with map-side partial combine — no per-burst ranking window",
    "q_source_report" -> "per-source report card: three verified report branches joined on the |sources|-row key",
    "q_importance_weights" -> "DSIR importance weights: one exploded feature stream (SharedBranch) feeds bucket counts + broadcast totals, corpus shuffles once on doc_id",
    "q_winnow_dups" -> "winnowing match step: narrow nested-HOF fingerprint selection, df-capped fp-keyed self-join (the containment discipline)",
    "q_suffix_rank" -> "prefix-doubling suffix ranks: (doc_id,pos)-keyed shift joins + range-partitioned PrefixSum dense ranks, integer-only wide exchanges (plan shows the final checkpointed round)",
    "q_bpe_segment" -> "BPE train-then-apply: narrow chained greedy folds over the token stream — documents never shuffle",
    "q_quality_ensemble" -> "Borda ensemble: three verified signal chains, per-signal prefix-sum ranks (no single-task global window), doc_id-keyed join-up",
    "q_embed_jl_recall" -> "JL dimension reduction recall: narrow signed-projection fold, both spaces' broadcast top-k, left-join hit count",
    "q_unigram_encode" -> "unigram-LM Viterbi encode: ONE codegen reference-object expression + posexplode — documents never shuffle",
    "q_bpe_windows_batched" -> "end-to-end batched chain: trained table frozen into one BpeEncode node, EOD union, global window position via range-partitioned PrefixSum (training itself is driver-bounded collect state, outside this plan)",
    "q_token_windows_strided" -> "strided eval windows: the SAME single PrefixSum global position, covering windows as a bounded map-side explode (blow-up = config ratio, no extra shuffle)",
    "q_fim_transform" -> "FIM PSM reorder: ENTIRELY NARROW — one BpeEncode reference-object call, array slice/concat, posexplode; no join, no exchange",
    "q_span_corruption" -> "T5 span corruption: narrow block/span flags, sentinel ordinals + both streams' positions on ONE doc_id window exchange",
    "q_stupid_backoff" -> "trigram stupid-backoff: train/score halves each pay one doc_id window exchange; c1/N broadcast, c2/c3 keyed joins under AQE; 1-row N frame carries the loud int64 envelope",
    "q_length_pack" -> "length-bucketed packing: pow-2 bucket CASE ladder, within-bucket rank via range-partitioned PrefixSum + broadcast <=10-row offsets (never Window.partitionBy(bucket))",
    "q_chunk_dedup" -> "sequence-level chunk dedup: narrow chunker, ONE chunk_text-keyed exchange feeding both window functions",
    "q_mixture_budget" -> "mixture-budget materialization: per-source running token sums via range-partitioned PrefixSum + broadcast |sources|-row base offsets (no per-source window)",
    "q_session_concurrency" -> "interval concurrency sweep: map-side per-timestamp delta agg, PrefixSum running sum (no single-task sort)",
    "q_oov_rate" -> "held-out OOV report: broadcast frozen capped vocabulary, one doc-keyed aggregation, LEFT-join-at-0 tail",
    "q_bpe_bytes_encode" -> "byte-level BPE emit: ONE BpeEncode(byteLevel) reference-object node applying unit-encode + merges per row — entirely narrow, documents never shuffle (training is driver-bounded collect state, outside this plan)",
    "q_unigram_usage_soft" -> "soft-EM E-step: the forward-backward lattice as ONE UnigramSoftCounts reference-object node over the DISTINCT-WORD table (never corpus-sized), vocabulary-bounded usage agg, broadcast model-frame LEFT join keeps zero rows",
    "q_wp_encode" -> "WordPiece greedy emit: ONE WordPieceEncode reference-object node (vocabulary as a hash set, constant plan size) + posexplode — documents never shuffle (training is driver-bounded collect state, outside this plan)",
    "q_gopher_ngram" -> "Gopher repetition signals: ONE union-frame (doc, n, ngram) count shuffle per family (never one pass per n), dup coverage as a bounded <=n explode + positional-union distinct, every aggregation doc-keyed",
    "q_mlm_mask" -> "BERT MLM mask: narrow hash/branch arithmetic on the token stream, broadcast 1-row vocab-size frame + broadcast dictionary join for the random draw — no corpus shuffle",
    "q_nsp_pairs" -> "NSP pairs: per-doc lead window (millions of small groups), PrefixSum dense doc index, the NotNext minority half pays two equi-joins + a broadcast 1-row n_docs frame",
    "q_bert_examples_trunc" -> "truncate_seq_pair: the four-counter trim fold is ONE narrow aggregate HOF on the pair stream (per-step rolling hash inside) — no new shuffle over the untruncated assembly",
    "q_bert_tensors" -> "BERT tensor feed: capped MLM's doc-partitioned window pair shares ONE doc_id exchange, both id lookups broadcast, the token_type/is_next join-back is (doc,pos)-keyed SMJ",
    "q_wwm_mask_capped" -> "wwm budget cap: word regroup + per-doc skip-continue fold ride the word-ordinal window's existing doc_id hash — the cap adds aggregations, not corpus exchanges",
    "q_ul2_denoisers" -> "UL2 R/X/S mixture: the span-corruption shape — narrow denoiser/block/pivot arithmetic, sentinel ordinals + token count + both streams' positions all on ONE doc_id window exchange",
    "q_kn_modified" -> "modified Kneser-Ney: bigram-type table SharedBranch feeds count-of-counts (1-row broadcast, loud assert) + per-context conditional sums (broadcast) + continuation counts — one corpus adjacency exchange total",
    "q_skipgram_pairs" -> "skip-gram pairs: OOV-compact + leads on ONE doc_id window exchange, both directions materialized from one lead, negatives = narrow hash + broadcast dictionary join",
    "q_glove_cooc" -> "GloVe co-occurrence: the same one-exchange lead shape collapsing into a vocab^2-bounded map-side-combinable hash agg — corpus-size-independent output",
    "q_bpe_dropout" -> "BPE-dropout emit: ONE dropout-parameterized BpeEncode reference-object node per epoch — entirely narrow, documents never shuffle",
    "q_ict_pairs" -> "Inverse Cloze Task: ENTIRELY NARROW — sentence split + hash draws + array filter/join per row; no join, no exchange",
    "q_doc_line_dedup" -> "within-doc line dedup: one HOF filter (array_position first-occurrence test) — zero shuffle, a pure map stage",
    "q_kn_trigram" -> "trigram KN order recursion: ONE adjacency window exchange, trigram-type SharedBranch feeding context/continuation aggs, per-v/per-w broadcast, (v,w)/(u,v) keyed joins",
    "q_pii_scrub" -> "typed PII scrub: three regexp count+replace stages per row — ENTIRELY NARROW, no join, no exchange",
    "q_ppl_buckets" -> "CCNet terciles: the LM pass + quantile-boundary PrefixSum + a <=2-rows-per-group broadcast boundary join + narrow CASE")

  private def plansMd(): Unit = withSession { spark =>
    val sb = new StringBuilder
    sb.append("# PLANS — `explain(\"formatted\")` of the flagship queries\n\n")
    sb.append("Auto-generated by `graft.tools.Cli plans-md` at sf0.001. What to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `WholeStageCodegen` spans,\n")
    sb.append("`BroadcastHashJoin` on dimensions, `TakeOrderedAndProject` for top-k,\n")
    sb.append("and the absence of `Exchange` in the routing core.\n")
    flagships.foreach { case (name, note) =>
      val plan = formatted(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))
      // FormattedMode re-prints every InMemoryRelation body at each
      // reference — the six-stage pipeline plan inflates to megabytes.
      // Cap a section at 64 KB: the head of the tree (the final stages
      // and their exchanges) is the reviewable part.
      val shown =
        if (plan.length <= 65536) plan
        else plan.take(65536) +
          s"\n… (truncated: ${plan.length} chars total — repeated cached-relation bodies)\n"
      sb.append(s"\n## $name — $note\n\n```\n$shown```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
  }
}
