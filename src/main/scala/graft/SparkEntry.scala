package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Hashing
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2.C + §7.
  *
  * Every entry in `queries` has a DuckDB-equivalent in `oracleSql` over
  * the same parquet tables; column names and types are aligned on both
  * sides (the driver sorts columns by name and hash-compares values).
  * Determinism rules (SURVEY §2.C): total ORDER BY everywhere; arrays
  * sorted; money sums via DECIMAL (order-independent) then DOUBLE;
  * ratios of integers left as exact doubles; timestamps stringified.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    InvertedIndex.postings(Tables(spark, "/root/testdata/sf0.001", "documents"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    // ---- core index pipeline (reference parity, R5–R16) ----
    "q01_tokenize" -> ((s, d) => InvertedIndex.tokens(Tables(s, d, "documents"))),
    // driver shape: postings as a space-joined string (the pandas
    // comparator cannot hash ARRAY columns — round-1 q02/q37 err);
    // InvertedIndex.postings keeps the typed-array library API
    "q02_postings" -> ((s, d) => InvertedIndex.postingsStr(Tables(s, d, "documents"))),
    "q03_index_format" -> ((s, d) => InvertedIndex.indexFormat(Tables(s, d, "documents"))),
    // ---- index query algebra ----
    "q04_df_topk_per_letter" -> ((s, d) => InvertedIndex.topkPerLetter(Tables(s, d, "documents"), 5)),
    "q05_doc_set_and" -> ((s, d) => InvertedIndex.docSetAnd(Tables(s, d, "documents"), "batch", "scan")),
    "q06_doc_set_except" -> ((s, d) => InvertedIndex.docSetExcept(Tables(s, d, "documents"), "batch", "slow")),
    // ---- relational surface ----
    "q07_scan_filter_project" -> ((s, d) => Relational.scanFilterProject(Tables(s, d, "lineitem"))),
    "q08_agg_groupby" -> ((s, d) => Relational.aggGroupBy(Tables(s, d, "lineitem"))),
    "q09_join_broadcast" -> ((s, d) =>
      Relational.joinBroadcast(Tables(s, d, "customer"), Tables(s, d, "nation"), Tables(s, d, "region"))),
    "q10_join_semi_anti" -> ((s, d) =>
      Relational.joinSemiAnti(Tables(s, d, "customer"), Tables(s, d, "orders"))),
    "q11_window_running" -> ((s, d) => Relational.windowRunning(Tables(s, d, "orders"))),
    "q12_rollup_agg" -> ((s, d) => Relational.rollupAgg(Tables(s, d, "orders"))),
    "q13_sort_limit" -> ((s, d) => Relational.sortLimit(Tables(s, d, "orders"), 10)),
    "q14_distinct_count" -> ((s, d) => Relational.distinctCount(Tables(s, d, "lineitem"))),
    "q15_set_union" -> ((s, d) =>
      Relational.setUnion(Tables(s, d, "customer"), Tables(s, d, "supplier"))),
    // ---- semi-structured + temporal ----
    "q16_json_extract" -> ((s, d) => Events.jsonExtract(Tables(s, d, "events"))),
    "q17_date_trunc_agg" -> ((s, d) => Events.dateTruncAgg(Tables(s, d, "events"))),
    // ---- LLM-pipeline extensions ----
    "q18_near_dup_jaccard" -> ((s, d) =>
      Dedup.nearDupPairsShared(Tables(s, d, "documents"), 1000L, 0.95)),
    "q19_cosine_topk" -> ((s, d) => Similarity.cosineTopK(Tables(s, d, "embeddings"), 20, 3)),
    "q20_text_stats" -> ((s, d) => TextAnalysis.textStats(Tables(s, d, "documents"))),
    // ---- LLM-pipeline: dedup family ----
    "q21_dedup_exact" -> ((s, d) => Dedup.exactDedup(Tables(s, d, "documents"))),
    "q22_minhash_lsh" -> ((s, d) => Dedup.minhashNearDup(Tables(s, d, "documents"), 0.95)),
    "q23_simhash" -> ((s, d) => Dedup.simhash(Tables(s, d, "documents"))),
    "q24_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Tables(s, d, "documents"), 3, 200L, 0.55)),
    // ---- LLM-pipeline: similarity family ----
    "q25_embed_neardup" -> ((s, d) => Similarity.embedNearDup(Tables(s, d, "embeddings"), 500L, 0.4)),
    "q26_ann_lsh" -> ((s, d) => Similarity.lshAnn(Tables(s, d, "embeddings"), 20, 3)),
    // ---- LLM-pipeline: text analysis family ----
    "q27_lang_id" -> ((s, d) => TextAnalysis.langId(Tables(s, d, "documents"))),
    "q28_quality_score" -> ((s, d) => TextAnalysis.qualityScore(Tables(s, d, "documents"))),
    "q29_token_count" -> ((s, d) => TextAnalysis.tokenCount(Tables(s, d, "documents"))),
    "q30_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables(s, d, "documents"))),
    // ---- LLM-pipeline: multimodal plumbing (stubbed codec) ----
    "q31_media_features" -> ((s, d) => Multimodal.mediaFeatures(s, Tables(s, d, "documents"))),
    // ---- grouping-set + window-navigation breadth ----
    "q32_cube_agg" -> ((s, d) => Relational.cubeAgg(Tables(s, d, "orders"))),
    "q33_lag_lead" -> ((s, d) => Events.lagLead(Tables(s, d, "events"))),
    "q34_from_json" -> ((s, d) => Events.fromJsonAgg(Tables(s, d, "events"))),
    "q35_set_intersect_except" -> ((s, d) =>
      Relational.setIntersectExcept(Tables(s, d, "customer"), Tables(s, d, "supplier"))),
    "q36_date_parts" -> ((s, d) => Relational.datePartsAgg(Tables(s, d, "orders"))),
    // typed-Aggregator twin of q02 (UDAF surface; same oracle semantics)
    "q37_postings_typed" -> ((s, d) => InvertedIndex.postingsTypedStr(Tables(s, d, "documents"))),
    // salting demo under oracle (salt never escapes the plan)
    "q38_salted_join" -> ((s, d) => Skew.saltedWordJoin(Tables(s, d, "documents"))),
    // HLL sketch — deliberately NOT in oracleSql (engines' HLLs differ);
    // driver records the weaker rows-only check, ScalaTest bounds error
    "q39_approx_distinct" -> ((s, d) => Relational.approxDistinct(Tables(s, d, "lineitem"))),
    "q40_median" -> ((s, d) => Relational.medianValue(Tables(s, d, "events"))),
    "q41_tfidf" -> ((s, d) => TextAnalysis.tfidfTopTerms(Tables(s, d, "documents"), 5)),
    "q42_theta_join" -> ((s, d) =>
      Relational.thetaJoin(Tables(s, d, "lineitem"), Tables(s, d, "orders"))),
    // IVF twin of q26: broadcast codebook -> cell assignment -> in-cell probe
    "q43_ivf_ann" -> ((s, d) => Similarity.ivfAnn(Tables(s, d, "embeddings"), 20, 3)),
    // training-pipeline: fixed-width overlapping char chunks
    "q44_chunk_docs" -> ((s, d) => TextAnalysis.chunkDocs(Tables(s, d, "documents"), 200, 150)),
    // training-pipeline: deterministic hash-bucket train/val split
    "q45_sample_split" -> ((s, d) => Sampling.hashSplit(Tables(s, d, "documents"))),
    // as-of join (union + one window per key, no range-join explosion)
    "q46_asof_join" -> ((s, d) => Events.purchaseAsofClick(Tables(s, d, "events"))),
    // PIVOT with a declared value list (one shuffle, no discovery job)
    "q47_pivot_agg" -> ((s, d) => Relational.pivotAgg(Tables(s, d, "orders"))),
    // UNPIVOT/melt: wide -> long via Expand, no shuffle
    "q48_unpivot" -> ((s, d) => Relational.unpivotAgg(Tables(s, d, "orders"))),
    // near-dup connected components -> canonical doc per cluster
    "q49_dedup_clusters" -> ((s, d) => Dedup.dedupClusters(Tables(s, d, "documents"), 1000L, 0.95)),
    // duplicate-ngram quality rule (boilerplate/spam signal)
    "q50_repetition" -> ((s, d) => TextAnalysis.repetitionScore(Tables(s, d, "documents"))),
    // full percentile ladder in one aggregation pass
    "q51_quantiles" -> ((s, d) => Relational.quantileProfile(Tables(s, d, "events"))),
    // deterministic Pearson r from exact DECIMAL power sums
    "q52_corr" -> ((s, d) => Relational.corrStats(Tables(s, d, "lineitem"))),
    // regex occurrences per document (portable grammar subset)
    "q53_regex" -> ((s, d) => TextAnalysis.regexExtract(Tables(s, d, "documents"))),
    // gap-based batch sessionization (two windows, one exchange)
    "q54_sessionize" -> ((s, d) => Events.sessionize(Tables(s, d, "events"))),
    // LISTAGG: deterministic ordered string concatenation per group
    "q55_stringagg" -> ((s, d) => Relational.stringAgg(Tables(s, d, "customer"))),
    // ntile / percent_rank / cume_dist in one window
    "q56_rank_ladder" -> ((s, d) => Relational.rankLadder(Tables(s, d, "events"))),
    // scalar subquery through the spark.sql text surface
    "q57_scalar_subquery" -> ((s, d) => Relational.scalarSubquery(Tables(s, d, "events"))),
    // the LINEAR-SCALE dedup decision path a 100 TB pipeline actually
    // runs: LSH candidate edges (no O(n²) stage) -> connected components
    "q58_dedup_clusters_scale" -> ((s, d) => Dedup.dedupClustersScale(Tables(s, d, "documents"), 0.95)),
    // exact-dedup OUTPUT relation: canonical doc + copy count, one shuffle
    "q59_dedup_keep" -> ((s, d) => Dedup.dedupKeep(Tables(s, d, "documents"))),
    // train/eval contamination: char-12-gram overlap vs bounded eval set
    "q60_contamination" -> ((s, d) => TextAnalysis.contamination(Tables(s, d, "documents"))),
    // per-stratum deterministic hash-sample audit (equal rate per lang)
    "q61_stratified_sample" -> ((s, d) => Sampling.stratifiedSample(Tables(s, d, "documents"))),
    // bigram language model: counts + conditional probabilities, top-k
    "q62_bigram_lm" -> ((s, d) => TextAnalysis.bigramLm(Tables(s, d, "documents"))),
    // tumbling 6h time buckets (batch twin of the streaming window agg)
    "q63_time_buckets" -> ((s, d) => Events.timeBuckets(Tables(s, d, "events"))),
    // per-group argmax via struct-max aggregation (no window sort)
    "q64_argmax" -> ((s, d) => Relational.argmaxPerGroup(Tables(s, d, "events"))),
    // per-dimension embedding stats (normalization pre-pass)
    "q65_dim_stats" -> ((s, d) => Similarity.dimStats(Tables(s, d, "embeddings"))),
    // PII-style redaction: regexp_replace projection + match counts
    "q66_redact" -> ((s, d) => TextAnalysis.redact(Tables(s, d, "documents"))),
    // multiset INTERSECT ALL / EXCEPT ALL with visible multiplicities
    "q67_set_all" -> ((s, d) =>
      Relational.setAllOps(Tables(s, d, "customer"), Tables(s, d, "supplier"))),
    // sharded greedy sequence packing to a fixed token budget
    "q68_pack_sequences" -> ((s, d) => Sampling.packSequences(Tables(s, d, "documents"))),
    // the keep/drop corpus filter composing lang/quality/repetition
    "q69_filter_pipeline" -> ((s, d) => TextAnalysis.filterPipeline(Tables(s, d, "documents"))),
    // trailing 1h RANGE-frame sliding sum per user
    "q70_trailing_window" -> ((s, d) => Events.trailingWindowSum(Tables(s, d, "events"))),
    // SimHash signatures put to use: Hamming-distance candidate pairs
    "q71_simhash_match" -> ((s, d) => Dedup.simhashMatch(Tables(s, d, "documents"), 1000L, 3)),
    // explicit GROUPING SETS via the spark.sql text surface
    "q72_grouping_sets" -> ((s, d) => Relational.groupingSetsAgg(Tables(s, d, "orders"))),
    // correlated EXISTS subquery (TPC-H Q4 shape), decorrelated by Catalyst
    "q73_exists_subquery" -> ((s, d) =>
      Relational.existsSubquery(Tables(s, d, "orders"), Tables(s, d, "lineitem"))),
    // first_value / last_value / nth_value over an unbounded frame
    "q74_window_nav" -> ((s, d) => Relational.windowNav(Tables(s, d, "events"))),
    // TPC-H Q3 shape: selective dim filter -> 3-table join -> top-k revenue
    "q75_tpch_q3" -> ((s, d) =>
      Relational.tpchQ3(Tables(s, d, "customer"), Tables(s, d, "orders"), Tables(s, d, "lineitem"))),
    // correlated scalar subquery (per-user mean), decorrelated by Catalyst
    "q76_correlated_scalar" -> ((s, d) => Relational.correlatedScalar(Tables(s, d, "events"))),
    // TPC-H Q14 shape: broadcast part dim + conditional DECIMAL aggregation
    "q77_promo_revenue" -> ((s, d) =>
      Relational.promoRevenue(Tables(s, d, "lineitem"), Tables(s, d, "part"))),
    // pack assembly: q68's assignment materialized into training sequences
    "q78_pack_assembly" -> ((s, d) => Sampling.assemblePacks(Tables(s, d, "documents"))),
    // vocab construction stat: top-k words + cumulative corpus coverage
    "q79_vocab_freq" -> ((s, d) => TextAnalysis.vocabFreq(Tables(s, d, "documents"), 20)),
    // corpus profiling: docs per token-length bucket
    "q80_length_histogram" -> ((s, d) => TextAnalysis.lengthHistogram(Tables(s, d, "documents"))),
    // FULL OUTER join with explicit null-extension handling
    "q81_full_outer" -> ((s, d) =>
      Relational.fullOuterPresence(Tables(s, d, "customer"), Tables(s, d, "supplier"))),
    // exact substring-span dedup: per-doc duplicated 8-token-span fraction
    "q82_span_dedup" -> ((s, d) => Dedup.spanDedup(Tables(s, d, "documents"))),
    // percentile-band length filter: docs inside the exact [p10, p90] band
    "q83_length_band" -> ((s, d) => TextAnalysis.lengthBandFilter(Tables(s, d, "documents"))),
    // word-association mining: top-k co-occurring pairs by PMI
    "q84_pmi_pairs" -> ((s, d) => TextAnalysis.pmiPairs(Tables(s, d, "documents"))),
    // multimodal frame sampling: stride-sample fixed-width payload frames
    "q85_frame_sample" -> ((s, d) => Multimodal.frameSample(s, Tables(s, d, "documents"))),
    // order-sensitive session funnel: click strictly before purchase
    "q86_session_funnel" -> ((s, d) => Events.sessionFunnel(Tables(s, d, "events"))),
    // int8 scalar quantization audit over the embedding column
    "q87_quantize_embed" -> ((s, d) => Similarity.quantizeStats(Tables(s, d, "embeddings"))),
    // perplexity-filter signal: mean bigram log-prob under the corpus LM
    "q88_lm_score" -> ((s, d) => TextAnalysis.lmScore(Tables(s, d, "documents"))),
    // the stored-sketch relation: MinHash signatures + LSH band keys
    "q89_minhash_signatures" -> ((s, d) => Dedup.minhashSignatures(Tables(s, d, "documents"))),
    // q89's consumer: today's batch band-joins yesterday's stored sketches
    "q90_incremental_neardup" -> ((s, d) => Dedup.incrementalNearDup(Tables(s, d, "documents"), 250L, 0.95)),
    // q71's linear-scale twin: pigeonhole band-blocked Hamming join.
    // Pinned to the 28-bit polyHash shape — the only width DuckDB can
    // replay; the production simhashMatchScale routes to the 64-bit
    // family (spec-gated in SimHash64Spec, no cross-engine mirror)
    "q91_simhash_match_scale" -> ((s, d) => Dedup.simhashMatch28(Tables(s, d, "documents"), 3)),
    // q43's documented plug-in realized: k-means-trained IVF codebook
    // (2 Lloyd rounds, quantized-integer centroid means) + assignment
    "q92_kmeans_ivf" -> ((s, d) => Similarity.kmeansAssign(Tables(s, d, "embeddings"))),
    // SemDeDup shape: cell-bucketed embedding near-dup edges -> components
    "q93_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(Tables(s, d, "embeddings"), 0.4)),
    // the q90 story for SimHash: new batch block-probes stored q23 sigs
    "q94_incremental_simhash" -> ((s, d) => Dedup.incrementalSimhashMatch(Tables(s, d, "documents"), 250L, 3)),
    // positional index: word -> doc -> token offsets for a term set
    "q95_positional_index" -> ((s, d) =>
      InvertedIndex.positionalPostings(Tables(s, d, "documents"), Seq("spark", "join", "batch"))),
    // exact-phrase match over raw-split positions (single window pass);
    // phrase chosen to occur at every driver scale (5/5/11 docs)
    "q96_phrase_search" -> ((s, d) =>
      InvertedIndex.phraseSearch(Tables(s, d, "documents"), Seq("small", "query", "line"))),
    // within-k proximity via position-block equi-join (blocked ≡ naive)
    "q97_proximity_search" -> ((s, d) =>
      InvertedIndex.proximitySearch(Tables(s, d, "documents"), "spark", "join", 3)),
    // incremental index maintenance: stored postings + new batch merge;
    // the oracle rebuilds from scratch, so hash match ⟹ merge ≡ rebuild
    "q98_index_merge" -> ((s, d) => InvertedIndex.indexMerge(Tables(s, d, "documents"), 250L)),
    // BM25 ranked retrieval — the scoring query the index exists to serve
    "q99_bm25" -> ((s, d) =>
      InvertedIndex.bm25Search(Tables(s, d, "documents"), Seq("spark", "join", "batch"), 20)),
    // TPC-H Q5 shape: 6-table join graph with co-nationality constraint
    "q100_tpch_q5" -> ((s, d) => Relational.tpchQ5(
      Tables(s, d, "region"), Tables(s, d, "nation"), Tables(s, d, "customer"),
      Tables(s, d, "supplier"), Tables(s, d, "orders"), Tables(s, d, "lineitem"))),
    // data mixing: per-source byte budget via distributed prefix sum;
    // the oracle states the plain windowed form (prefix-sum ≡ window)
    "q101_mix_budget" -> ((s, d) => Sampling.mixBudget(Tables(s, d, "documents"), 4000L)),
    // q43's probe over the q92-TRAINED codebook (the last r3 stretch
    // realized as an oracle-gated query)
    "q102_trained_ann" -> ((s, d) =>
      Similarity.ivfAnn(Tables(s, d, "embeddings"), 20, 3, iters = 2)),
    // hybrid retrieval: BM25 ranks fused with embedding-cosine ranks
    // by RRF — capped lists, rank-based (exactly cross-engine)
    "q103_hybrid_rrf" -> ((s, d) => Similarity.hybridRrf(
      Tables(s, d, "documents"), Tables(s, d, "embeddings"),
      Seq("spark", "join", "batch"), 0L, 100, 20)),
    // Unicode (\p{L}) tokenizer path beside the ASCII parity one:
    // per-lang token stats + ASCII/Unicode divergence audit
    "q104_unicode_tokens" -> ((s, d) =>
      TextAnalysis.unicodeTokenStats(Tables(s, d, "documents"))),
    // q98's merge story for the POSITIONAL relation: stored lists +
    // new batch full-outer merge on (word, doc_id); the oracle
    // rebuilds from scratch ⟹ hash match proves merge ≡ rebuild
    "q105_positional_merge" -> ((s, d) =>
      InvertedIndex.positionalMerge(Tables(s, d, "documents"), 250L,
        Seq("spark", "join", "batch"))),
    // product quantization: per-subspace Lloyd codebooks, PQ encode,
    // asymmetric (full-precision query × reconstruction) top-k probe
    "q106_pq_ann" -> ((s, d) => Similarity.pqAnn(Tables(s, d, "embeddings"), 20, 3)),
    // IVF-PQ proper: q43's coarse cells pick the candidates, q106's
    // reconstructions score them — the IVFADC serving shape
    "q107_ivfpq_ann" -> ((s, d) => Similarity.ivfPqAnn(Tables(s, d, "embeddings"), 20, 3)),
    // TPC-H Q18 shape: HAVING-gated aggregate-then-join (big orders)
    "q108_tpch_q18" -> ((s, d) => Relational.tpchQ18(
      Tables(s, d, "customer"), Tables(s, d, "orders"), Tables(s, d, "lineitem"))),
    // temperature-based domain mixing: rates ∝ bytes^α, hash-gated
    "q109_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMix(Tables(s, d, "documents"))),
    // TPC-H Q21 shape: EXISTS + NOT EXISTS double correlation, both
    // decorrelated by Catalyst (semi + anti join, never per-row loops)
    "q110_tpch_q21" -> ((s, d) => Relational.tpchQ21(
      Tables(s, d, "supplier"), Tables(s, d, "orders"), Tables(s, d, "lineitem"))),
    // integer-arithmetic PageRank over the q49 near-dup edge graph;
    // the oracle unrolls the same 3 damped rounds
    "q111_pagerank" -> ((s, d) => Graph.pageRank(Tables(s, d, "documents"))),
    // triangle counting over the same graph: degree-oriented wedge
    // join (out-degree bounded by O(√m)) + local clustering coeff
    "q112_triangles" -> ((s, d) => Graph.triangles(Tables(s, d, "documents"))),
    // TPC-H Q17 shape: correlated per-part average, integer-exact gate
    "q113_tpch_q17" -> ((s, d) => Relational.tpchQ17(
      Tables(s, d, "lineitem"), Tables(s, d, "part"))),
    // TPC-H Q22 shape: global scalar gate + anti join, cents-exact
    "q114_tpch_q22" -> ((s, d) => Relational.tpchQ22(
      Tables(s, d, "customer"), Tables(s, d, "orders"))),
    // TPC-H Q15 shape: revenue view, broadcast max-back, tie-keeping
    "q115_tpch_q15" -> ((s, d) => Relational.tpchQ15(
      Tables(s, d, "supplier"), Tables(s, d, "lineitem"))),
    // sorted-neighborhood dedup: prefix sort key, rank-slot equi join
    "q116_sorted_neighbor" -> ((s, d) =>
      Dedup.sortedNeighborDedup(Tables(s, d, "documents"))),
    // per-(user,type) z-score outliers, integer-exact moment gate
    "q117_zscore_anomaly" -> ((s, d) =>
      Events.zscoreAnomalies(Tables(s, d, "events"))),
    // count-min sketch: constant-size frequency state, deterministic
    // hash family shared with the oracle; est ≥ true by construction
    "q118_cms_heavy_hitters" -> ((s, d) =>
      Sketches.cmsHeavyHitters(Tables(s, d, "documents"))),
    // cohort retention grid: first-activity month × activity month
    "q119_retention" -> ((s, d) =>
      Events.retentionCohorts(Tables(s, d, "events"))),
    // incremental aggregate maintenance: stored + delta partials
    // merged by associative combine; oracle rebuilds ⟹ merge ≡ rebuild
    "q120_agg_merge" -> ((s, d) =>
      Relational.aggMerge(Tables(s, d, "orders"), 500L)),
    // TPC-H Q7 shape: two-nation volume shipping, broadcast dims,
    // fact shrunk by the supplier broadcast before the shuffle joins
    "q121_tpch_q7" -> ((s, d) => Relational.tpchQ7(
      Tables(s, d, "nation"), Tables(s, d, "customer"),
      Tables(s, d, "supplier"), Tables(s, d, "orders"),
      Tables(s, d, "lineitem"))),
    // Bloom-filter pre-filtered join: constant-size bit-set broadcast,
    // FP-labeled pass set; deterministic family ⟹ oracle replays bits
    "q122_bloom_join" -> ((s, d) =>
      Sketches.bloomJoin(Tables(s, d, "customer"), Tables(s, d, "orders"))),
    // prefix-filtering set-similarity join (exhaustive blocking);
    // oracle states the naive all-pairs form ⟹ blocked ≡ naive
    "q123_prefix_filter" -> ((s, d) =>
      Dedup.prefixFilterNearDup(Tables(s, d, "documents"))),
    // deterministic HLL: register state + integer-division estimate,
    // fully hash-gated (q39's engine HLL stays rows-only by design)
    "q124_hll_distinct" -> ((s, d) =>
      Sketches.hllDistinct(Tables(s, d, "lineitem"))),
    // 2-D skyline via sharded suffix-max (the q101 discipline);
    // oracle states the single windowed scan ⟹ sharded ≡ windowed
    "q125_skyline" -> ((s, d) => Relational.skyline(Tables(s, d, "orders"))),
    // TPC-H Q13 shape: left-outer keeps zero-order customers, then
    // the order-count distribution re-aggregation
    "q126_tpch_q13" -> ((s, d) => Relational.tpchQ13(
      Tables(s, d, "customer"), Tables(s, d, "orders"))),
    // order-independent table checksum (replica verification): summed
    // per-row polyHash — the hash gate is two engines agreeing
    "q127_table_checksum" -> ((s, d) =>
      Relational.tableChecksum(Tables(s, d, "orders"))),
    // audio modality: WAV/RIFF encode → chunk-walk parse → PCM
    // features; oracle recomputes from the text side (q31 convention)
    "q128_audio_features" -> ((s, d) =>
      Multimodal.audioFeatures(s, Tables(s, d, "documents"))),
    // histogram-bucketed median: one agg pass + bounded-histogram
    // window — the scalable quantile beside q40's exact sort
    "q129_histo_quantile" -> ((s, d) =>
      Events.histoQuantile(Tables(s, d, "events"))),
    // incremental HLL: stored+delta registers max-merged; oracle IS
    // q124's rebuild SQL ⟹ merge ≡ rebuild
    "q130_hll_merge" -> ((s, d) =>
      Sketches.hllMerge(Tables(s, d, "lineitem"), 500L)),
    // forward as-of join: each click → next purchase at-or-after
    "q131_asof_forward" -> ((s, d) =>
      Events.clickAsofPurchase(Tables(s, d, "events"))),
    // near-dup graph degree histogram incl. the zero-degree mass
    "q132_degree_profile" -> ((s, d) =>
      Graph.degreeProfile(Tables(s, d, "documents"))),
    // TPC-H Q10 shape: returned-item revenue, aggregate-then-join
    "q133_tpch_q10" -> ((s, d) => Relational.tpchQ10(
      Tables(s, d, "customer"), Tables(s, d, "nation"),
      Tables(s, d, "orders"), Tables(s, d, "lineitem"))),
    // typed mapGroups: per-user ordered journey; oracle's ordered
    // string_agg pins the imperative fold to declarative semantics
    "q134_user_journey" -> ((s, d) =>
      Events.userJourney(Tables(s, d, "events"))),
    // first-order Markov transition counts + integer-micros rates
    "q135_transitions" -> ((s, d) =>
      Events.eventTransitions(Tables(s, d, "events"))),
    // CDC apply: one full-outer merge; feed derived deterministically
    "q136_cdc_apply" -> ((s, d) =>
      Relational.cdcApply(Tables(s, d, "orders"))),
    // SCD-2 intervals: nanos-exact validity windows, open head
    "q137_scd2" -> ((s, d) => Events.scd2Versions(Tables(s, d, "events"))),
    // TPC-H Q6: the pure scan-pushdown aggregate — no joins at all
    "q138_tpch_q6" -> ((s, d) => Relational.tpchQ6(Tables(s, d, "lineitem"))),
    // TPC-H Q8: national market share; all dims broadcast, fact pruned
    // by the PROMO part broadcast before any shuffle
    "q139_tpch_q8" -> ((s, d) => Relational.tpchQ8(
      Tables(s, d, "region"), Tables(s, d, "nation"),
      Tables(s, d, "customer"), Tables(s, d, "supplier"),
      Tables(s, d, "orders"), Tables(s, d, "lineitem"),
      Tables(s, d, "part"))),
    // SymSpell deletion-neighborhood fuzzy join; oracle states the
    // naive levenshtein theta form ⟹ blocked ≡ naive
    "q140_fuzzy_join" -> ((s, d) =>
      Dedup.fuzzyNameJoin(Tables(s, d, "customer"))),
    // least-squares trend from exact DECIMAL power sums
    "q141_linreg" -> ((s, d) => Events.linregTrend(Tables(s, d, "events"))),
    // HHI source-concentration audit, all-integer share quantization
    "q142_hhi" -> ((s, d) =>
      Sampling.sourceConcentration(Tables(s, d, "documents"))),
    // TPC-H Q19 shape: disjunctive predicate blocks, both-side pushdown
    "q143_tpch_q19" -> ((s, d) => Relational.tpchQ19(
      Tables(s, d, "lineitem"), Tables(s, d, "part"))),
    // rollup + grouping_id: subtotal rows distinguishable from data
    "q144_grouping_id" -> ((s, d) =>
      Relational.rollupGroupingId(Tables(s, d, "orders"))),
    // nearest temporal join: backward ⊕ forward as-of + selection
    "q145_asof_nearest" -> ((s, d) =>
      Events.nearestClick(Tables(s, d, "events"))),
    // LSH recall formalized as an oracle-gated one-row relation
    "q146_lsh_recall" -> ((s, d) =>
      Dedup.lshRecall(Tables(s, d, "documents"))),
    // MAP-typed JSON: schema-less keys exploded to per-key stats
    "q147_map_explode" -> ((s, d) =>
      Events.mapKeyStats(Tables(s, d, "events"))),
    // percentile ladder from ONE histogram pass (q51's scale path)
    "q148_histo_ladder" -> ((s, d) =>
      Events.histoLadder(Tables(s, d, "events"))),
    // NOT IN (subquery) through the SQL text surface — null-aware anti
    "q149_tpch_q16" -> ((s, d) =>
      Relational.tpchQ16(Tables(s, d, "part"), Tables(s, d, "supplier"),
        Tables(s, d, "lineitem"))),
    // TPC-H Q9 shape: 4-dimension join fan -> (nation, year) profit
    "q150_tpch_q9" -> ((s, d) =>
      Relational.tpchQ9(Tables(s, d, "part"), Tables(s, d, "supplier"),
        Tables(s, d, "lineitem"), Tables(s, d, "orders"),
        Tables(s, d, "nation"))),
    // TPC-H Q12 shape: two-way conditional aggregation off one join
    "q151_tpch_q12" -> ((s, d) =>
      Relational.tpchQ12(Tables(s, d, "orders"), Tables(s, d, "lineitem"))),
    // TPC-H Q2 shape: correlated-min join fan, decorrelated to agg+join
    "q152_tpch_q2" -> ((s, d) =>
      Relational.tpchQ2(Tables(s, d, "lineitem"), Tables(s, d, "part"),
        Tables(s, d, "supplier"), Tables(s, d, "nation"),
        Tables(s, d, "region"))),
    // TPC-H Q11 shape: group HAVING against a global scalar aggregate
    "q153_tpch_q11" -> ((s, d) =>
      Relational.tpchQ11(Tables(s, d, "lineitem"))),
    // TPC-H Q20 shape: correlated HAVING inside IN -> two-agg semi chain
    "q154_tpch_q20" -> ((s, d) =>
      Relational.tpchQ20(Tables(s, d, "lineitem"), Tables(s, d, "part"),
        Tables(s, d, "supplier"), Tables(s, d, "nation"),
        Tables(s, d, "region"))),
    // lineitem SERVED FROM a CSV sidecar copy; oracle reads the parquet
    "q155_csv_source" -> ((s, d) =>
      Relational.lineitemProfile(sources.Sidecar.csv(s, d, "lineitem"))),
    // events SERVED FROM a JSON-lines sidecar; µs-timestamp tripwire
    "q156_json_source" -> ((s, d) =>
      Events.typeProfile(sources.Sidecar.jsonl(s, d, "events"))),
    // bounded-state typed-Aggregator top-k vs the oracle's window form
    "q157_grouped_topk" -> ((s, d) =>
      Events.groupedTopK(Tables(s, d, "events"))),
    // bucketized interval-overlap join; oracle states the naive form
    "q158_interval_join" -> ((s, d) =>
      Events.concurrentSessions(Tables(s, d, "events"))),
    // Morton clustering key, bit-for-bit oracle-gated
    "q159_zorder_key" -> ((s, d) =>
      Relational.zorderSample(Tables(s, d, "lineitem"))),
    // doc-set lookup SERVED FROM the persisted R16 text index through
    // the custom DSv2 TableProvider (word-pruned file scan); the oracle
    // rebuilds the same answer from the raw corpus -> a green row gates
    // write -> custom-source read -> pushdown end-to-end
    "q160_dsv2_index" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, explode}
      sources.IndexStore.readIndexTable(s, sources.IndexStore.textIndexFor(s, d))
        .where(col("word").isin("batch", "scan"))
        .select(col("word"), col("df"), explode(col("postings")).as("doc_id"))
        .orderBy("word", "doc_id")
    }),
    // tuple NOT IN through spark.sql -> the null-aware nested-loop
    // fallback (single-column q149 takes the BHJ isNullAwareAntiJoin path)
    "q161_tuple_not_in" -> ((s, d) =>
      Relational.tupleNotIn(Tables(s, d, "lineitem"))),
    // TPC-H Q1 EXACT (q08 is the -style twin): cutoff + tax + all measures
    "q163_tpch_q1" -> ((s, d) =>
      Relational.tpchQ1(Tables(s, d, "lineitem"))),
    // TPC-H Q4 EXACT (q73 is the -style twin): date-windowed EXISTS
    "q164_tpch_q4" -> ((s, d) =>
      Relational.tpchQ4(Tables(s, d, "orders"), Tables(s, d, "lineitem"))),
    // q01 through SQL TEXT with the registry-registered graft_tokenize
    // (same expression tree as the Column API; same oracle as q01)
    "q162_sql_tokenize" -> ((s, d) => {
      GraftExtensions.register(s)
      Tables(s, d, "documents").createOrReplaceTempView("graft_documents_q162")
      s.sql(
        """SELECT doc_id, word
          |FROM (SELECT doc_id, explode(graft_tokenize(text)) AS word
          |      FROM graft_documents_q162)
          |ORDER BY doc_id, word""".stripMargin)
    }),
    // the artifact is WRITTEN through the DSv2 writer (V2 commit
    // protocol) and read back whole; the oracle rebuilds the per-letter
    // profile from the raw corpus -> a green row gates the writer
    // (staging, commit, grammar) end-to-end
    "q166_dsv2_write" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit, substring, sum}
      sources.IndexStore.readIndexTable(s, sources.IndexStore.dsv2IndexFor(s, d))
        .groupBy(substring(col("word"), 1, 1).as("letter"))
        .agg(count(lit(1)).as("n_words"), sum(col("df")).as("sum_df"))
        .orderBy("letter")
    }),
    // stored-index -> corpus JOIN through the DSv2 source: the pruned
    // lookup BROADCASTS (SupportsReportStatistics sizes it post-prune);
    // oracle recomputes the match from the raw corpus
    "q165_dsv2_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, explode, lit}
      val idx = sources.IndexStore.readIndexTable(
        s, sources.IndexStore.textIndexFor(s, d))
      val hits = idx.where(col("word").isin("batch", "scan"))
        .select(col("word"), explode(col("postings")).as("doc_id"))
      Tables(s, d, "documents").select(col("doc_id"), col("lang"))
        .join(hits, "doc_id")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_terms"))
        .orderBy("doc_id")
    }),
    // TPC-H Q14 exact shape: month-pruned scan + broadcast part,
    // zero-shuffle global promo-share aggregate -> ledger reads 22/22
    "q167_tpch_q14" -> ((s, d) => Relational.tpchQ14(
      Tables(s, d, "lineitem"), Tables(s, d, "part"))),
    // index joined to a SELECTIVE dim with NO static word predicate:
    // the scan implements SupportsRuntimeFiltering, so when dynamic
    // pruning fires the dim's word set prunes letter files at RUN time
    // (spec-pinned); the join itself guarantees correctness either way
    "q168_dsv2_runtime" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val idx = sources.IndexStore.readIndexTable(
        s, sources.IndexStore.textIndexFor(s, d))
      val dim = functions.TextFns.docWords(
          Tables(s, d, "documents").where(col("doc_id") === 5L))
        .select("word").distinct()
      idx.join(dim, "word").select("word", "df").orderBy("word")
    }),
    // corpus-wide most-frequent words THROUGH the source's top-N
    // pushdown: the R16 grammar's per-file df desc, word asc order lets
    // each reader stop after 25 lines (order verified as it streams)
    "q169_dsv2_topn" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      sources.IndexStore.readIndexTable(
          s, sources.IndexStore.textIndexFor(s, d))
        .select("word", "df")
        .orderBy(col("df").desc, col("word").asc)
        .limit(25)
    }),
    // the index artifact resolved as a NAMED catalog table
    // (graft.sources.GraftCatalog): pure-SQL access with the custom
    // scan's pushdowns intact through catalog resolution
    "q170_catalog_sql" -> ((s, d) => {
      val f = new java.io.File(sources.IndexStore.textIndexFor(s, d))
      // catalog name fingerprinted from the warehouse (Spark caches
      // catalog instances per name — GraftCatalog.registerFor)
      val cat = sources.GraftCatalog.registerFor(s, "graft_cat", f.getParent)
      s.sql(s"SELECT word, df FROM $cat.`${f.getName}` " +
        "WHERE word LIKE 'b%' ORDER BY word")
    }),
    // LSM-style incremental maintenance: base (even doc_ids) + one
    // delta epoch (odd doc_ids); the MERGED read must equal the q02
    // full-corpus build -> the merge algebra is hash-gated
    "q171_index_delta_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions.{array_join, col}
      sources.IndexStore.readMerged(s, sources.IndexStore.deltaDemoFor(s, d))
        .withColumn("postings",
          array_join(col("postings").cast("array<string>"), " "))
        .orderBy(col("df").desc, col("word"))
    }),
    // same artifact COMPACTED: deltas folded into the base and deleted;
    // a plain base-only scan must serve the identical full index
    "q172_index_compact" -> ((s, d) => {
      import org.apache.spark.sql.functions.{array_join, col}
      sources.IndexStore.readIndexTable(
          s, sources.IndexStore.compactDemoFor(s, d))
        .withColumn("postings",
          array_join(col("postings").cast("array<string>"), " "))
        .orderBy(col("df").desc, col("word"))
    }),
    // vocabulary size through COUNT(*) pushdown: each file reader
    // emits its line count only - no word, no posting parse (spec pins
    // the pushed aggregation + count schema)
    "q173_dsv2_count" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, lit}
      sources.IndexStore.readIndexTable(
          s, sources.IndexStore.textIndexFor(s, d))
        .agg(count(lit(1)).as("n_words"))
    }),
    // correlated LATERAL (ORDER BY+LIMIT) through SQL text: Spark
    // decorrelates to ONE window + join (spec pins no nested-loop)
    "q174_lateral_topn" -> ((s, d) => Relational.lateralTopOrders(
      Tables(s, d, "customer"), Tables(s, d, "orders"))),
    // WITH RECURSIVE month spine + LEFT JOIN: gap-filled revenue series
    "q175_recursive_gapfill" -> ((s, d) =>
      Relational.recursiveMonthlyRevenue(Tables(s, d, "orders"))),
    // VARIANT semi-structured path: parse once, typed extraction
    // (q16's string path re-parses per access)
    "q176_variant" -> ((s, d) =>
      Events.variantExtract(Tables(s, d, "events"))),
    // SQL scripting (BEGIN/DECLARE/WHILE): procedural bucket-capacity
    // doubling loop; oracle replays the loop as a recursive CTE
    "q177_sql_script" -> ((s, d) =>
      Relational.scriptBucketPlan(Tables(s, d, "events"))),
    // per-letter profile via the `_letter` METADATA column with the
    // scan's reported key-grouped layout: the aggregation plans with
    // NO shuffle (storage-partitioned execution, spec-pinned)
    "q178_dsv2_letter_agg" -> ((s, d) =>
      sources.IndexStore.letterProfileViaLayout(
        s, sources.IndexStore.textIndexFor(s, d))),
    // survivors of a catalog-SQL `DELETE FROM … WHERE word LIKE 't%'`
    // through SupportsDelete (letter-pruned file rewrite); the oracle
    // rebuilds the survivor set from the raw corpus
    "q179_dsv2_delete" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      sources.IndexStore.readIndexTable(
          s, sources.IndexStore.deleteDemoFor(s, d))
        .select("word", "df")
        .orderBy(col("word"))
    }),
    // STORAGE-PARTITIONED join of two artifacts of the same corpus
    // (path-sink build vs V2-writer build): letter-aligned key-grouped
    // partitions, no Exchange on either side (spec-pinned); equal df
    // everywhere ≡ the two write paths agree — which the oracle states
    // as one df served twice
    "q180_dsv2_spj" -> ((s, d) =>
      sources.IndexStore.crossArtifactJoin(s,
        sources.IndexStore.textIndexFor(s, d),
        sources.IndexStore.dsv2IndexFor(s, d))),
    // distribution DRIFT monitor: per-language PSI of doc-length
    // buckets vs the whole corpus; ln terms 1e-9-quantized before the
    // sum (the q88 cross-engine determinism pattern)
    "q181_psi_drift" -> ((s, d) =>
      TextAnalysis.psiDrift(Tables(s, d, "documents"))),
    // pairwise Jensen-Shannon divergence between language word
    // distributions (mixing diagnostics), densified on the lang×vocab
    // grid so absent words contribute their p·ln2 term
    "q182_js_divergence" -> ((s, d) =>
      TextAnalysis.jsDivergence(Tables(s, d, "documents"))),
    // TIME TRAVEL: VERSION AS OF 0 on a generation-retaining artifact
    // (base = even doc_ids, delta folded by compaction) must serve the
    // PRE-compaction index; the oracle rebuilds it from the even half
    // of the raw corpus
    "q183_time_travel" -> ((s, d) => {
      val f = new java.io.File(sources.IndexStore.timeTravelDemoFor(s, d))
      val cat = sources.GraftCatalog.registerFor(s, "graft_ttcat", f.getParent)
      s.sql(s"SELECT word, df FROM $cat.`${f.getName}` " +
        "VERSION AS OF 0 ORDER BY word")
    }),
    // MERGE INTO (SupportsRowLevelOperations, whole-artifact
    // copy-on-write): a half-corpus index synced to the full corpus by
    // one upsert+prune statement; the result must equal the q02
    // full-corpus build
    "q184_merge_sync" -> ((s, d) => {
      import org.apache.spark.sql.functions.{array_join, col}
      sources.IndexStore.readIndexTable(
          s, sources.IndexStore.mergeDemoFor(s, d))
        .withColumn("postings",
          array_join(col("postings").cast("array<string>"), " "))
        .orderBy(col("df").desc, col("word"))
    }),
    // BFS shortest-hop distances over the q111/q112 near-dup graph
    // from the smallest edge-bearing node; oracle replays it as a
    // recursive CTE with min-dist aggregation
    "q185_bfs_hops" -> ((s, d) =>
      Graph.bfsHops(Tables(s, d, "documents"))),
    // GROUPED aggregate pushdown: COUNT(*) GROUP BY _letter — each
    // reader emits one (letter, line-count) row per file, no word or
    // posting ever parsed (the letter IS the directory); spec pins the
    // pushed grouped aggregation and the count schema
    "q186_dsv2_group_count" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      sources.IndexStore.readIndexTable(
          s, sources.IndexStore.textIndexFor(s, d))
        .groupBy(col("_letter"))
        .agg(count(lit(1)).as("n_words"))
        .select(col("_letter").as("letter"), col("n_words"))
        .orderBy("letter")
    }),
    // per-language word-distribution Shannon entropy (nats) beside
    // token/vocab counts; same 1e-9 ln-term quantization as q181/q182
    "q187_vocab_entropy" -> ((s, d) =>
      TextAnalysis.vocabEntropy(Tables(s, d, "documents"))),
    // SQL PIPE syntax (|>): filter |> AGGREGATE |> HAVING-WHERE |>
    // project |> order — parses to the SAME plan as the classic
    // GROUP BY + HAVING text (spec pins sameSemantics)
    "q188_pipe_sql" -> ((s, d) =>
      Relational.pipeSqlAgg(Tables(s, d, "lineitem"))),
    // collation-aware grouping: cased tokens merged under UTF8_LCASE
    // inside the aggregate, variant counts per case-insensitive word
    "q189_collate_vocab" -> ((s, d) =>
      TextAnalysis.collatedVocab(Tables(s, d, "documents"))),
    // parameterized SQL (:name binds at parse time) + IDENTIFIER(:tbl)
    // table resolution — the injection-safe service-layer surface
    "q190_param_sql" -> ((s, d) =>
      Relational.paramIdentifierAgg(Tables(s, d, "documents"))),
    // corpus-internal duplicate char-13-gram rate per document (the
    // boilerplate diagnostic; q60's cross-corpus twin)
    "q191_dup_ngram_rate" -> ((s, d) =>
      TextAnalysis.dupNgramRate(Tables(s, d, "documents"))),
    // SQL UDF: CREATE FUNCTION … RETURN expr — macro-inlined, the
    // optimized plan carries the body, not a call (spec-pinned)
    "q192_sql_udf" -> ((s, d) =>
      Relational.sqlUdfRevenue(Tables(s, d, "lineitem"))),
    // SQL TABLE function: a parameterized relation, inlined at the
    // call site with the argument folded into the pushed predicate
    "q193_sql_tvf" -> ((s, d) =>
      Relational.sqlTvfLangProfile(Tables(s, d, "documents"))),
    // winnowing fingerprints (MOSS): window-min over char-8-gram
    // polyhashes, per-doc distinct-print profile
    "q194_winnow" -> ((s, d) =>
      TextAnalysis.winnowFingerprints(Tables(s, d, "documents"))),
    // winnow print inversion → near-dup candidate pairs (fp-keyed
    // join, df-capped; the MOSS select→invert→pair path completed)
    "q195_winnow_pairs" -> ((s, d) =>
      TextAnalysis.winnowPairs(Tables(s, d, "documents"))),
    // documents SERVED FROM an XML sidecar (Spark 4 native xml);
    // oracle reads the parquet — escaping/trimming tripwired by a
    // content polyhash sum
    "q196_xml_source" -> ((s, d) =>
      TextAnalysis.docProfile(sources.Sidecar.xml(s, d, "documents"))),
    // higher-order functions over the embedding array: transform/
    // aggregate/filter/exists/forall inside codegen, zero shuffles
    "q197_hof_profile" -> ((s, d) =>
      Similarity.hofVectorProfile(Tables(s, d, "embeddings"))),
    // Efraimidis-Spirakis weighted sample with hash-derived uniforms:
    // deterministic, partitioning-invariant, one TakeOrdered
    "q198_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(Tables(s, d, "documents"))),
    // BPE merge training: 4 rounds of weighted pair argmax +
    // greedy-leftmost merge over the vocabulary (tokenizer induction)
    "q199_bpe_merges" -> ((s, d) =>
      Bpe.bpeMerges(Tables(s, d, "documents"))),
    // encode with the learned merges: vocabulary-sized encoder table
    // joined to per-doc token counts (corpus never re-iterated)
    "q200_bpe_encode" -> ((s, d) =>
      Bpe.bpeEncode(Tables(s, d, "documents"))),
    // Deequ-shaped data-quality audit: 5 constraint classes in two
    // fact scans + one key aggregate; explicit null-safe rule algebra
    "q201_dq_audit" -> ((s, d) =>
      Relational.dqAudit(Tables(s, d, "lineitem"), Tables(s, d, "orders"))),
    // incremental CC label maintenance: stored labels + the batch's
    // delta edges (q90's new×old probe ∪ batch-only new×new LSH) →
    // full-corpus labels via contracted-subgraph CC; oracle = q58's
    // from-scratch closure, so the hash match IS the merge ≡ rebuild
    // proof. The split is DATA-DERIVED at 90/10 (round-12 verdict #8:
    // a fixed cap=250 made the "batch" 95% of the corpus at sf0.1, so
    // the in-query merge sub-problem was nearly the full graph —
    // twice the cost of the rebuild it proves itself against); the
    // oracle is split-invariant (that IS the law), and the spec pins
    // the law across a cap sweep
    "q202_incremental_clusters" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Dedup.incrementalClusters(docs, Dedup.ingestCap(docs), 0.95)
    }),
    // REAL-format image decode: genuine PNGs (ImageIO encode+decode —
    // DEFLATE, filters, CRCs) through the q31 kernel boundary; the
    // oracle recomputes dims + all three channel sums text-side
    "q203_png_features" -> ((s, d) =>
      Multimodal.pngFeatures(s, Tables(s, d, "documents"))),
    // ANN served FROM the stored graft-vectors DSv2 artifact: the
    // candidate scan is runtime-pruned to the queries' buckets (only
    // probed cells' files are read); oracle = q26's text verbatim
    "q204_vector_store_ann" -> ((s, d) =>
      Similarity.lshAnnStored(Tables(s, d, "embeddings"),
        s.read.format("graft-vectors")
          .load(sources.VectorStore.lshStoreFor(s, d)), 20, 3)),
    // the NSW graph BUILD (graph-based ANN's index): two LSH families
    // + polyHash long links → top-m → NN-descent round → symmetrize →
    // hard 2m prune; the oracle replays every stage, so the graph is
    // hash-gated edge for edge (the beam SEARCH stays spec-gated)
    "q205_nsw_graph" -> ((s, d) =>
      Similarity.nswGraphQuery(Tables(s, d, "embeddings"))),
    // incremental ANN-graph maintenance: stored base (vec_id < 250)
    // merged with DELTA candidates only (top-m merge law — exact);
    // oracle = q205's full-build closure VERBATIM, so the hash match
    // is merge ≡ rebuild for the graph family
    "q206_nsw_incremental" -> ((s, d) =>
      Similarity.nswGraphIncremental(Tables(s, d, "embeddings"), 250L)
        .orderBy(org.apache.spark.sql.functions.col("src"),
          org.apache.spark.sql.functions.col("cos6").desc,
          org.apache.spark.sql.functions.col("dst"))),
    // orders SERVED FROM an ORC sidecar copy (the other lake format);
    // oracle reads the parquet — µs-grain timestamps in the output so
    // a type-mapping drift can never pass silently
    "q207_orc_source" -> ((s, d) =>
      Relational.ordersProfile(sources.Sidecar.orc(s, d, "orders"))),
    // documents SERVED FROM an Avro sidecar (row-oriented landing-zone
    // format); SAME profile + oracle text as q196 — one content gate,
    // three serving formats (parquet-oracle vs xml/avro round trips)
    "q208_avro_source" -> ((s, d) =>
      TextAnalysis.docProfile(sources.Sidecar.avro(s, d, "documents"))),
    // TRAINED Naive-Bayes classifier scoring the whole corpus (the
    // CCNet/fastText distillation step): training is pure relational
    // aggregation, so the oracle replays the MODEL, not just plumbing
    "q209_nb_classifier" -> ((s, d) =>
      TextAnalysis.nbClassifier(Tables(s, d, "documents"))),
    // q209's embedding-space twin: nearest-centroid classification
    // from ground-truth class prototypes trained on the seed split —
    // the supervised member of the embedding family
    "q210_centroid_classify" -> ((s, d) =>
      Similarity.centroidClassify(Tables(s, d, "embeddings"))),
    // PCA top component by integer power iteration: one distributed
    // covariance pass, then a d²-bounded driver-local loop; the oracle
    // replays BOTH stages (all 8 rounds unrolled), gating the trained
    // component itself
    "q211_pca_component" -> ((s, d) =>
      Similarity.pcaTopComponent(Tables(s, d, "embeddings"))),
    // the REDUCE step: every embedding projected onto q211's trained
    // component — a literal-array integer fold, zero shuffles; the
    // oracle replays train + apply end to end
    "q212_pca_project" -> ((s, d) =>
      Similarity.pcaProject(Tables(s, d, "embeddings"))),
    // the classifier's EVAL GATE: confusion matrix + exact
    // integer-micros accuracy/precision/recall/F1 on the held-out
    // third vs the seed labels — the promote-or-reject row of a
    // distillation loop, one extra reduce over what q209 pays
    "q213_classifier_eval" -> ((s, d) =>
      TextAnalysis.nbEval(Tables(s, d, "documents"))),
    // AUC as relational algebra: exact rank-sum in integer 2×-units
    // through the two-level score-bucket histogram (the q148 shape —
    // no corpus-sized unpartitioned window)
    "q214_classifier_auc" -> ((s, d) =>
      TextAnalysis.nbAuc(Tables(s, d, "documents"))),
    // per-type OLS trend, integer-exact: daily-mean micros regressed
    // on the CENTERED day index; slope/intercept via explicit pmod
    // floor-division (negative slopes exist — Spark div truncates,
    // DuckDB // floors)
    "q215_ols_trend" -> ((s, d) =>
      Events.olsTrend(Tables(s, d, "events"))),
    // SemDeDup with its OWN preprocessing: PCA-project → equal-width
    // 1-D bins → within-bin cosine edges → connected components; one
    // hash gates the trained component through the dedup decision
    "q216_pca_bin_dedup" -> ((s, d) =>
      Similarity.pcaBinDedup(Tables(s, d, "embeddings"))),
    // edit-distance join at k = 4 via PassJoin segment blocking
    // (pigeonhole-exhaustive — the oracle is the naive theta form, so
    // the hash match proves blocked ≡ naive at the harder k)
    "q217_edit_distance_join" -> ((s, d) =>
      Dedup.editDistanceJoin(Tables(s, d, "documents"))),
    // merge ≡ rebuild for the OLS fit state: stored daily sums + the
    // new batch's partials merge by addition, fit re-closes from the
    // day-bounded state; oracle = q215's text VERBATIM
    "q218_incremental_ols" -> ((s, d) =>
      Events.olsTrendIncremental(Tables(s, d, "events"))),
    // the REAL-LIBRARY audio decode (AudioSystem reader stack) beside
    // q128's hand-rolled walker; shares q128's oracle text VERBATIM
    "q219_wav_audiosystem" -> ((s, d) =>
      Multimodal.audioFeaturesLib(s, Tables(s, d, "documents"))),
    // GROUP BY ALL + ORDER BY ALL + lateral column alias in one
    // statement; the oracle is the fully explicit classic form
    "q220_sql_sugar" -> ((s, d) =>
      Relational.sqlSugarAgg(Tables(s, d, "orders"))),
    // chi-squared feature selection over the q209 label split: the
    // top-50 class-associated tokens, integer-exact contingency
    "q221_chi2_features" -> ((s, d) =>
      TextAnalysis.chi2Features(Tables(s, d, "documents"))),
    // schema-evolution read: documents served from a two-generation
    // parquet layout (gen0 pre-dates `lang`, reversed column order)
    // merged by name; oracle reconstructs the generation rule
    "q222_evolved_scan" -> ((s, d) =>
      TextAnalysis.evolvedProfile(sources.Sidecar.evolvedDocuments(s, d))),
    // merge == rebuild for the TRAINED CLASSIFIER's fit state: stored
    // counts + batch partials merge by addition, model re-closes;
    // oracle = q209's from-scratch text verbatim
    "q223_incremental_nb" -> ((s, d) =>
      TextAnalysis.nbIncremental(Tables(s, d, "documents"))),
    // the q221 -> q209 composition: NB trained on the chi2-selected
    // vocabulary only (the bounded deployed model)
    "q224_nb_selected" -> ((s, d) =>
      TextAnalysis.nbSelected(Tables(s, d, "documents"))),
    // the full ROC threshold sweep over the held-out third (q213 is
    // one point, q214 the area, this the curve); bounded bucket rows
    "q225_roc_curve" -> ((s, d) =>
      TextAnalysis.nbRoc(Tables(s, d, "documents"))),
    // reliability diagram: per-bucket predicted vs actual positive
    // share — the miscalibration read before trusting a cutoff
    "q226_calibration" -> ((s, d) =>
      TextAnalysis.nbCalibration(Tables(s, d, "documents"))),
    // market-basket association pairs within orders: support,
    // two-way confidence, lift in exact micros; fan-out bounded by
    // basket size
    "q227_basket_pairs" -> ((s, d) =>
      Relational.basketPairs(Tables(s, d, "lineitem"))),
    // RFM segmentation on the histogram-boundary scale path (never
    // ntile over the customer population)
    "q228_rfm_segments" -> ((s, d) =>
      Relational.rfmSegments(Tables(s, d, "orders"))),
    // gaps-and-islands: per-user consecutive-active-day streaks; the
    // distinct collapses events before the user-partitioned window
    "q229_activity_streaks" -> ((s, d) =>
      Events.activityStreaks(Tables(s, d, "events"))),
    // robust outliers: median + MAD both on the bounded-histogram
    // path, exact integer gate dev > 3*mad
    "q230_mad_outliers" -> ((s, d) =>
      Events.madOutliers(Tables(s, d, "events"))),
    // chance-corrected agreement (Cohen's kappa) between the trained
    // classifier and its seed teacher, per split — all-integer
    "q231_kappa_agreement" -> ((s, d) =>
      TextAnalysis.nbKappa(Tables(s, d, "documents"))),
    // retry/replay collapse: immediate-predecessor lag gate within
    // 60 s per (user, type); one window shuffle, bounded rollup
    "q232_event_dedup" -> ((s, d) =>
      Events.eventDedup(Tables(s, d, "events"))),
    // the dedup savings report over q58's memoized cluster labels:
    // per-cluster-size docs/chars dropped, totals reconcile to corpus
    "q233_dedup_report" -> ((s, d) =>
      Dedup.dedupReport(Tables(s, d, "documents"))),
    // EXACT per-stratum quota split via order-preserving bucket
    // histogram + boundary-bucket rank (blocked ≡ naive, hash-gated)
    "q234_quota_split" -> ((s, d) =>
      Sampling.quotaSplit(Tables(s, d, "documents"))),
    // exact two-sample KS drift statistic per source pair on the
    // bounded length histogram — integer CDF cross-products
    "q235_ks_drift" -> ((s, d) =>
      TextAnalysis.ksDrift(Tables(s, d, "documents"))),
    // cross-source duplication matrix over the q21 content hash;
    // per-key fan-out bounded by the source vocabulary
    "q236_dup_source_matrix" -> ((s, d) =>
      Dedup.dupSourceMatrix(Tables(s, d, "documents"))),
    // top-k 3-step event-type paths inside gap sessions: two leads
    // over the one q54 session window, TakeOrdered cut
    "q237_event_paths" -> ((s, d) =>
      Events.eventPaths(Tables(s, d, "events"))),
    // recency-weighted user value, exact power-of-two weekly decay
    // (arithmetic shift both engines); anchor = corpus max day
    "q238_decay_scores" -> ((s, d) =>
      Events.decayScores(Tables(s, d, "events"))),
    // top-k PMI collocations, quantized-ln micros, min-count gated
    // before the marginal joins
    "q239_pmi_collocations" -> ((s, d) =>
      TextAnalysis.pmiCollocations(Tables(s, d, "documents"))),
    // distinct-gram diversity of full corpus vs q58-kept canonicals:
    // one gram pass + the memoized cluster labels, one row
    "q240_dedup_diversity" -> ((s, d) =>
      TextAnalysis.dedupDiversity(Tables(s, d, "documents"))),
    // per-doc top-3 tf-idf keywords: integer tf*idf_q ranking, one
    // tokenize pass, WindowGroupLimit per-doc cut
    "q241_doc_keywords" -> ((s, d) =>
      TextAnalysis.docKeywords(Tables(s, d, "documents"))),
    // within-source CDF position of n_chars in micros — the bounded-
    // histogram quantile transform, never cume_dist over a source
    "q242_quantile_normalize" -> ((s, d) =>
      TextAnalysis.quantileNormalize(Tables(s, d, "documents"))),
    // strict view -> click -> purchase funnel inside gap sessions:
    // min-anchored steps, three session-keyed joins, one-row output
    "q243_funnel_conversion" -> ((s, d) =>
      Events.funnelConversion(Tables(s, d, "events"))),
    // hopping 6h/3h windows (each event in exactly 2): streaming
    // window() semantics as a batch relation, row-local explode
    "q244_hopping_windows" -> ((s, d) =>
      Events.hoppingCounts(Tables(s, d, "events"))),
    // per-event session-relative features: position, us into session,
    // us since previous — one user exchange + one session window
    "q245_session_features" -> ((s, d) =>
      Events.sessionFeatures(Tables(s, d, "events"))),
    // Benford first-digit audit on order totals: string first digit
    // of exact cents, quantized-ln expectation, per-digit gap
    "q246_benford_audit" -> ((s, d) =>
      Relational.benfordAudit(Tables(s, d, "orders"))),
    // Dunning G2 collocations: evidence-weighted phrase mining beside
    // q239's PMI; four quantized-ln contingency terms, one bigram fold
    "q247_g2_collocations" -> ((s, d) =>
      TextAnalysis.g2Collocations(Tables(s, d, "documents"))),
    // per-user event-type Shannon entropy (q187's convention at the
    // user grain): bot/diversity feature, exact 1e-9-quantized terms
    "q248_user_entropy" -> ((s, d) =>
      Events.userEntropy(Tables(s, d, "events"))),
    // Heaps-law vocabulary growth: first-appearance bucket per word is
    // an aggregate of the one tokenize pass; cumulative over buckets
    "q249_vocab_growth" -> ((s, d) =>
      TextAnalysis.vocabGrowth(Tables(s, d, "documents"))),
    // per-source length Gini on the bounded-histogram path: exact
    // rank-weighted block sums, one floor division per source
    "q250_length_gini" -> ((s, d) =>
      TextAnalysis.lengthGini(Tables(s, d, "documents"))),
    // near-dup provenance matrix: memoized LSH edges joined to
    // sources, zero-filled pair universe (q236 at the near-dup level)
    "q251_neardup_sources" -> ((s, d) =>
      Dedup.nearDupSourceMatrix(Tables(s, d, "documents"))),
    // vocabulary Jaccard between sources: word-keyed self-join with
    // |sources|-bounded fan-out, exact set arithmetic
    "q252_vocab_overlap" -> ((s, d) =>
      TextAnalysis.vocabOverlap(Tables(s, d, "documents"))),
    // time-to-convert for q243's full chains: second-binned latency
    // histogram, q129 boundary rule for p50/p90, exact-us mean
    "q253_conversion_latency" -> ((s, d) =>
      Events.conversionLatency(Tables(s, d, "events"))),
    // weekday seasonality + exact uniformity chi2 (epoch-day mod 7,
    // no locale date fns) — the clock-realism audit beside q246
    "q254_weekday_audit" -> ((s, d) =>
      Relational.weekdayAudit(Tables(s, d, "orders"))),
    // documents SERVED FROM a multi-file gzip JSONL copy — the
    // compressed landing zone; gzip is unsplittable, so parallelism
    // comes from the file boundary (spec pins >1 input task here and
    // exactly one on the single-file trap layout); same content gate
    // as q196/q208 — one oracle, five serving formats
    "q255_gz_source" -> ((s, d) =>
      TextAnalysis.docProfile(sources.Sidecar.gzJsonl(s, d, "documents"))),
    // documents SERVED FROM a zstd parquet copy — the SPLITTABLE
    // compressed path (parquet compresses per column chunk, so any
    // codec splits at row-group grain); same content gate
    "q256_zstd_source" -> ((s, d) =>
      TextAnalysis.docProfile(sources.Sidecar.zstdParquet(s, d, "documents"))),
    // unbounded-float quantiles: exponent-bucketed histogram over raw
    // o_totalprice (sign/exponent/top-8-mantissa-bits buckets; float
    // log2 seed + exact pow-of-two correction, so both engines land
    // on identical buckets); p50/p95 by the q129 boundary rule
    "q257_float_quantiles" -> ((s, d) =>
      Relational.floatQuantiles(Tables(s, d, "orders"), "o_totalprice")),
    // CDC between retained generations of the stored index: VERSION
    // AS OF 0 full-outer-joined to the live table on the word key —
    // added/grown/same per vocabulary row, the corpus never touched
    "q258_version_diff" -> ((s, d) => {
      val f = new java.io.File(sources.IndexStore.timeTravelDemoFor(s, d))
      // warehouse-fingerprinted catalog name: a second sfDir in the
      // same session must not read the first warehouse's cached
      // catalog (GraftCatalog.registerFor)
      val cat = sources.GraftCatalog.registerFor(s, "graft_vdcat", f.getParent)
      sources.IndexStore.versionDiff(
        s.sql(s"SELECT word, df FROM $cat.`${f.getName}` VERSION AS OF 0"),
        s.sql(s"SELECT word, df FROM $cat.`${f.getName}`"))
    }),
    // eval-hygiene audit: near-dup edges (the memoized q22/q58 LSH
    // pass) crossing the q45 hash split — distinct leaked val docs +
    // exact leak rate, the number read before trusting any held-out
    // metric
    "q259_split_leakage" -> ((s, d) =>
      Sampling.splitLeakage(Tables(s, d, "documents"))),
    // the keeper decision upgraded to BEST-doc: per near-dup cluster
    // keep the longest member (n_chars desc, doc_id asc) — a max_by
    // aggregation over the memoized labels, no per-cluster sort
    "q260_cluster_keep_best" -> ((s, d) =>
      Dedup.keepBest(Tables(s, d, "documents"))),
    // CDC on an INTERIOR generation pair (gen 1 vs gen 2) of a
    // four-quarter ingest history with a q179 DELETE and a matched-only
    // MERGE between the snapshots — all five change classes (including
    // the DELETE-born `removed` and the UPDATE-born `shrunk`) through
    // the oracle; q258 keeps the 0-vs-live append-only pair
    "q261_interior_version_diff" -> ((s, d) => {
      val f = new java.io.File(sources.IndexStore.versionDiffDemoFor(s, d))
      val cat = sources.GraftCatalog.registerFor(s, "graft_vdgcat", f.getParent)
      sources.IndexStore.versionDiff(
        s.sql(s"SELECT word, df FROM $cat.`${f.getName}` VERSION AS OF 1"),
        s.sql(s"SELECT word, df FROM $cat.`${f.getName}` VERSION AS OF 2"))
    }),
    // the q260 keeper decision SHIPPED: the near-dup pipeline's output
    // relation (one row per cluster — kept doc + member count + chars
    // kept/dropped) under the parameterized keeper rule; no join back
    // to the corpus (the keeper's size rides the max_by struct)
    "q262_dedup_output" -> ((s, d) =>
      Dedup.dedupOutput(Tables(s, d, "documents"))),
    // Zipf-fit corpus-realism audit: per-lang OLS of ln(freq) on
    // ln(rank) over the head ranks — the third organic-data tripwire
    // beside q246 Benford and q254 weekday χ², on the word-frequency
    // axis; lns micro-quantized, sums exact BIGINTs, slope negated so
    // its floor stays positive (the fdiv lesson)
    "q263_zipf_audit" -> ((s, d) =>
      TextAnalysis.zipfAudit(Tables(s, d, "documents"))),
    // embedding NORM health: p50/p95 of the fold-exact L2 norms
    // through the q257 exponent-bucket machine (pure composition; the
    // additive histogram means the same audit runs online for free)
    "q264_norm_quantiles" -> ((s, d) =>
      Similarity.normQuantiles(Tables(s, d, "embeddings"))),
    // the CCNet-shape reference-LM gate: add-one-smoothed bigram model
    // trained on the lang='en' reference slice scores EVERY doc (OOV
    // handled, unlike q88's self-model); mean NLL in positive micros
    // + a keep verdict, zero-bigram docs dropped explicitly
    "q265_ref_lm_filter" -> ((s, d) =>
      TextAnalysis.referenceLmFilter(Tables(s, d, "documents"))),
    // asymmetric containment over the LSH candidates: the
    // excerpt/truncation edges (small-side containment ≥ 0.9) a
    // symmetric Jaccard gate misses — flagged is_excerpt when jaccard
    // sits below the q22 threshold; exact intersect counts, integer
    // micros, all-positive floor divisions
    "q266_containment_audit" -> ((s, d) =>
      Dedup.containmentAudit(Tables(s, d, "documents"))),
    // q266 with CONTAINMENT-TUNED recall: candidates = LSH bands ∪
    // q195 winnow prints (containment recall by construction), same
    // exact token-set verify; via_lsh/via_winnow record provenance —
    // the tiny-quote-in-huge-doc pairs the Jaccard banding never sees
    "q267_containment_recall" -> ((s, d) =>
      Dedup.containmentRecall(Tables(s, d, "documents"))),
    // calibration of the q265 gate (the q225 ROC shape): keep-rate /
    // ref-keep-rate / nonref-keep-rate per NLL bucket over the
    // held-out q45 split — keepNllMicros read off a gated curve
    // instead of asserted; bounded-histogram cumulative, exact micros
    "q268_ref_lm_calibration" -> ((s, d) =>
      TextAnalysis.refLmCalibration(Tables(s, d, "documents"))),
    // keeper-upgrade events (q262's maintenance half): arriving docs
    // (id >= 250 — the q90 batch convention) that verify into a
    // stored cluster AND beat its keep-best keeper under the q262
    // struct key — the keyed MERGE that keeps the shipped corpus
    // keep-best as data arrives; the same rows are emitted online by
    // streaming.EventStreams.streamingKeeperUpgrades (spec-pinned)
    "q269_keeper_upgrades" -> ((s, d) =>
      Dedup.keeperUpgrades(Tables(s, d, "documents"), 250L)),
    // IVF index-health audit: per trained q92 cell — member count,
    // corpus share, and load factor vs perfect balance (1e6 = ideal;
    // max row = worst-case probe multiplier); shared trainCents/
    // assignCells, so the audit can never disagree with the index
    "q270_ivf_cell_balance" -> ((s, d) =>
      Similarity.ivfCellBalance(Tables(s, d, "embeddings"))),
    // sketch-estimator calibration: per LSH candidate pair the
    // signature-agreement estimate beside the exact Jaccard, folded
    // to per-decile n/mean/min/max — the evidence behind trusting the
    // q22 threshold, priced at band-join cost on the pairs the
    // pipeline verifies anyway
    "q271_minhash_calibration" -> ((s, d) =>
      Dedup.minhashCalibration(Tables(s, d, "documents"))),
    // the SHIPPED keeper table maintained incrementally: carry
    // yesterday's rows for untouched clusters, recompute dirty ones
    // from absorbed keeper-row digests + batch sizes; oracle = q262's
    // full rebuild VERBATIM (hash match = merge ≡ rebuild). Split
    // data-derived at 90/10 like q202 (round-12 verdict #8 — the
    // production shape is a SMALL batch against a large store;
    // STOREBENCH's production-vs-convention pricing keeps its own
    // full-size split)
    // verify/bench cost bounded two ways (round-12 verdict #8 — this
    // was the suite's most expensive row, ~2× everything else, all of
    // it oracle-convention double rebuild): the row runs on a
    // constant-size doc_id prefix (identity at the sf0.01 gate,
    // mirrored by the oracle's WHERE; the law is spec-proven at three
    // caps and priced full-size in STOREBENCH), and the split within
    // it is the data-derived 90/10
    "q272_incremental_dedup_output" -> ((s, d) => {
      val docs = Dedup.boundedOracleSlice(Tables(s, d, "documents"), 2500L)
      Dedup.incrementalDedupOutput(docs, Dedup.ingestCap(docs))
    }),
    // PQ quantization health: per-vector distortion 1 − ⟨u, recon⟩
    // (the ADC self-term — the audited quantity IS the serving error)
    // through the q257 float-quantile machine; the codebook is the
    // memoized q106/q107 training, so the audit prices one join +
    // one linear histogram pass
    "q273_pq_distortion" -> ((s, d) =>
      Similarity.pqDistortion(Tables(s, d, "embeddings"))),
    // q271 conditioned on the smaller side's set size (bands = exact
    // data-derived quartiles of the candidate nmin distribution — no
    // corpus-scale parameter) — the short-document bias detector a
    // corpus-wide calibration mean buries; spec pins the marginal law
    // (band rows sum back to q271)
    "q274_minhash_calib_bands" -> ((s, d) =>
      Dedup.minhashCalibrationByLength(Tables(s, d, "documents"))),
    // pending cluster merges: arrivals that verify into >=2 distinct
    // stored clusters prove those clusters will merge at the next
    // batch commit — the staleness row the online keeper overlay
    // cannot express (cluster identity changes); served as the
    // merge_pending flag in LabelStore.servingKeepers
    "q275_merge_pending" -> ((s, d) =>
      Dedup.mergePending(Tables(s, d, "documents"), 250L)),
    // the fourth estimator-health relation (q270 IVF, q271 MinHash,
    // q273 PQ): per q91 candidate pair — block collisions BEFORE the
    // dist cut, exactly what the matcher pays to verify — exact
    // Jaccard folded per Hamming distance; the far buckets price the
    // chance-collision tail (28-bit saturation made measurable)
    "q276_simhash_calibration" -> ((s, d) =>
      Dedup.simhashCalibration(Tables(s, d, "documents"))),
    // the data-mixing constraint on the dedup output: per-source keep
    // caps filled best-first, every keeper carrying its rank and the
    // admit verdict (the full audit trail, not just the admitted rows)
    "q277_keeper_quota" -> ((s, d) =>
      Dedup.keeperQuota(Tables(s, d, "documents"), 10)),
    // "why was my document removed": every dropped member with its
    // keeper and the EXACT doc<->keeper Jaccard — transitive-closure
    // chains put many of these BELOW the pairwise threshold, which is
    // exactly what an owner wants surfaced before trusting the dedup
    "q278_drop_attribution" -> ((s, d) =>
      Dedup.dropAttribution(Tables(s, d, "documents"))),
    // source-quality triage: per source — docs, clusters touched,
    // survivors, drop rate; a crawl seam / mirrored dump is an
    // outlier here long before anyone reads documents
    "q279_source_dup_rate" -> ((s, d) =>
      Dedup.sourceDupRate(Tables(s, d, "documents"))),
    // provenance/contamination: source PAIRS sharing near-dup
    // clusters (mirrored crawls, benchmark dumps leaking into web
    // sources), counted per unordered pair within clusters only
    "q280_cross_source_dups" -> ((s, d) =>
      Dedup.crossSourceDups(Tables(s, d, "documents"))),
    // the dedup-threshold DECISION as a measured curve: per integer
    // percent t in [80..100], verified candidate pairs with exact
    // Jaccard ≥ t and docs whose BEST candidate neighbor is ≥ t (the
    // docs a dedup at t would touch) — the knee of this curve is what
    // an operator reads before committing q22's 0.95
    "q281_threshold_sensitivity" -> ((s, d) =>
      Dedup.thresholdSensitivity(Tables(s, d, "documents"))),
    // q281's curve on the EMBEDDING modality: per integer cosine
    // percent over the q216 PCA-bin candidates — the semantic-dedup
    // threshold decision measured instead of asserted
    "q282_cosine_sensitivity" -> ((s, d) =>
      Similarity.cosineThresholdSensitivity(Tables(s, d, "embeddings"))),
    "q283_cosine_multiprobe" -> ((s, d) =>
      Similarity.cosineThresholdSensitivity(Tables(s, d, "embeddings"),
        multiProbe = true)),
  )

  // --- shared DuckDB CTE fragments (tokenizer mirror of TextFns) ---
  private val rawtoksCte =
    """rawtoks AS (
      |  SELECT doc_id, lang, lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) AS word
      |  FROM (SELECT doc_id, lang, unnest(string_split_regex(text, '\s+')) AS w FROM documents)
      |  WHERE lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) <> '')""".stripMargin
  private val toksCte =
    s"""$rawtoksCte,
       |toks AS (SELECT DISTINCT doc_id, word FROM rawtoks)""".stripMargin
  // position-carrying mirror of TextFns.posTokens: offsets over the RAW
  // whitespace split (zipped unnest), empties dropped AFTER numbering —
  // identical to Spark's posexplode-then-filter
  private val postoksCte =
    """postoks AS (
      |  SELECT doc_id, lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) AS word, pos
      |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w,
      |               unnest(range(len(string_split_regex(text, '\s+')))) AS pos
      |        FROM documents)
      |  WHERE lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) <> '')""".stripMargin
  private val postingsCte =
    s"""$toksCte,
       |post AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS df, list_sort(list(doc_id)) AS postings
       |  FROM toks GROUP BY word)""".stripMargin

  /** ORDER-PRESERVING tokenizer mirror (TextFns.orderedWords): the one
    * DuckDB fragment the sequence-sensitive oracles (q62, q82, q88)
    * share, so the cross-engine tokenizer contract lives in one place
    * like rawtoksCte does for the exploded form. */
  private val ordtoksCte =
    """ordtoks AS (
      |  SELECT doc_id,
      |         list_filter(list_transform(string_split_regex(text, '\s+'),
      |           w -> lower(regexp_replace(w, '[^A-Za-z]', '', 'g'))),
      |         w -> w <> '') AS ws
      |  FROM documents)""".stripMargin

  /** DuckDB mirror of TextFns.polyHash (same left fold, same modulus). */
  /** The BM25 per-doc scoring chain ending in `bmscore(doc_id,
    * score_q)` — ONE definition shared by q99 (top-k output) and q103
    * (the text list of the hybrid fusion), so the two oracles can
    * never score differently. Float association mirrors
    * InvertedIndex.bm25Search exactly; each term floor-quantizes
    * before the per-doc sum (order-independent). */
  private lazy val bm25ScoreCtes: String =
    s"""$rawtoksCte,
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM rawtoks GROUP BY doc_id),
       |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM rawtoks
       |       WHERE word IN ('spark', 'join', 'batch') GROUP BY doc_id, word),
       |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
       |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
       |              (SELECT avg(dl) FROM dl) AS avgdl),
       |term AS (
       |  SELECT t.doc_id,
       |         CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |                    * (tf * 2.2)
       |                    / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
       |                    * 1e6) AS BIGINT) AS ts_q
       |  FROM tf t JOIN dl USING (doc_id) JOIN dfq USING (word) CROSS JOIN st),
       |bmscore AS (SELECT doc_id, CAST(sum(ts_q) AS BIGINT) AS score_q
       |            FROM term GROUP BY doc_id)""".stripMargin

  /** The 2-round Lloyd training chain (q92's oracle CTEs) ending in
    * `cents2` — ONE definition shared by q92 (assignment output) and
    * q102 (q43's probe over the trained codebook), so the two oracles
    * can never train different codebooks. */
  private lazy val lloydCentsCtes: String =
    s"""cents0 AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e
       |           ORDER BY ${polyHashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 32),
       |a1 AS (SELECT vec_id, v, nrm, cell FROM (
       |        SELECT e.vec_id, e.v, e.nrm, c.cent_id AS cell,
       |               row_number() OVER (PARTITION BY e.vec_id
       |                 ORDER BY round(${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm), 6) DESC,
       |                          c.cent_id) AS r
       |        FROM e CROSS JOIN cents0 c) WHERE r = 1),
       |m1 AS (SELECT cell, pos,
       |              CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6 AS m
       |       FROM (SELECT cell, z[2] AS pos, CAST(z[1] AS DOUBLE) AS x
       |             FROM (SELECT cell, unnest(list_zip(v, range(1, len(v) + 1))) AS z
       |                   FROM a1))
       |       GROUP BY cell, pos),
       |cents1 AS (SELECT cent_id, cv, sqrt(${dotSql("cv", "cv")}) AS cnrm FROM (
       |            SELECT cell AS cent_id, list(m ORDER BY pos) AS cv
       |            FROM m1 GROUP BY cell)),
       |a2 AS (SELECT vec_id, v, nrm, cell FROM (
       |        SELECT e.vec_id, e.v, e.nrm, c.cent_id AS cell,
       |               row_number() OVER (PARTITION BY e.vec_id
       |                 ORDER BY round(${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm), 6) DESC,
       |                          c.cent_id) AS r
       |        FROM e CROSS JOIN cents1 c) WHERE r = 1),
       |m2 AS (SELECT cell, pos,
       |              CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6 AS m
       |       FROM (SELECT cell, z[2] AS pos, CAST(z[1] AS DOUBLE) AS x
       |             FROM (SELECT cell, unnest(list_zip(v, range(1, len(v) + 1))) AS z
       |                   FROM a2))
       |       GROUP BY cell, pos),
       |cents2 AS (SELECT cent_id, cv, sqrt(${dotSql("cv", "cv")}) AS cnrm FROM (
       |            SELECT cell AS cent_id, list(m ORDER BY pos) AS cv
       |            FROM m2 GROUP BY cell))""".stripMargin

  /** The LSH ANN probe — q26's oracle, and VERBATIM q204's: the
    * stored-artifact probe (graft-vectors DSv2 scan) must reproduce
    * the in-query form exactly, so both hash against one text. */
  private lazy val lshAnnOracle: String =
    s"""WITH $embCte,
       |eb AS (SELECT vec_id, v, nrm, CAST($lshBucketSql AS BIGINT) AS bucket FROM e),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
       |         ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
       |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 20)
       |SELECT vec_a, vec_b, bucket, round(cos, 2) AS cos_sim, rnk FROM (
       |  SELECT vec_a, vec_b, bucket, cos,
       |         row_number() OVER (PARTITION BY vec_a
       |                            ORDER BY round(cos, 6) DESC, vec_b) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3 ORDER BY vec_a, rnk, vec_b""".stripMargin

  /** The from-scratch full-corpus cluster closure — q58's oracle, and
    * VERBATIM q202's: the incremental label merge must reproduce the
    * rebuild exactly (merge ≡ rebuild), so both queries hash against
    * one oracle text. Edge set = q22's LSH candidate chain (MinHash
    * bands → candidates → exact-Jaccard verify), closure = recursive
    * CTE reachability, label = min doc_id per component. */
  /** The q58/q202 recursive closure up to `reach(u, v)` — shared by
    * the cluster-label oracles and q233's savings-report rollup. */
  /** The q22/q58 LSH pipeline up to the VERIFIED near-dup `edges` —
    * shared by the reach closure below and q251's provenance rollup. */
  private lazy val lshEdgeCtes: String =
    s"""$toksCte,
       |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
       |perms(i, a, b) AS (VALUES $permsValues),
       |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
       |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
       |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
       |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |$setsCte,
       |edges AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |           ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
       |    FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id)
       |  WHERE jaccard >= 0.95)""".stripMargin

  private lazy val clusterReachCtes: String =
    s"""$lshEdgeCtes,
       |sym AS (SELECT doc_a AS u, doc_b AS v FROM edges
       |        UNION ALL SELECT doc_b, doc_a FROM edges),
       |reach(u, v) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)""".stripMargin

  /** The q262 full-rebuild keeper-table oracle — shared VERBATIM with
    * q272 (incremental carry+recompute), so the hash match IS the
    * merge ≡ rebuild proof for the shipped dedup output. */
  private lazy val dedupOutputOracle: String =
    s"""WITH RECURSIVE $clusterReachCtes,
       |lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
       |sz AS (SELECT lab.doc_id, cluster_id, n_chars
       |       FROM lab JOIN documents USING (doc_id)),
       |r AS (SELECT cluster_id, doc_id, n_chars,
       |             row_number() OVER (PARTITION BY cluster_id
       |               ORDER BY n_chars DESC, doc_id) AS rk
       |      FROM sz),
       |a AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |             CAST(sum(n_chars) AS BIGINT) AS tot
       |      FROM sz GROUP BY 1)
       |SELECT r.doc_id AS keep_id, r.cluster_id, a.n_members,
       |       CAST(r.n_chars AS BIGINT) AS n_chars_kept,
       |       CAST(a.tot - r.n_chars AS BIGINT) AS n_chars_dropped
       |FROM r JOIN a USING (cluster_id)
       |WHERE rk = 1 ORDER BY keep_id""".stripMargin

  private lazy val fullClusterOracle: String =
    s"""WITH RECURSIVE $clusterReachCtes
       |SELECT u AS doc_id, min(v) AS cluster_id,
       |       (u = min(v)) AS is_canonical
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** The q199 oracle: the BPE training loop unrolled into `rounds`
    * chained CTE blocks (DuckDB mirror of Bpe.bpeMerges — identical
    * pair/argmax/greedy-merge/rebuild algebra per round). */
  private def bpeOracleSql(rounds: Int,
      tailOverride: Option[String] = None): String = {
    val head =
      s"""WITH $rawtoksCte,
         |r0 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |         list_transform(range(1, len(word) + 1),
         |                        i -> substr(word, CAST(i AS INT), 1)) AS syms
         |  FROM rawtoks GROUP BY word)""".stripMargin
    val blocks = (1 to rounds).map { k =>
      val prev = s"r${k - 1}"
      s"""p$k AS (
         |  SELECT word, freq, i,
         |         syms[CAST(i AS INT)] AS a, syms[CAST(i + 1 AS INT)] AS b
         |  FROM (SELECT word, freq, syms, unnest(range(1, len(syms))) AS i
         |        FROM $prev)),
         |b$k AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p$k
         |        GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
         |m$k AS (SELECT p.word, p.i,
         |          row_number() OVER (PARTITION BY p.word ORDER BY p.i) AS rn
         |        FROM p$k p JOIN b$k bb ON p.a = bb.a AND p.b = bb.b),
         |mm$k AS (SELECT word, i FROM (
         |          SELECT word, i,
         |            row_number() OVER (PARTITION BY word, i - rn ORDER BY i) AS kk
         |          FROM m$k) WHERE kk % 2 = 1),
         |r$k AS (
         |  SELECT word, freq, list(s ORDER BY p) AS syms FROM (
         |    SELECT ap.word, ap.freq, ap.p,
         |      CASE WHEN st.i IS NOT NULL
         |        THEN ap.syms[CAST(ap.p AS INT)] || ap.syms[CAST(ap.p + 1 AS INT)]
         |        ELSE ap.syms[CAST(ap.p AS INT)] END AS s,
         |      sec.i IS NOT NULL AS skip
         |    FROM (SELECT word, freq, syms, unnest(range(1, len(syms) + 1)) AS p
         |          FROM $prev) ap
         |    LEFT JOIN mm$k st ON st.word = ap.word AND st.i = ap.p
         |    LEFT JOIN mm$k sec ON sec.word = ap.word AND sec.i = ap.p - 1)
         |  WHERE NOT skip GROUP BY word, freq)""".stripMargin
    }
    val tail = tailOverride.getOrElse(
      (1 to rounds).map { k =>
        s"""SELECT $k AS step, a AS lhs, b AS rhs, a || b AS merged,
           |       cnt AS pair_count FROM b$k""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY step")
    (head +: blocks).mkString(",\n") + s"\n$tail"
  }

  private def polyHashSql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a*31+b) % ${Hashing.P})"

  /** DuckDB mirror of Similarity.dot (left fold over the zipped pair). */
  /** q282/q283 shared oracle text — the cosine sensitivity fold over
    * the PCA-bin candidate pairs; `binPred` is the candidate bin
    * predicate (same-bin for q282; adjacent-bin multi-probe for q283,
    * round-13 verdict #4 — one changed predicate, everything else
    * byte-identical so the two curves are comparable row for row). */
  private def cosineSensitivityOracle(binPred: String): String =
    s"""WITH RECURSIVE $pcaCtes,
       |$embCte,
       |proj AS MATERIALIZED (SELECT q.vec_id, CAST(sum(q.xq * w8.w) AS BIGINT) AS proj_q
       |         FROM q JOIN w8 ON q.pos = w8.pos GROUP BY q.vec_id),
       |mm AS (SELECT CAST(min(proj_q) AS BIGINT) AS lo,
       |              CAST(max(proj_q) AS BIGINT) AS hi FROM proj),
       |binned AS MATERIALIZED (SELECT vec_id,
       |             CAST(CASE WHEN hi = lo THEN 0
       |               ELSE ((proj_q - lo) * 16) // (hi - lo + 1) END AS BIGINT) AS bin
       |           FROM proj CROSS JOIN mm),
       |eb AS MATERIALIZED (SELECT e.vec_id, e.v, e.nrm, b.bin
       |       FROM e JOIN binned b ON e.vec_id = b.vec_id),
       |x AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       |             CAST(floor(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) * 100) AS BIGINT) AS p
       |      FROM eb a JOIN eb b ON $binPred AND a.vec_id < b.vec_id),
       |ph AS (SELECT p, count(*) AS np FROM x GROUP BY 1),
       |db AS (SELECT doc_id, max(p) AS p
       |       FROM (SELECT doc_a AS doc_id, p FROM x
       |             UNION ALL SELECT doc_b, p FROM x) GROUP BY 1),
       |dh AS (SELECT p, count(*) AS nd FROM db GROUP BY 1)
       |SELECT CAST(t AS BIGINT) AS threshold_pct,
       |       CAST(COALESCE((SELECT sum(np) FROM ph WHERE p >= t), 0) AS BIGINT) AS pairs_ge,
       |       CAST(COALESCE((SELECT sum(nd) FROM dh WHERE p >= t), 0) AS BIGINT) AS vecs_touched
       |FROM generate_series(40, 100) g(t) ORDER BY 1""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(list_zip($a, $b), p -> p[1] * p[2])), (acc, x) -> acc + x)"

  /** Embedding CTE with the norm precomputed once per vector — mirrors
    * Similarity.withNorm (same fold → same doubles). */
  private val embCte: String =
    s"""e AS (
       |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM (
       |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |    FROM embeddings))""".stripMargin

  /** The q257 exponent-bucket + boundary-rule pipeline over ANY
    * x-producing query — templated (round 10) so every float metric
    * gets the same bit-identical bucketing: q257 feeds raw order
    * totals, q264 the fold-exact embedding norms. */
  private def floatQuantilesOracle(xSource: String,
      preCtes: String = ""): String = {
    val pre = if (preCtes.isEmpty) "" else preCtes + ",\n"
    s"""WITH $pre x AS ($xSource),
       |b AS (SELECT x, abs(x) AS m,
       |             CASE WHEN abs(x) > 0 THEN CAST(floor(log2(abs(x))) AS BIGINT)
       |                  ELSE 0 END AS e0
       |      FROM x),
       |b2 AS (SELECT x, m,
       |              CASE WHEN m > 0 THEN
       |                CASE WHEN pow(2.0, CAST(e0 + 1 AS DOUBLE)) <= m THEN e0 + 1
       |                     WHEN pow(2.0, CAST(e0 AS DOUBLE)) > m THEN e0 - 1
       |                     ELSE e0 END
       |              ELSE 0 END AS e1
       |       FROM b),
       |b3 AS (SELECT x, m, greatest(e1, -1014) AS e FROM b2),
       |b4 AS (SELECT x, m, e, pow(2.0, CAST(e - 8 AS DOUBLE)) AS p2,
       |              CASE WHEN m > 0
       |                THEN CAST(floor(m / pow(2.0, CAST(e - 8 AS DOUBLE))) AS BIGINT)
       |                ELSE 0 END AS top
       |       FROM b3),
       |b5 AS (SELECT CASE WHEN x = 0 THEN 0
       |              ELSE CAST(sign(x) AS BIGINT) * ((e + 1075) * 512 + top) END AS bid,
       |              CASE WHEN x = 0 THEN 0.0 WHEN x > 0 THEN top * p2
       |                   ELSE -(top + 1) * p2 END AS lo,
       |              CASE WHEN x = 0 THEN 0.0 WHEN x > 0 THEN (top + 1) * p2
       |                   ELSE -top * p2 END AS hi
       |       FROM b4),
       |h AS (SELECT bid, CAST(count(*) AS BIGINT) AS cnt,
       |             max(lo) AS lo, max(hi) AS hi
       |      FROM b5 GROUP BY 1),
       |c AS (SELECT bid, cnt, sum(cnt) OVER (ORDER BY bid
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
       |p AS (SELECT n,
       |        CAST(min(CASE WHEN cum * 100 >= n * 50 THEN bid END) AS BIGINT) AS p50_bid,
       |        CAST(min(CASE WHEN cum * 100 >= n * 95 THEN bid END) AS BIGINT) AS p95_bid
       |      FROM c CROSS JOIN t GROUP BY n)
       |SELECT n, p50_bid, h1.lo AS p50_lo, h1.hi AS p50_hi,
       |       p95_bid, h2.lo AS p95_lo, h2.hi AS p95_hi
       |FROM p JOIN h h1 ON h1.bid = p50_bid
       |       JOIN h h2 ON h2.bid = p95_bid""".stripMargin
  }

  /** Shared token-set CTE for the jaccard-verify oracles. */
  private val setsCte =
    "sets AS (SELECT doc_id, list(word) AS ws, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id)"

  private def jaccardSql(inter: String, na: String, nb: String): String =
    s"CAST($inter AS DOUBLE) / ($na + $nb - $inter)"

  /** The MinHash permutation family as a VALUES table — literals
    * identical to Hashing.permA/permB. */
  private val permsValues: String =
    (0 until Hashing.NumPerms)
      .map(i => s"(${i}, ${Hashing.permA(i)}, ${Hashing.permB(i)})")
      .mkString(", ")

  /** DuckDB mirror of Similarity.lshBucket: per-plane sign bit of the
    * weighted sum, weights interpolated from Hashing.planeWeight. */
  /** One sign-bit fold generator for any plane RANGE — the SQL twin
    * of the `LshBucket` kernel's `(from, until)` range, so both
    * families (and any future one) share a single definition on both
    * engines. */
  private def lshBucketSqlRange(from: Int, until: Int): String =
    (from until until).map { p =>
      val w = (0 until 64).map(d => Hashing.planeWeight(p, d)).mkString("[", ",", "]")
      val dotW = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(list_zip(v, $w), p -> p[1] * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x)"
      s"(CASE WHEN $dotW > 0 THEN CAST(${1L << (p - from)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  private val lshBucketSql: String = lshBucketSqlRange(0, Hashing.NumPlanes)

  /** The SECOND hyperplane family (planes 8–15 — `Similarity
    * .lshBucket2`'s mirror; the lattice repeats with period 17, so
    * these are the only other non-aliasing planes). */
  private val lshBucket2Sql: String =
    lshBucketSqlRange(Hashing.NumPlanes, 2 * Hashing.NumPlanes)

  /** q205's oracle: the NSW graph build replayed stage by stage —
    * two bucket families' self-joins + polyHash long links → DISTINCT
    * candidates → cosine → top-m per src → NN-descent self-join →
    * re-score → top-m → symmetrize → top-2m. Every stage is the exact
    * mirror of `Similarity.nswGraph` (same folds, same round-6, same
    * (cos6 desc, dst asc) window order), so the hash gates the whole
    * construction edge for edge. */
  /** Shared by q196 (XML sidecar) and q208 (Avro sidecar): ONE
    * content gate — group counts, char sums, and a bounded polyhash
    * text signature — applied to the same documents table served
    * through different round-trip formats, while the oracle always
    * reads the parquet original. */
  private lazy val docProfileOracle: String =
    s"""SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |       CAST(sum(len(text)) AS BIGINT) AS sum_len,
       |       CAST(sum(${polyHashSql("text")} % 1000003) AS BIGINT) AS text_sig
       |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q211 — the full PCA replay: quantized covariance + all power-
    * iteration rounds unrolled (integer state each round, so both
    * engines and the driver-local loop agree bit-for-bit). The pair
    * stage here is a vec_id self-join — fine for the oracle's replay;
    * the ENGINE builds the same sums map-side from a nested array
    * transform (no corpus shuffle). */
  private lazy val pcaCtes: String = {
    val roundCtes = (1 to 8).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s"""t$r AS (SELECT a, CAST(sum(c * w) AS BIGINT) AS t
         |        FROM cov JOIN $prev ON b = pos GROUP BY a),
         |mx$r AS (SELECT CAST(max(abs(t)) AS BIGINT) AS mx FROM t$r),
         |w$r AS (SELECT a AS pos,
         |               CAST(floor(CAST(t AS DOUBLE) / mx * 1e3 + 0.5) AS BIGINT) AS w
         |        FROM t$r CROSS JOIN mx$r)""".stripMargin
    }.mkString(",\n")
    s"""ec AS (SELECT vec_id,
       |               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |        FROM embeddings),
       |q AS (SELECT vec_id, z[2] AS pos,
       |             CAST(floor(CAST(z[1] AS DOUBLE) * 1e6) AS BIGINT) AS xq
       |      FROM (SELECT vec_id, unnest(list_zip(v, range(0, len(v)))) AS z
       |            FROM ec)),
       |s AS (SELECT pos, CAST(sum(xq) AS BIGINT) AS sx,
       |             CAST(count(*) AS BIGINT) AS n FROM q GROUP BY pos),
       |pp AS (SELECT qa.pos AS a, qb.pos AS b,
       |              CAST(sum(qa.xq * qb.xq) AS BIGINT) AS spp
       |       FROM q qa JOIN q qb ON qa.vec_id = qb.vec_id GROUP BY 1, 2),
       |cov AS (SELECT a, b,
       |        CAST(floor((CAST(spp AS DOUBLE) - CAST(sa.sx AS DOUBLE) * sb.sx / sa.n) / sa.n) AS BIGINT) AS c
       |        FROM pp JOIN s sa ON sa.pos = a JOIN s sb ON sb.pos = b),
       |w0 AS (SELECT pos, CAST(1000 AS BIGINT) AS w FROM s),
       |$roundCtes""".stripMargin
  }

  /** q209/q213/q214 — the NB train→score chain as a shared CTE block
    * ending in `nbscored(doc_id, n_tok, score_q, pred, pos)`: q209
    * projects the scored corpus, q213's confusion metrics and q214's
    * rank-sum AUC evaluate the held-out third. One text, three gates —
    * the metrics judge exactly the relation the classifier ships. */
  private lazy val nbCtes: String =
    s"""$rawtoksCte,
       |tc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS m
       |       FROM rawtoks GROUP BY 1, 2),
       |lab AS (SELECT doc_id,
       |               CAST(sum(CASE WHEN word IN ('the','a','of','and','in','to','is','it')
       |                             THEN m ELSE 0 END) AS DOUBLE) / sum(m) >= 0.08 AS pos
       |        FROM tc GROUP BY doc_id),
       |ct AS (SELECT word,
       |              CAST(sum(CASE WHEN pos THEN m ELSE 0 END) AS BIGINT) AS c_pos,
       |              CAST(sum(CASE WHEN pos THEN 0 ELSE m END) AS BIGINT) AS c_neg
       |       FROM tc JOIN lab USING (doc_id)
       |       WHERE doc_id % 3 <> 0 GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS tot_pos,
       |               CAST(sum(c_neg) AS BIGINT) AS tot_neg,
       |               CAST(count(*) AS BIGINT) AS v FROM ct),
       |pri AS (SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |               CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
       |        FROM lab WHERE doc_id % 3 <> 0),
       |model AS (SELECT word,
       |       CAST(floor(ln(CAST(c_pos + 1 AS DOUBLE) / CAST(tot_pos + v AS DOUBLE)) * 1e6) AS BIGINT)
       |     - CAST(floor(ln(CAST(c_neg + 1 AS DOUBLE) / CAST(tot_neg + v AS DOUBLE)) * 1e6) AS BIGINT) AS w_q
       |          FROM ct CROSS JOIN tot),
       |sc AS (SELECT doc_id, m,
       |       coalesce(w_q,
       |         CAST(floor(ln(CAST(1 AS DOUBLE) / CAST(tot_pos + v AS DOUBLE)) * 1e6) AS BIGINT)
       |       - CAST(floor(ln(CAST(1 AS DOUBLE) / CAST(tot_neg + v AS DOUBLE)) * 1e6) AS BIGINT)) AS w_eff
       |       FROM tc LEFT JOIN model USING (word) CROSS JOIN tot),
       |sp AS (SELECT sc.*,
       |       CAST(floor(ln(CAST(n_pos AS DOUBLE) / CAST(n_neg AS DOUBLE)) * 1e6) AS BIGINT) AS pq
       |       FROM sc CROSS JOIN pri),
       |nbscored AS (
       |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tok,
       |         CAST(max(pq) + sum(m * w_eff) AS BIGINT) AS score_q,
       |         CAST(max(pq) + sum(m * w_eff) AS BIGINT) > 0 AS pred, pos
       |  FROM sp JOIN lab USING (doc_id) GROUP BY doc_id, pos)""".stripMargin

  /** q221/q224 — the chi2 contingency + ranking as a shared fragment
    * ending in `chi2ranked(word, df_pos, df_neg, chi2_q, pos_assoc)`:
    * q221 projects the top-k list; q224 feeds the selection into
    * restricted NB training. Expects `tc`/`lab` in scope (nbCtes). */
  private lazy val chi2Ctes: String =
    s"""trn AS (SELECT tc.word, lab.pos FROM tc JOIN lab USING (doc_id)
       |        WHERE doc_id % 3 <> 0),
       |cls AS (SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |               CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |        FROM lab WHERE doc_id % 3 <> 0),
       |dfreq AS (SELECT word,
       |                 CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS df_pos,
       |                 CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS df_neg
       |          FROM trn GROUP BY 1),
       |x AS (SELECT word, df_pos, df_neg, np, nn,
       |             np - df_pos AS cc, nn - df_neg AS dd,
       |             CAST(df_pos * (nn - df_neg) - df_neg * (np - df_pos) AS DOUBLE) AS det
       |      FROM dfreq CROSS JOIN cls
       |      WHERE df_pos + df_neg >= 5),
       |chi2ranked AS (SELECT word, df_pos, df_neg,
       |       CASE WHEN (df_pos + df_neg) * (cc + dd) = 0 OR np * nn = 0 THEN 0
       |            ELSE CAST(floor(1e6 * (CAST(np + nn AS DOUBLE) * det * det /
       |                 (CAST((df_pos + df_neg) * (cc + dd) AS DOUBLE) * CAST(np * nn AS DOUBLE)))) AS BIGINT)
       |       END AS chi2_q,
       |       df_pos * nn > df_neg * np AS pos_assoc
       |FROM x)""".stripMargin

  /** q209/q223 — shared from-scratch NB replay (q223 is the
    * incremental state merge whose hash match proves merge ≡
    * rebuild). */
  private lazy val nbClassifierOracle: String =
    s"""WITH $nbCtes
       |SELECT doc_id, n_tok, score_q, pred
       |FROM nbscored ORDER BY doc_id""".stripMargin

  /** q215/q218 — shared full-corpus OLS replay (q218 is the
    * incremental merge whose hash match proves merge = rebuild). */
  private lazy val olsOracle: String =
    """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_q,
        |         CAST(count(*) AS BIGINT) AS n_ev
        |  FROM events GROUP BY 1, 2),
        |yd AS (SELECT event_type, day,
        |              CASE WHEN n_ev = 0 THEN 0
        |                   ELSE (sum_q - ((sum_q % n_ev) + n_ev) % n_ev) // n_ev END AS y,
        |              min(day) OVER (PARTITION BY event_type) AS d0
        |       FROM daily),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |             CAST(sum(day - d0) AS BIGINT) AS sum_d,
        |             CAST(sum(y) AS BIGINT) AS sum_y,
        |             CAST(sum((day - d0) * y) AS BIGINT) AS sum_dy,
        |             CAST(sum((day - d0) * (day - d0)) AS BIGINT) AS sum_d2
        |      FROM yd GROUP BY 1),
        |fit AS (SELECT s.*,
        |  CAST(CASE WHEN n_days * sum_d2 - sum_d * sum_d = 0 THEN 0
        |    ELSE ((n_days * sum_dy - sum_d * sum_y)
        |          - (((n_days * sum_dy - sum_d * sum_y) % (n_days * sum_d2 - sum_d * sum_d))
        |             + (n_days * sum_d2 - sum_d * sum_d)) % (n_days * sum_d2 - sum_d * sum_d))
        |         // (n_days * sum_d2 - sum_d * sum_d) END AS BIGINT) AS slope_q
        |  FROM s)
        |SELECT event_type, n_days, sum_d, sum_y, slope_q,
        |       CAST(CASE WHEN n_days = 0 THEN 0
        |         ELSE ((sum_y - slope_q * sum_d)
        |               - (((sum_y - slope_q * sum_d) % n_days) + n_days) % n_days)
        |              // n_days END AS BIGINT) AS intercept_q
        |FROM fit ORDER BY event_type""".stripMargin

  /** q128/q219 — shared WAV feature replay (two decode kernels, one
    * gate: the hand-rolled chunk walker and the AudioSystem library
    * reader must both match the text-side recompute). */
  private lazy val wavOracle: String =
    """WITH a AS (
        |  SELECT doc_id,
        |         list_transform(string_split(text, ''),
        |           c -> CAST((ascii(c) - 128) * 256 AS BIGINT)) AS s,
        |         list_transform(string_split(text, ''),
        |           c -> CAST(ascii(c) AS BIGINT)) AS bs,
        |         CAST(length(text) AS BIGINT) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n,
        |         8000 + (list_reduce(list_prepend(CAST(0 AS BIGINT), bs),
        |                   (p, q) -> p + q) % 4000) AS sample_rate,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(s, x -> x * x)), (p, q) -> p + q) AS energy,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(s, x -> abs(x))), (p, q) -> greatest(p, q)) AS peak_abs
        |  FROM a)
        |SELECT doc_id, sample_rate, n AS n_samples,
        |       n * 1000000 // sample_rate AS duration_micros, energy, peak_abs
        |FROM b ORDER BY doc_id""".stripMargin

  private lazy val pcaOracle: String =
    s"""WITH $pcaCtes
       |SELECT w8.pos, w8.w AS loading_q, mx8.mx AS lam_q
       |FROM w8 CROSS JOIN mx8 ORDER BY pos""".stripMargin

  /** q212 — the projection shares the FULL training replay (pcaCtes),
    * so its hash gates train + apply end to end. */
  private lazy val pcaProjectOracle: String =
    s"""WITH $pcaCtes
       |SELECT q.vec_id, CAST(sum(q.xq * w8.w) AS BIGINT) AS proj_q,
       |       CAST(CAST(sum(q.xq * w8.w) AS BIGINT) AS DOUBLE) / 1e9 AS proj
       |FROM q JOIN w8 ON q.pos = w8.pos
       |GROUP BY q.vec_id ORDER BY q.vec_id""".stripMargin

  private lazy val nswGraphOracle: String = {
    // mod SRC, not corpus size: links point to EARLIER ids only (NSW
    // insertion-order semantics) — growth-stable, which is what lets
    // q206 share this oracle (no old link moves when the corpus grows)
    val farUnion = (0 until 4).map { j =>
      s"""SELECT vec_id AS src,
         |       ${polyHashSql(s"'nsw$j:' || CAST(vec_id AS VARCHAR)")} % vec_id AS dst
         |FROM e WHERE vec_id > 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $embCte,
       |eb AS (SELECT vec_id, v, nrm,
       |              CAST($lshBucketSql AS BIGINT) AS bk1,
       |              CAST($lshBucket2Sql AS BIGINT) AS bk2 FROM e),
       |cand AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst
       |    FROM eb a JOIN eb b ON a.bk1 = b.bk1 AND a.vec_id <> b.vec_id
       |    UNION ALL
       |    SELECT a.vec_id, b.vec_id
       |    FROM eb a JOIN eb b ON a.bk2 = b.bk2 AND a.vec_id <> b.vec_id
       |    UNION ALL
       |    SELECT src, dst FROM ($farUnion) WHERE src <> dst)),
       |sc AS (SELECT c.src, c.dst,
       |              round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos6
       |       FROM cand c JOIN e a ON c.src = a.vec_id
       |                   JOIN e b ON c.dst = b.vec_id),
       |base AS (SELECT src, dst, cos6 FROM (
       |  SELECT src, dst, cos6,
       |         row_number() OVER (PARTITION BY src
       |                            ORDER BY cos6 DESC, dst) AS r
       |  FROM sc) WHERE r <= 8),
       |cand2 AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM base
       |  UNION ALL
       |  SELECT a.src, b.dst FROM base a JOIN base b ON a.dst = b.src
       |  WHERE a.src <> b.dst)),
       |sc2 AS (SELECT c.src, c.dst,
       |               round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos6
       |        FROM cand2 c JOIN e a ON c.src = a.vec_id
       |                     JOIN e b ON c.dst = b.vec_id),
       |ref AS (SELECT src, dst, cos6 FROM (
       |  SELECT src, dst, cos6,
       |         row_number() OVER (PARTITION BY src
       |                            ORDER BY cos6 DESC, dst) AS r
       |  FROM sc2) WHERE r <= 8),
       |sym AS (SELECT DISTINCT src, dst, cos6 FROM (
       |  SELECT src, dst, cos6 FROM ref
       |  UNION ALL
       |  SELECT dst AS src, src AS dst, cos6 FROM ref)),
       |fin AS (SELECT src, dst, cos6 FROM (
       |  SELECT src, dst, cos6,
       |         row_number() OVER (PARTITION BY src
       |                            ORDER BY cos6 DESC, dst) AS r
       |  FROM sym) WHERE r <= 16)
       |SELECT src, dst, cos6 FROM fin
       |ORDER BY src, cos6 DESC, dst""".stripMargin
  }

  /** DuckDB equivalents, one per `queries` key (driver runs at sf0.01). */
  def oracleSql: Map[String, String] = oracleSqlHead ++ oracleSqlTail

  private lazy val oracleSqlHead: Map[String, String] = ListMap(
    "q01_tokenize" ->
      s"""WITH $rawtoksCte
         |SELECT doc_id, word FROM rawtoks ORDER BY doc_id, word""".stripMargin,
    "q02_postings" ->
      s"""WITH $postingsCte
         |SELECT word, df, array_to_string(postings, ' ') AS postings
         |FROM post ORDER BY df DESC, word""".stripMargin,
    "q03_index_format" ->
      s"""WITH $postingsCte
         |SELECT substr(word, 1, 1) AS letter, word, df,
         |       word || ':[' || array_to_string(postings, ' ') || ']' AS line
         |FROM post ORDER BY letter, df DESC, word""".stripMargin,
    "q04_df_topk_per_letter" ->
      s"""WITH $postingsCte
         |SELECT letter, word, df, rnk, drnk FROM (
         |  SELECT substr(word, 1, 1) AS letter, word, df,
         |         rank() OVER (PARTITION BY substr(word, 1, 1)
         |                      ORDER BY df DESC, word) AS rnk,
         |         dense_rank() OVER (PARTITION BY substr(word, 1, 1)
         |                            ORDER BY df DESC) AS drnk
         |  FROM post)
         |WHERE rnk <= 5 ORDER BY letter, rnk, word""".stripMargin,
    "q05_doc_set_and" ->
      s"""WITH $toksCte
         |SELECT doc_id FROM toks WHERE word = 'batch'
         |INTERSECT
         |SELECT doc_id FROM toks WHERE word = 'scan'
         |ORDER BY doc_id""".stripMargin,
    "q06_doc_set_except" ->
      s"""WITH $toksCte
         |SELECT doc_id FROM toks WHERE word = 'batch'
         |EXCEPT
         |SELECT doc_id FROM toks WHERE word = 'slow'
         |ORDER BY doc_id""".stripMargin,
    "q07_scan_filter_project" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q08_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_price,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q09_join_broadcast" ->
      """SELECT n_name, count(*) AS n_cust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q10_join_semi_anti" ->
      """SELECT 'with_orders' AS kind, count(*) AS n FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'without_orders' AS kind, count(*) AS n FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY kind""".stripMargin,
    "q11_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q12_rollup_agg" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q13_sort_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q14_distinct_count" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q15_set_union" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,
    "q16_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*), 2) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q17_date_trunc_agg" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q18_near_dup_jaccard" ->
      s"""WITH $toksCte,
         |sets AS (
         |  SELECT doc_id, list(word) AS ws, CAST(count(*) AS BIGINT) AS n
         |  FROM toks WHERE doc_id < 1000 GROUP BY doc_id)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         |           / (a.n + b.n - len(list_intersect(a.ws, b.ws))) AS jaccard
         |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.95 ORDER BY doc_a, doc_b""".stripMargin,
    "q19_cosine_topk" ->
      s"""WITH $embCte,
        |pairs AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 20)
        |SELECT vec_a, vec_b, round(cos, 2) AS cos_sim, rnk FROM (
        |  SELECT vec_a, vec_b, cos,
        |         row_number() OVER (PARTITION BY vec_a
        |                            ORDER BY round(cos, 6) DESC, vec_b) AS rnk
        |  FROM pairs)
        |WHERE rnk <= 3 ORDER BY vec_a, rnk, vec_b""".stripMargin,
    "q20_text_stats" ->
      s"""WITH $rawtoksCte
         |SELECT lang, count(DISTINCT doc_id) AS n_docs,
         |       count(DISTINCT word) AS n_words,
         |       round(CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id), 2) AS avg_tokens
         |FROM rawtoks GROUP BY lang ORDER BY lang""".stripMargin,
    "q21_dedup_exact" ->
      """SELECT doc_id, md5(text) AS hash,
        |       min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
        |       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_minhash_lsh" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |$setsCte
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |         ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |  FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id)
         |WHERE jaccard >= 0.95 ORDER BY doc_a, doc_b""".stripMargin,
    "q23_simhash" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |bits AS (SELECT doc_id, b, sum(((th >> b) & 1)*2 - 1) AS s
         |         FROM th CROSS JOIN generate_series(0, ${Hashing.SimHashBits - 1}) t(b)
         |         GROUP BY doc_id, b)
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q24_ngram_jaccard" ->
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), 3) AS gram FROM (
         |    SELECT doc_id, text, unnest(range(1, len(text) - 1)) AS p
         |    FROM documents WHERE doc_id < 200 AND len(text) >= 3)),
         |gsets AS (SELECT doc_id, list(gram) AS gs, CAST(count(*) AS BIGINT) AS n
         |          FROM grams GROUP BY doc_id)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         ${jaccardSql("len(list_intersect(a.gs, b.gs))", "a.n", "b.n")} AS jaccard
         |  FROM gsets a JOIN gsets b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.55 ORDER BY doc_a, doc_b""".stripMargin,
    "q25_embed_neardup" ->
      s"""WITH $embCte,
         |ec AS (SELECT * FROM e WHERE vec_id < 500)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
         |  FROM ec a JOIN ec b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,
    // SHARED with q204: the stored-artifact probe must reproduce the
    // in-query LSH ANN exactly (same bucket formula, same norm fold,
    // same scoring), so both gate against ONE oracle text — the hash
    // match doubles as the store round-trip proof.
    "q26_ann_lsh" -> lshAnnOracle,
    "q27_lang_id" ->
      s"""WITH $rawtoksCte,
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |               CAST(sum(CASE WHEN word IN ('the','a','of','and','in','to','is','it')
         |                             THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
         |        FROM rawtoks GROUP BY doc_id)
         |SELECT doc_id, n_tok, n_stop,
         |       CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
         |       CASE WHEN CAST(n_stop AS DOUBLE) / n_tok >= 0.08
         |            THEN 'en' ELSE 'und' END AS pred_lang
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q28_quality_score" ->
      s"""WITH $rawtoksCte,
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |               CAST(sum(CASE WHEN word IN ('the','a','of','and','in','to','is','it')
         |                             THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
         |               CAST(sum(len(word)) AS BIGINT) AS n_letters
         |        FROM rawtoks GROUP BY doc_id)
         |SELECT doc_id, n_tok,
         |       CAST(n_letters AS DOUBLE) / n_tok AS mean_wlen,
         |       CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
         |       CAST(n_tok BETWEEN 20 AND 80 AS BIGINT)
         |         + CAST(CAST(n_stop AS DOUBLE) / n_tok < 0.2 AS BIGINT)
         |         + CAST(CAST(n_letters AS DOUBLE) / n_tok BETWEEN 3.0 AND 8.0 AS BIGINT) AS score
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q29_token_count" ->
      s"""WITH $rawtoksCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ws_tokens,
         |       CAST(sum((len(word) + 3) // 4) AS BIGINT) AS n_bpe_est,
         |       CAST(sum(len(word)) AS BIGINT) AS n_letters
         |FROM rawtoks GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q30_fingerprint" ->
      s"""SELECT doc_id, ${polyHashSql("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_media_features" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_bytes,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |           (a, b) -> a + b) AS byte_sum
        |  FROM documents)
        |SELECT doc_id, n_bytes, byte_sum,
        |       16 + byte_sum % 64 AS fake_width,
        |       16 + byte_sum % 48 AS fake_height
        |FROM m ORDER BY doc_id""".stripMargin,
    "q32_cube_agg" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q33_lag_lead" ->
      """SELECT user_id, event_id, value,
        |       lag(value) OVER w AS prev_value,
        |       lead(value) OVER w AS next_value,
        |       value - coalesce(lag(value) OVER w, 0) AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q34_from_json" ->
      """SELECT event_type,
        |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |       count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q35_set_intersect_except" ->
      """SELECT 'both' AS kind, nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |UNION ALL
        |SELECT 'customer_only' AS kind, nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY kind, nationkey""".stripMargin,
    "q36_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |       CAST(month(o_orderdate) AS INT) AS mo,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,
    "q37_postings_typed" ->
      s"""WITH $postingsCte
         |SELECT word, df, array_to_string(postings, ' ') AS postings
         |FROM post ORDER BY df DESC, word""".stripMargin,
    "q38_salted_join" ->
      s"""WITH $postingsCte
         |SELECT r.word, CAST(count(*) AS BIGINT) AS n_tokens, max(post.df) AS df
         |FROM rawtoks r JOIN post ON r.word = post.word
         |GROUP BY r.word ORDER BY r.word""".stripMargin,
    "q40_median" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS median_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q41_tfidf" ->
      s"""WITH $rawtoksCte,
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |       FROM rawtoks GROUP BY doc_id, word),
         |dfd AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tf.word, tf, df,
         |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
         |  FROM tf JOIN dfd ON tf.word = dfd.word CROSS JOIN nd)
         |SELECT doc_id, rnk, word, tf, df, tfidf FROM (
         |  SELECT doc_id, word, tf, df, tfidf,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY tfidf DESC, word) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY doc_id, rnk, word""".stripMargin,
    "q42_theta_join" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q43_ivf_ann" ->
      s"""WITH $embCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e
         |          ORDER BY ${polyHashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 32),
         |ranked AS (
         |  SELECT e.vec_id, e.v, e.nrm, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY round(${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm), 6) DESC,
         |                    c.cent_id) AS crnk
         |  FROM e CROSS JOIN cents c),
         |pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, b.cell,
         |         ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
         |  FROM ranked a JOIN ranked b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20 AND a.crnk <= 2 AND b.crnk = 1)
         |SELECT vec_a, vec_b, cell, round(cos, 2) AS cos_sim, rnk FROM (
         |  SELECT vec_a, vec_b, cell, cos,
         |         row_number() OVER (PARTITION BY vec_a
         |                            ORDER BY round(cos, 6) DESC, vec_b) AS rnk
         |  FROM pairs)
         |WHERE rnk <= 3 ORDER BY vec_a, rnk, vec_b""".stripMargin,
    "q44_chunk_docs" ->
      """SELECT doc_id, CAST((p - 1) // 150 AS BIGINT) AS chunk_id,
        |       substr(text, CAST(p AS INT), 200) AS chunk,
        |       CAST(len(substr(text, CAST(p AS INT), 200)) AS BIGINT) AS chunk_len
        |FROM (SELECT doc_id, text, unnest(range(1, len(text) + 1, 150)) AS p
        |      FROM documents WHERE len(text) >= 1)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q45_sample_split" ->
      s"""SELECT doc_id, bucket,
         |       CASE WHEN bucket < 90 THEN 'train' ELSE 'val' END AS split
         |FROM (SELECT doc_id,
         |             ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q46_asof_join" ->
      """WITH t AS (
        |  SELECT event_id, user_id, ts, value, 1 AS side,
        |         NULL::BIGINT AS click_id, NULL::DOUBLE AS click_value
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT NULL, user_id, ts, NULL, 0, event_id, value
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT event_id, user_id, value, side,
        |         last_value(click_id IGNORE NULLS) OVER win AS asof_event_id,
        |         last_value(click_value IGNORE NULLS) OVER win AS asof_value
        |  FROM t
        |  WINDOW win AS (PARTITION BY user_id
        |                 ORDER BY ts, side, click_id DESC NULLS LAST
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, value, asof_event_id, asof_value
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,
    "q47_pivot_agg" ->
      """SELECT o_orderstatus AS status,
        |       CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS p1,
        |       CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS p2,
        |       CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3,
        |       CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4,
        |       CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,
    "q48_unpivot" ->
      """WITH p AS (
        |  SELECT o_orderstatus AS status,
        |         CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS p1,
        |         CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS p2,
        |         CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3,
        |         CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4,
        |         CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS p5
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT status, priority_slot, n_orders FROM (
        |  SELECT status, 'p1' AS priority_slot, p1 AS n_orders FROM p
        |  UNION ALL SELECT status, 'p2', p2 FROM p
        |  UNION ALL SELECT status, 'p3', p3 FROM p
        |  UNION ALL SELECT status, 'p4', p4 FROM p
        |  UNION ALL SELECT status, 'p5', p5 FROM p)
        |ORDER BY status, priority_slot""".stripMargin,
    "q49_dedup_clusters" ->
      s"""WITH RECURSIVE $toksCte,
         |sets AS (
         |  SELECT doc_id, list(word) AS ws, CAST(count(*) AS BIGINT) AS n
         |  FROM toks WHERE doc_id < 1000 GROUP BY doc_id),
         |edges AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |           ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |    FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.95),
         |sym AS (SELECT doc_a AS u, doc_b AS v FROM edges
         |        UNION ALL SELECT doc_b, doc_a FROM edges),
         |reach(u, v) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 1000
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)
         |SELECT u AS doc_id, min(v) AS cluster_id,
         |       (u = min(v)) AS is_canonical
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    "q50_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, substr(text, CAST(p AS INT), 4) AS gram
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 2)) AS p
        |        FROM documents WHERE len(text) >= 4)),
        |pc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
        |       FROM g GROUP BY doc_id, gram)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_grams,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST(1 AS DOUBLE) - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_ratio,
        |       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_share
        |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q51_quantiles" ->
      """SELECT event_type,
        |       quantile_cont(value, 0.25) AS p25,
        |       quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.75) AS p75,
        |       quantile_cont(value, 0.95) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q52_corr" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         sum(CAST(l_quantity AS DECIMAL(20,2))) AS sx,
        |         sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS sy,
        |         sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS sxy,
        |         sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS sx2,
        |         sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS sy2
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       round(
        |         (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |         (sqrt(CAST(sx2 AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |          sqrt(CAST(sy2 AS DOUBLE) * n - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        |         6) AS corr_qty_price
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q53_regex" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z]+er')) AS BIGINT) AS n_matches,
        |       CASE WHEN len(regexp_extract_all(text, '[a-z]+er')) > 0
        |            THEN regexp_extract_all(text, '[a-z]+er')[1] ELSE '' END AS first_match
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q54_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |              WHEN ts - lag(ts) OVER w > INTERVAL '5 minutes' THEN 1
        |              ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM t),
        |per AS (SELECT user_id, sess_id, CAST(count(*) AS BIGINT) AS n_events
        |        FROM s GROUP BY user_id, sess_id)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |       max(n_events) AS max_session_events,
        |       CAST(sum(n_events) AS BIGINT) AS n_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q55_stringagg" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |       string_agg(c_name, ',' ORDER BY c_name) AS names
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q56_rank_ladder" ->
      """SELECT event_type, event_id, value,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cume
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin,
    "q57_scalar_subquery" ->
      """SELECT event_type, count(*) AS n_above
        |FROM events
        |WHERE value > (SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |               FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q49's oracle closure, but the edge set is q22's LSH candidate
    // chain over the FULL corpus — the linear-scale decision path.
    // SHARED with q202: the incremental merge must equal this
    // from-scratch closure (merge ≡ rebuild), so the two queries gate
    // against the IDENTICAL oracle text.
    "q58_dedup_clusters_scale" -> fullClusterOracle,
    "q59_dedup_keep" ->
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(min(len(text)) AS BIGINT) AS n_bytes
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "q60_contamination" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), 12) AS gram
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 10)) AS p
        |        FROM documents WHERE len(text) >= 12)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(count(ev.gram) AS BIGINT) AS n_hit,
        |       CAST(count(ev.gram) AS DOUBLE) / count(*) AS contamination
        |FROM g LEFT JOIN ev ON g.gram = ev.gram
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q61_stratified_sample" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 = 0
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |       CAST(sum(CASE WHEN ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 = 0
         |                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rate
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q62_bigram_lm" ->
      s"""WITH $ordtoksCte,
        |p AS (SELECT ws[i] AS w1, ws[i+1] AS w2
        |      FROM (SELECT ws, unnest(range(1, len(ws))) AS i
        |            FROM ordtoks WHERE len(ws) >= 2)),
        |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY w1, w2),
        |wm AS (SELECT w1, w2, c,
        |              CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS c_w1 FROM c)
        |SELECT w1, w2, c, c_w1, CAST(c AS DOUBLE) / c_w1 AS cond_p
        |FROM wm ORDER BY c DESC, w1, w2 LIMIT 50""".stripMargin,
    "q63_time_buckets" ->
      """SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H') AS bucket,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    "q64_argmax" ->
      """SELECT event_type, event_id AS top_event_id, value AS top_value FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id DESC) AS r
        |  FROM events) WHERE r = 1 ORDER BY event_type""".stripMargin,
    "q65_dim_stats" ->
      """WITH x AS (
        |  SELECT z[2] AS pos, CAST(z[1] AS DOUBLE) AS x FROM (
        |    SELECT unnest(list_zip(embedding, range(1, len(embedding)+1))) AS z
        |    FROM embeddings))
        |SELECT pos, CAST(count(*) AS BIGINT) AS n, min(x) AS min_x, max(x) AS max_x,
        |       CAST(sum(CAST(floor(x*1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6 AS mean_q
        |FROM x GROUP BY pos ORDER BY pos""".stripMargin,
    "q66_redact" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z]+er')) AS BIGINT) AS n_red,
        |       CAST(len(regexp_replace(text, '[a-z]+er', '<TOK>', 'g')) AS BIGINT) AS red_len,
        |       substr(regexp_replace(text, '[a-z]+er', '<TOK>', 'g'), 1, 40) AS red_prefix
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q67_set_all" ->
      """WITH i AS (SELECT c_nationkey AS nationkey FROM customer
        |           INTERSECT ALL SELECT s_nationkey FROM supplier),
        |x AS (SELECT c_nationkey AS nationkey FROM customer
        |      EXCEPT ALL SELECT s_nationkey FROM supplier)
        |SELECT kind, nationkey, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT 'intersect_all' AS kind, nationkey FROM i
        |  UNION ALL SELECT 'except_all' AS kind, nationkey FROM x)
        |GROUP BY kind, nationkey ORDER BY kind, nationkey""".stripMargin,
    "q68_pack_sequences" ->
      s"""WITH $rawtoksCte,
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
         |        FROM rawtoks GROUP BY doc_id),
         |sh AS (SELECT doc_id, n_tok,
         |              ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |       FROM cnt),
         |c AS (SELECT doc_id, shard, n_tok,
         |             CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM sh)
         |SELECT doc_id, shard, n_tok, (cum - n_tok) // 512 AS pack_id
         |FROM c ORDER BY doc_id""".stripMargin,
    "q69_filter_pipeline" ->
      s"""WITH $rawtoksCte,
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |               CAST(sum(CASE WHEN word IN ('the','a','of','and','in','to','is','it')
         |                             THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
         |               CAST(sum(len(word)) AS BIGINT) AS n_letters
         |        FROM rawtoks GROUP BY doc_id),
         |lq AS (SELECT doc_id,
         |              CASE WHEN CAST(n_stop AS DOUBLE) / n_tok >= 0.08
         |                   THEN 'en' ELSE 'und' END AS pred_lang,
         |              CAST(n_tok BETWEEN 20 AND 80 AS BIGINT)
         |                + CAST(CAST(n_stop AS DOUBLE) / n_tok < 0.2 AS BIGINT)
         |                + CAST(CAST(n_letters AS DOUBLE) / n_tok BETWEEN 3.0 AND 8.0 AS BIGINT) AS score
         |       FROM agg),
         |g AS (SELECT doc_id, substr(text, CAST(p AS INT), 4) AS gram
         |      FROM (SELECT doc_id, text, unnest(range(1, len(text) - 2)) AS p
         |            FROM documents WHERE len(text) >= 4)),
         |pc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
         |       FROM g GROUP BY doc_id, gram),
         |rep AS (SELECT doc_id,
         |               CAST(1 AS DOUBLE) - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_ratio
         |        FROM pc GROUP BY doc_id)
         |SELECT lq.doc_id, pred_lang, score,
         |       coalesce(rep.dup_ratio, 0.0) AS dup_ratio,
         |       (pred_lang = 'en' AND score >= 2
         |          AND coalesce(rep.dup_ratio, 0.0) < 0.5) AS keep,
         |       CASE WHEN pred_lang <> 'en' THEN 'lang'
         |            WHEN score < 2 THEN 'quality'
         |            WHEN coalesce(rep.dup_ratio, 0.0) >= 0.5 THEN 'repetition'
         |            ELSE 'keep' END AS reason
         |FROM lq LEFT JOIN rep ON lq.doc_id = rep.doc_id
         |ORDER BY lq.doc_id""".stripMargin,
    "q70_trailing_window" ->
      """SELECT user_id, event_id, value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY ts
        |         RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail_sum
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q71_simhash_match" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks WHERE doc_id < 1000),
         |bits AS (SELECT doc_id, b, sum(((th >> b) & 1)*2 - 1) AS s
         |         FROM th CROSS JOIN generate_series(0, ${Hashing.SimHashBits - 1}) t(b)
         |         GROUP BY doc_id, b),
         |sh AS (SELECT doc_id,
         |              CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |       FROM bits GROUP BY doc_id)
         |SELECT doc_a, doc_b, dist FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE dist <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "q72_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin,
    "q73_exists_subquery" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q74_window_nav" ->
      """SELECT event_type, event_id, value,
        |       first_value(value) OVER w AS first_v,
        |       last_value(value) OVER w AS last_v,
        |       nth_value(value, 2) OVER w AS second_v
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_type, event_id""".stripMargin,
    "q75_tpch_q3" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1, 2 ORDER BY revenue DESC, order_date, l_orderkey LIMIT 10""".stripMargin,
    "q76_correlated_scalar" ->
      """SELECT e.event_type, count(*) AS n_above_user_mean
        |FROM events e
        |WHERE e.value > (SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                 FROM events e2 WHERE e2.user_id = e.user_id)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q77_promo_revenue" ->
      """SELECT p_brand, count(*) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q78_pack_assembly" ->
      s"""WITH $rawtoksCte,
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
         |        FROM rawtoks GROUP BY doc_id),
         |sh AS (SELECT doc_id, n_tok,
         |              ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |       FROM cnt),
         |c AS (SELECT doc_id, shard, n_tok,
         |             CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM sh),
         |p AS (SELECT doc_id, shard, n_tok, (cum - n_tok) // 512 AS pack_id FROM c),
         |j AS (SELECT p.doc_id, shard, n_tok, pack_id, d.text
         |      FROM p JOIN documents d ON p.doc_id = d.doc_id)
         |SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(len(string_agg(text, chr(10) ORDER BY doc_id)) AS BIGINT) AS pack_len,
         |       md5(string_agg(text, chr(10) ORDER BY doc_id)) AS pack_md5
         |FROM j GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin,
    "q79_vocab_freq" ->
      s"""WITH $rawtoksCte,
         |counts AS (SELECT word, CAST(count(*) AS BIGINT) AS c
         |           FROM rawtoks GROUP BY word),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM counts),
         |top AS (SELECT word, c FROM counts ORDER BY c DESC, word LIMIT 20)
         |SELECT CAST(row_number() OVER w AS BIGINT) AS rnk, word, c,
         |       CAST(sum(c) OVER w AS DOUBLE) / total AS cum_share
         |FROM top CROSS JOIN tot
         |WINDOW w AS (ORDER BY c DESC, word
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY rnk""".stripMargin,
    "q80_length_histogram" ->
      s"""WITH $rawtoksCte,
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
         |      FROM rawtoks GROUP BY doc_id)
         |SELECT (n_tok // 10) * 10 AS bucket_lo, CAST(count(*) AS BIGINT) AS n_docs
         |FROM n GROUP BY 1 ORDER BY bucket_lo""".stripMargin,
    "q81_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS ck, CAST(count(*) AS BIGINT) AS n_cust
        |           FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey AS sk, CAST(count(*) AS BIGINT) AS n_supp
        |      FROM supplier GROUP BY 1)
        |SELECT coalesce(ck, sk) AS nationkey,
        |       coalesce(n_cust, 0) AS n_cust,
        |       coalesce(n_supp, 0) AS n_supp,
        |       CASE WHEN ck IS NULL THEN 'supplier_only'
        |            WHEN sk IS NULL THEN 'customer_only'
        |            ELSE 'both' END AS kind
        |FROM c FULL JOIN s ON ck = sk ORDER BY nationkey""".stripMargin,
    "q82_span_dedup" ->
      s"""WITH $ordtoksCte,
        |pos AS (
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i
        |  FROM ordtoks WHERE len(ws) >= 8),
        |s AS (
        |  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS span FROM pos),
        |sd AS (
        |  SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS span_docs
        |  FROM s GROUP BY span)
        |SELECT s.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN span_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       CAST(sum(CASE WHEN span_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS dup_frac
        |FROM s JOIN sd USING (span)
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,
    "q83_length_band" ->
      s"""WITH $rawtoksCte,
         |counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
         |           FROM rawtoks GROUP BY doc_id),
         |band AS (SELECT quantile_cont(n_tok, 0.1) AS p_lo,
         |                quantile_cont(n_tok, 0.9) AS p_hi FROM counts)
         |SELECT doc_id, n_tok, p_lo, p_hi
         |FROM counts CROSS JOIN band
         |WHERE n_tok >= p_lo AND n_tok <= p_hi
         |ORDER BY doc_id""".stripMargin,
    "q84_pmi_pairs" ->
      s"""WITH $toksCte,
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |      FROM documents),
         |wdf AS (SELECT doc_id, word,
         |               CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS df
         |        FROM toks),
         |band AS (SELECT doc_id, word, df, n_docs
         |         FROM wdf CROSS JOIN n
         |         WHERE df >= n_docs * 0.01 AND df <= n_docs * 1.0),
         |pairs AS (
         |  SELECT a.word AS wa, b.word AS wb, a.df AS df_a, b.df AS df_b,
         |         a.n_docs, CAST(count(*) AS BIGINT) AS c_ab
         |  FROM band a JOIN band b
         |    ON a.doc_id = b.doc_id AND a.word < b.word
         |  GROUP BY 1, 2, 3, 4, 5
         |  HAVING count(*) >= 5),
         |scored AS (
         |  SELECT wa, wb, c_ab, df_a, df_b,
         |         CAST(c_ab * n_docs AS DOUBLE) / (df_a * df_b) AS ratio
         |  FROM pairs),
         |top AS (SELECT * FROM scored
         |        ORDER BY ratio DESC, wa, wb LIMIT 50)
         |SELECT wa, wb, c_ab, df_a, df_b, round(ln(ratio), 6) AS pmi
         |FROM top ORDER BY pmi DESC, wa, wb""".stripMargin,
    "q85_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text, CAST(len(text) // 64 AS BIGINT) AS n_frames
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, n_frames, text,
        |         unnest(generate_series(0, n_frames - 1)) AS fi
        |  FROM f WHERE n_frames > 0),
        |samp AS (
        |  SELECT doc_id, n_frames,
        |         substring(text, CAST(fi * 64 + 1 AS BIGINT), 64) AS frame
        |  FROM fr WHERE fi % 4 = 0)
        |SELECT doc_id, n_frames, CAST(count(*) AS BIGINT) AS n_sampled,
        |       CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(frame, ''),
        |           c -> CAST(ascii(c) AS BIGINT))),
        |         (a, b) -> a + b)) AS BIGINT) AS sampled_byte_sum
        |FROM samp GROUP BY doc_id, n_frames ORDER BY doc_id""".stripMargin,
    "q86_session_funnel" ->
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |              WHEN ts - lag(ts) OVER w > INTERVAL '5 minutes' THEN 1
        |              ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_type, ts,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM t),
        |g AS (
        |  SELECT user_id, sess_id,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
        |         max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(CASE WHEN first_click IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_click_sessions,
        |       CAST(sum(CASE WHEN first_click IS NOT NULL
        |                      AND last_purchase IS NOT NULL
        |                      AND first_click < last_purchase
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q87_quantize_embed" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |         list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
        |           (a, b) -> greatest(a, b)) AS maxabs
        |  FROM v),
        |q AS (
        |  SELECT vec_id, maxabs,
        |         list_transform(v, x -> CASE WHEN maxabs > 0.0
        |           THEN CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT)
        |           ELSE CAST(0 AS BIGINT) END) AS q
        |  FROM m)
        |SELECT vec_id, maxabs,
        |       list_aggregate(q, 'min') AS min_q,
        |       list_aggregate(q, 'max') AS max_q,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT), q), (a, b) -> a + b) AS sum_q,
        |       CAST(len(list_filter(q, x -> x <> 0)) AS BIGINT) AS nnz
        |FROM q ORDER BY vec_id""".stripMargin,
    "q88_lm_score" ->
      s"""WITH $ordtoksCte,
        |p AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        |            FROM ordtoks WHERE len(ws) >= 2)),
        |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM p GROUP BY w1, w2),
        |wm AS (SELECT w1, w2, c12,
        |              CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1 FROM c),
        |j AS (SELECT doc_id,
        |             CAST(floor(ln(CAST(c12 AS DOUBLE) / c1) * 1e6) AS BIGINT) AS lp_q
        |      FROM p JOIN wm USING (w1, w2))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(lp_q) AS BIGINT) AS sum_lp_q,
        |       CAST(sum(lp_q) AS DOUBLE) / 1e6 / count(*) AS avg_logprob
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // band aggregates GENERATED from Hashing.NumBands (not hardcoded)
    // so a banding-constants change keeps the oracle in lockstep; sig
    // is the space-joined minima string (driver comparator contract —
    // it cannot hash array cells)
    "q89_minhash_signatures" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |s1 AS (SELECT doc_id, i, CAST(min((a*th + b) % ${Hashing.P}) AS BIGINT) AS minh
         |       FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words
         |      FROM toks GROUP BY doc_id),
         |g AS (SELECT doc_id,
         |             string_agg(minh::VARCHAR, ' ' ORDER BY i) AS sig,
         |${(0 until Hashing.NumBands).map(b =>
             s"             string_agg(minh::VARCHAR, '_' ORDER BY i)" +
             s" FILTER (WHERE i // ${Hashing.RowsPerBand} = $b) AS band$b")
             .mkString(",\n")}
         |      FROM s1 GROUP BY doc_id)
         |SELECT g.doc_id, n.n_words, g.sig,
         |${(0 until Hashing.NumBands).map(b => s"       g.band$b").mkString(",\n")}
         |FROM g JOIN n USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q22's CTE chain split at the cap: new side (doc_id >= 250) probes
    // the stored side (doc_id < 250) — candidates strictly cross-boundary
    "q90_incremental_neardup" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key
         |          AND a.doc_id >= 250 AND b.doc_id < 250),
         |$setsCte
         |SELECT doc_new, doc_old, jaccard FROM (
         |  SELECT doc_new, doc_old,
         |         ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |  FROM cand JOIN sets a ON doc_new = a.doc_id JOIN sets b ON doc_old = b.doc_id)
         |WHERE jaccard >= 0.95 ORDER BY doc_new, doc_old""".stripMargin,
    // q71's chain minus the cap, with the all-pairs theta join replaced
    // by the pigeonhole block equi-join (4 blocks of 4 bits for dist<=3)
    "q91_simhash_match_scale" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |bits AS (SELECT doc_id, b, sum(((th >> b) & 1)*2 - 1) AS s
         |         FROM th CROSS JOIN generate_series(0, ${Hashing.SimHashBits - 1}) t(b)
         |         GROUP BY doc_id, b),
         |sh AS (SELECT doc_id,
         |              CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |       FROM bits GROUP BY doc_id),
         |blk AS (SELECT doc_id, simhash, bi,
         |               (simhash >> (bi * ${Hashing.SimHashBits / 4})) & ${(1 << (Hashing.SimHashBits / 4)) - 1} AS bv
         |        FROM sh CROSS JOIN generate_series(0, 3) t(bi)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sh_a,
         |                b.doc_id AS doc_b, b.simhash AS sh_b
         |         FROM blk a JOIN blk b
         |           ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, dist FROM (
         |  SELECT doc_a, doc_b,
         |         CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS dist
         |  FROM cand)
         |WHERE dist <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    // 2 unrolled Lloyd rounds; centroid means via floor-quantized
    // integer sums (order-independent — the q65 mean_q rule); ranking
    // by round(cos,6) with cent_id tiebreak (the q43 rule); output
    // double-rounds round(round(cos,6),2) to mirror the Spark side
    "q92_kmeans_ivf" ->
      s"""WITH $embCte,
         |$lloydCentsCtes
         |SELECT vec_id, cell, round(c6, 2) AS cos_sim FROM (
         |  SELECT e.vec_id, c.cent_id AS cell,
         |         round(${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm), 6) AS c6,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY round(${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm), 6) DESC,
         |                    c.cent_id) AS r
         |  FROM e CROSS JOIN cents2 c) WHERE r = 1
         |ORDER BY vec_id""".stripMargin,
    // SemDeDup: seed-codebook assignment, within-cell cosine edges,
    // recursive closure (the q49/q58 reach pattern over vec ids)
    "q93_semantic_dedup" ->
      s"""WITH RECURSIVE $embCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e
         |          ORDER BY ${polyHashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 32),
         |a1 AS (SELECT vec_id, v, nrm, cell FROM (
         |        SELECT e.vec_id, e.v, e.nrm, c.cent_id AS cell,
         |               row_number() OVER (PARTITION BY e.vec_id
         |                 ORDER BY round(${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm), 6) DESC,
         |                          c.cent_id) AS r
         |        FROM e CROSS JOIN cents c) WHERE r = 1),
         |edges AS (SELECT a.vec_id AS ea, b.vec_id AS eb
         |          FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |          WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4),
         |sym AS (SELECT ea AS u, eb AS w FROM edges
         |        UNION ALL SELECT eb, ea FROM edges),
         |reach(u, w) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT r.u, s.w FROM reach r JOIN sym s ON r.w = s.u),
         |lab AS (SELECT u AS vec_id, min(w) AS cluster_id FROM reach GROUP BY u)
         |SELECT l.vec_id, a1.cell, l.cluster_id,
         |       (l.vec_id = l.cluster_id) AS is_canonical
         |FROM lab l JOIN a1 ON l.vec_id = a1.vec_id ORDER BY l.vec_id""".stripMargin,
    // q91's block chain with the self-join replaced by the cap-split
    // probe (new >= 250 vs stored < 250) — the q90 shape for SimHash
    "q94_incremental_simhash" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |bits AS (SELECT doc_id, b, sum(((th >> b) & 1)*2 - 1) AS s
         |         FROM th CROSS JOIN generate_series(0, ${Hashing.SimHashBits - 1}) t(b)
         |         GROUP BY doc_id, b),
         |sh AS (SELECT doc_id,
         |              CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |       FROM bits GROUP BY doc_id),
         |blk AS (SELECT doc_id, simhash, bi,
         |               (simhash >> (bi * ${Hashing.SimHashBits / 4})) & ${(1 << (Hashing.SimHashBits / 4)) - 1} AS bv
         |        FROM sh CROSS JOIN generate_series(0, 3) t(bi)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_new, a.simhash AS sh_a,
         |                b.doc_id AS doc_old, b.simhash AS sh_b
         |         FROM blk a JOIN blk b
         |           ON a.bi = b.bi AND a.bv = b.bv
         |          AND a.doc_id >= 250 AND b.doc_id < 250)
         |SELECT doc_new, doc_old, dist FROM (
         |  SELECT doc_new, doc_old,
         |         CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS dist
         |  FROM cand)
         |WHERE dist <= 3 ORDER BY doc_new, doc_old""".stripMargin,
    // positional posting lists for the fixed term set; positions as the
    // space-joined ascending offset string (driver scalar-column rule)
    "q95_positional_index" ->
      s"""WITH $postoksCte
         |SELECT word, doc_id, CAST(count(*) AS BIGINT) AS n_pos,
         |       array_to_string(list_transform(list_sort(list(pos)),
         |                                      x -> CAST(x AS VARCHAR)), ' ') AS positions
         |FROM postoks WHERE word IN ('spark', 'join', 'batch')
         |GROUP BY word, doc_id ORDER BY word, doc_id""".stripMargin,
    // join form over the positional CTE (the stored-index formulation);
    // Spark runs the single-pass lead-window form — the hash match pins
    // the two formulations equal
    "q96_phrase_search" ->
      s"""WITH $postoksCte
         |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
         |FROM postoks a
         |JOIN postoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |JOIN postoks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
         |WHERE a.word = 'small' AND b.word = 'query' AND c.word = 'line'
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    // naive theta form (abs(Δpos) <= k); Spark runs the position-block
    // equi-join — the hash match pins blocked ≡ naive
    "q97_proximity_search" ->
      s"""WITH $postoksCte
         |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_dist
         |FROM postoks a JOIN postoks b ON a.doc_id = b.doc_id
         |WHERE a.word = 'spark' AND b.word = 'join' AND abs(a.pos - b.pos) <= 3
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    // full-corpus rebuild (q02's oracle verbatim) — Spark instead
    // merges the cap-split halves; the hash match proves the merged
    // index is byte-equal to a from-scratch rebuild
    "q98_index_merge" ->
      s"""WITH $postingsCte
         |SELECT word, df, array_to_string(postings, ' ') AS postings
         |FROM post ORDER BY df DESC, word""".stripMargin,
    // BM25: every float subexpression states the Spark plan's exact
    // association shape; each term's score floor-quantizes to integer
    // millionths BEFORE the per-doc sum (q88 rule), so the sum is
    // order-independent in both engines
    "q99_bm25" ->
      s"""WITH $bm25ScoreCtes
         |SELECT doc_id, score_q FROM bmscore
         |ORDER BY score_q DESC, doc_id LIMIT 20""".stripMargin,
    "q100_tpch_q5" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    // the plain per-source windowed cumsum — Spark runs the distributed
    // prefix-sum; the hash match proves the two equal. ROWS frame
    // explicit (Spark's default RANGE frame equals ROWS here because
    // the (hash, doc_id) order is unique per source)
    "q101_mix_budget" ->
      s"""SELECT doc_id, source, n_chars, cum FROM (
         |  SELECT doc_id, source, n_chars,
         |         CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM (SELECT doc_id, source, n_chars,
         |               ${polyHashSql("CAST(doc_id AS VARCHAR)")} AS h
         |        FROM documents))
         |WHERE cum <= 4000 ORDER BY source, cum, doc_id""".stripMargin,
    // q43's probe/topk chain over the SHARED trained codebook (cents2)
    "q102_trained_ann" ->
      s"""WITH $embCte,
         |$lloydCentsCtes,
         |ranked AS (
         |  SELECT e.vec_id, e.v, e.nrm, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY round(${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm), 6) DESC,
         |                    c.cent_id) AS crnk
         |  FROM e CROSS JOIN cents2 c),
         |pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, b.cell,
         |         ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
         |  FROM ranked a JOIN ranked b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20 AND a.crnk <= 2 AND b.crnk = 1)
         |SELECT vec_a, vec_b, cell, round(cos, 2) AS cos_sim, rnk FROM (
         |  SELECT vec_a, vec_b, cell, cos,
         |         row_number() OVER (PARTITION BY vec_a
         |                            ORDER BY round(cos, 6) DESC, vec_b) AS rnk
         |  FROM pairs)
         |WHERE rnk <= 3 ORDER BY vec_a, rnk, vec_b""".stripMargin,
    // RRF over the shared bm25 scorer + a cosine list; rrf computed in
    // an INNER select from the raw (nullable) ranks — DuckDB's lateral
    // column aliases would otherwise resolve the outer coalesced -1
    // into the fusion term
    "q103_hybrid_rrf" ->
      s"""WITH $bm25ScoreCtes,
         |$embCte,
         |bmtop AS (SELECT doc_id, score_q FROM bmscore
         |          ORDER BY score_q DESC, doc_id LIMIT 100),
         |bmr AS (SELECT doc_id,
         |               CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank_text
         |        FROM bmtop),
         |qv AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 0),
         |cosl AS (SELECT vec_id, round(${dotSql("v", "qv")} / (nrm * qn), 6) AS cos6
         |         FROM e CROSS JOIN qv ORDER BY cos6 DESC, vec_id LIMIT 100),
         |vr AS (SELECT vec_id AS doc_id,
         |              CAST(row_number() OVER (ORDER BY cos6 DESC, vec_id) AS BIGINT) AS rank_vec
         |       FROM cosl)
         |SELECT doc_id, coalesce(rank_text, CAST(-1 AS BIGINT)) AS rank_text,
         |       coalesce(rank_vec, CAST(-1 AS BIGINT)) AS rank_vec, rrf
         |FROM (SELECT doc_id, rank_text, rank_vec,
         |             coalesce(1.0 / (rank_text + 60), 0.0)
         |               + coalesce(1.0 / (rank_vec + 60), 0.0) AS rrf
         |      FROM bmr FULL JOIN vr USING (doc_id))
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    // Unicode tokenizer mirror: RE2's \p{L} class matches Java's; the
    // n_diverge CASE re-reads each raw token through the ASCII chain
    "q104_unicode_tokens" ->
      """SELECT lang,
        |       count(*) AS n_tokens,
        |       count(DISTINCT word) AS n_words,
        |       CAST(sum(length(word)) AS BIGINT) AS n_letters,
        |       CAST(sum(CASE WHEN lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) <> word
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_diverge
        |FROM (SELECT lang, tok, lower(regexp_replace(tok, '[^\p{L}]', '', 'g')) AS word
        |      FROM (SELECT lang, unnest(string_split_regex(text, '\s+')) AS tok FROM documents))
        |WHERE word <> ''
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // rebuild-from-scratch statement of the q105 merge (q95's oracle
    // text verbatim) — hash match ⟹ merge ≡ rebuild
    "q105_positional_merge" ->
      s"""WITH $postoksCte
         |SELECT word, doc_id, CAST(count(*) AS BIGINT) AS n_pos,
         |       array_to_string(list_transform(list_sort(list(pos)),
         |                                      x -> CAST(x AS VARCHAR)), ' ') AS positions
         |FROM postoks WHERE word IN ('spark', 'join', 'batch')
         |GROUP BY word, doc_id ORDER BY word, doc_id""".stripMargin,
    // PQ mirror: the lloydCentsCtes recipe keyed by the subspace m —
    // same hash-ordered seed (slices of one ksub=16 draw), same
    // quantized-integer centroid means, argmin by the identical
    // d² = <s,s> - 2<s,c> + <c,c> expression over the shared dot fold
    "q106_pq_ann" -> pqAnnSql,
    // IVF-PQ mirror: q43's cell CTEs + the SHARED recon chain
    "q107_ivfpq_ann" -> ivfPqAnnSql,
    // HAVING expressed as a filtered-aggregate CTE; quantities cast to
    // BIGINT before the sum (exact, order-independent)
    "q108_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
        |SELECT c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       o_totalprice AS total_price, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_price DESC, o_orderkey LIMIT 20""".stripMargin,
    // same quantized-pow / integer-normalizer / 6-dp-rate chain; the
    // per-doc gate compares the shared polyHash against rate·P
    "q109_temperature_mix" ->
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_bytes,
         |         CAST(floor(pow(CAST(sum(n_chars) AS DOUBLE), 0.5) * 1e6) AS BIGINT) AS pq
         |  FROM documents GROUP BY source),
         |z AS (SELECT CAST(sum(pq) AS BIGINT) AS zq FROM c),
         |r AS (SELECT source, n_docs, n_bytes,
         |             round(least(1.0, 300.0 * pq / zq / n_docs), 6) AS rate
         |      FROM c CROSS JOIN z)
         |SELECT r.source, r.n_docs, r.n_bytes, r.rate,
         |       CAST(sum(CASE WHEN ${polyHashSql("CAST(d.doc_id AS VARCHAR)")}
         |                          < r.rate * ${Hashing.P} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d JOIN r ON d.source = r.source
         |GROUP BY r.source, r.n_docs, r.n_bytes, r.rate
         |ORDER BY r.source""".stripMargin,
    "q110_tpch_q21" ->
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q111_pagerank" -> pageRankSql,
    "q112_triangles" -> trianglesSql,
    "q113_tpch_q17" ->
      """WITH s AS (
        |  SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qsum,
        |         CAST(count(*) AS BIGINT) AS qn
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem l
        |JOIN s ON l.l_partkey = s.l_partkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE CAST(l.l_quantity AS BIGINT) * 5 * qn < qsum
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q114_tpch_q22" ->
      """WITH pos AS (
        |  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sumc,
        |         CAST(count(*) AS BIGINT) AS nc
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_c
        |FROM customer c CROSS JOIN pos
        |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * nc > sumc
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q115_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q116_sorted_neighbor" ->
      s"""WITH $toksCte,
         |keyed AS (
         |  SELECT doc_id, source,
         |         substr(lower(regexp_replace(text, '[^A-Za-z]', '', 'g')), 1, 24) AS sk
         |  FROM documents),
         |rn AS (SELECT doc_id, source,
         |              row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS rn
         |       FROM keyed),
         |pairs AS (
         |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         |         greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM rn a JOIN rn b ON a.source = b.source
         |                     AND b.rn > a.rn AND b.rn <= a.rn + 3),
         |$setsCte
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT p.doc_a, p.doc_b,
         |         ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |  FROM pairs p
         |  JOIN sets a ON a.doc_id = p.doc_a
         |  JOIN sets b ON b.doc_id = p.doc_b)
         |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "q117_zscore_anomaly" ->
      """WITH b AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |s AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(vc) AS BIGINT) AS sumc,
        |         CAST(sum(vc * vc) AS BIGINT) AS sumc2
        |  FROM b GROUP BY user_id, event_type)
        |SELECT event_id, b.user_id, b.event_type, n,
        |       round((n * vc - sumc) / sqrt(CAST(n * sumc2 - sumc * sumc AS DOUBLE)), 6) AS zscore
        |FROM b JOIN s ON b.user_id = s.user_id AND b.event_type = s.event_type
        |WHERE n >= 2 AND (n * sumc2 - sumc * sumc) > 0
        |  AND (n * vc - sumc) * (n * vc - sumc) > 4 * (n * sumc2 - sumc * sumc)
        |ORDER BY event_id""".stripMargin,
    "q118_cms_heavy_hitters" -> {
      val params = (0 until operators.Sketches.CmsDepth)
        .map(j => s"($j, ${Hashing.permA(j)}, ${Hashing.permB(j)})")
        .mkString(", ")
      val w = operators.Sketches.CmsWidth
      s"""WITH $rawtoksCte,
         |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS df
         |       FROM rawtoks GROUP BY word),
         |hc AS (SELECT word, df, ${polyHashSql("word")} AS h FROM wc),
         |params(j, a, b) AS (VALUES $params),
         |cells AS (
         |  SELECT p.j, ((c.h * p.a + p.b) % ${Hashing.P}) % $w AS bucket,
         |         CAST(sum(c.df) AS BIGINT) AS cellsum
         |  FROM hc c CROSS JOIN params p GROUP BY p.j, bucket),
         |topk AS (SELECT word, df, h FROM hc ORDER BY df DESC, word LIMIT 30)
         |SELECT t.word, t.df, CAST(min(cl.cellsum) AS BIGINT) AS est
         |FROM topk t CROSS JOIN params p
         |JOIN cells cl ON cl.j = p.j
         |             AND cl.bucket = ((t.h * p.a + p.b) % ${Hashing.P}) % $w
         |GROUP BY t.word, t.df
         |ORDER BY t.df DESC, t.word""".stripMargin
    },
    "q119_retention" ->
      """WITH ev AS (
        |  SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id)
        |SELECT cohort, day,
        |       CAST(CAST(day AS DATE) - CAST(cohort AS DATE) AS BIGINT) AS days_since,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM ev e JOIN f ON e.user_id = f.user_id
        |GROUP BY cohort, day ORDER BY cohort, day""".stripMargin,
    "q120_agg_merge" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_c,
        |       min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_c,
        |       max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_c
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q121_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INT) AS l_year,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q122_bloom_join" -> {
      val params = (0 until operators.Sketches.BloomK)
        .map { j =>
          val i = operators.Sketches.BloomPermBase + j
          s"($j, ${Hashing.permA(i)}, ${Hashing.permB(i)})"
        }.mkString(", ")
      val m = operators.Sketches.BloomBits
      s"""WITH params(j, a, b) AS (VALUES $params),
         |keys AS (SELECT c_custkey AS k FROM customer WHERE c_nationkey = 1),
         |bits AS (
         |  SELECT DISTINCT p.j, ((k.k * p.a + p.b) % ${Hashing.P}) % $m AS pos
         |  FROM keys k CROSS JOIN params p),
         |probe AS (
         |  SELECT o_orderkey, o_custkey, p.j,
         |         ((o_custkey * p.a + p.b) % ${Hashing.P}) % $m AS pos
         |  FROM orders CROSS JOIN params p),
         |pass AS (
         |  SELECT o_orderkey, o_custkey
         |  FROM probe JOIN bits USING (j, pos)
         |  GROUP BY o_orderkey, o_custkey
         |  HAVING count(*) = ${operators.Sketches.BloomK})
         |SELECT s.o_orderkey, s.o_custkey, (k.k IS NOT NULL) AS is_member
         |FROM pass s LEFT JOIN keys k ON s.o_custkey = k.k
         |ORDER BY o_orderkey""".stripMargin
    },
    "q123_prefix_filter" ->
      s"""WITH $toksCte,
         |sets AS (
         |  SELECT doc_id, list(word) AS ws, CAST(count(*) AS BIGINT) AS n
         |  FROM toks GROUP BY doc_id)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         |           / (a.n + b.n - len(list_intersect(a.ws, b.ws))) AS jaccard
         |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.95 ORDER BY doc_a, doc_b""".stripMargin,
    "q124_hll_distinct" -> hllOracleSql,
    "q129_histo_quantile" ->
      """WITH hist AS (
        |  SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bin, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM hist)
        |SELECT event_type, n, min(bin) AS p50_bin
        |FROM cum WHERE cum * 2 >= n
        |GROUP BY event_type, n ORDER BY event_type""".stripMargin,
    "q130_hll_merge" -> hllOracleSql,
    "q131_asof_forward" ->
      """WITH c AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.value,
        |       (SELECT p.event_id FROM p
        |        WHERE p.user_id = c.user_id AND p.ts >= c.ts
        |        ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS next_event_id,
        |       (SELECT p.value FROM p
        |        WHERE p.user_id = c.user_id AND p.ts >= c.ts
        |        ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS next_value
        |FROM c ORDER BY event_id""".stripMargin,
    "q132_degree_profile" ->
      s"""WITH $toksCte,
         |sets AS (
         |  SELECT doc_id, list(word) AS ws, CAST(count(*) AS BIGINT) AS n
         |  FROM toks WHERE doc_id < 500 GROUP BY doc_id),
         |edges AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |           ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |    FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.95),
         |deg AS (
         |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT doc_a AS u FROM edges UNION ALL SELECT doc_b FROM edges)
         |  GROUP BY u)
         |SELECT COALESCE(d.deg, 0) AS deg, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM (SELECT doc_id FROM documents WHERE doc_id < 500) nd
         |LEFT JOIN deg d ON nd.doc_id = d.u
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q133_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q134_user_journey" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q135_transitions" ->
      """WITH p AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
        |      FROM c GROUP BY 1)
        |SELECT c.event_type, c.next_type, c.n,
        |       CAST(c.n * 1000000 // t.tot AS BIGINT) AS p_micros
        |FROM c JOIN t ON c.event_type = t.event_type
        |ORDER BY c.event_type, c.next_type""".stripMargin,
    "q136_cdc_apply" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders),
        |ch AS (
        |  SELECT k, price_c + 100 AS new_c, 'U' AS op FROM base WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, CAST(NULL AS BIGINT), 'D' FROM base
        |  WHERE k % 7 <> 0 AND k % 11 = 0
        |  UNION ALL
        |  SELECT k + 1000000000000, price_c, 'I' FROM base WHERE k % 13 = 0)
        |SELECT COALESCE(b.k, c.k) AS o_orderkey,
        |       COALESCE(c.new_c, b.price_c) AS price_c,
        |       COALESCE(c.op, '=') AS op
        |FROM base b FULL OUTER JOIN ch c ON b.k = c.k
        |WHERE c.op IS NULL OR c.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    "q137_scd2" ->
      """SELECT user_id, event_id, value, epoch_us(ts) AS valid_from,
        |       COALESCE(lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id),
        |         9223372036854775807) AS valid_to,
        |       (COALESCE(lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id),
        |         9223372036854775807) = 9223372036854775807) AS is_current
        |FROM events ORDER BY user_id, valid_from, event_id""".stripMargin,
    "q138_tpch_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q139_tpch_q8" ->
      """WITH f AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |         n2.n_name AS supp_nation,
        |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey)
        |SELECT o_year,
        |       round(CAST(sum(CASE WHEN supp_nation = 'NATION_19' THEN rev
        |                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |             / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share
        |FROM f GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q140_fuzzy_join" ->
      """WITH c AS (SELECT c_custkey AS k, c_name AS name FROM customer
        |           WHERE c_custkey < 300)
        |SELECT a.k AS cust_a, b.k AS cust_b,
        |       CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM c a JOIN c b ON a.k < b.k
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY cust_a, cust_b""".stripMargin,
    "q141_linreg" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(epoch_us(ts) - 1704067200000000 AS HUGEINT) AS x,
        |         CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM d GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE) * 86400000000, 6)
        |         AS slope_cents_per_day,
        |       round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |             / CAST(n AS DOUBLE), 4) AS intercept_cents
        |FROM s ORDER BY event_type""".stripMargin,
    "q142_hhi" ->
      """WITH s AS (
        |  SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS b
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |             CAST(sum(b) AS BIGINT) AS total
        |      FROM s GROUP BY 1),
        |sh AS (SELECT s.lang, t.n_sources, t.total,
        |              b * 1000000 // total AS share
        |       FROM s JOIN t ON s.lang = t.lang)
        |SELECT lang, n_sources, total AS total_bytes,
        |       CAST(sum(share * share) // 1000000 AS BIGINT) AS hhi_micros
        |FROM sh GROUP BY lang, n_sources, total ORDER BY lang""".stripMargin,
    "q143_tpch_q19" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q144_grouping_id" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,
    "q145_asof_nearest" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, n.click_id AS nearest_click_id,
        |       n.delta AS delta_us
        |FROM p LEFT JOIN LATERAL (
        |  SELECT c.event_id AS click_id,
        |         epoch_us(c.ts) - epoch_us(p.ts) AS delta
        |  FROM c WHERE c.user_id = p.user_id
        |  ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
        |           epoch_us(c.ts) ASC, c.event_id ASC
        |  LIMIT 1) n ON TRUE
        |ORDER BY event_id""".stripMargin,
    "q146_lsh_recall" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |$setsCte,
         |lsh AS (SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |           ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |    FROM cand JOIN sets a ON doc_a = a.doc_id
         |    JOIN sets b ON doc_b = b.doc_id)
         |  WHERE jaccard >= 0.95 AND doc_a < 1000 AND doc_b < 1000),
         |ex AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM sets a JOIN sets b
         |         ON a.doc_id < b.doc_id AND a.doc_id < 1000 AND b.doc_id < 1000
         |       WHERE ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} >= 0.95)
         |SELECT n_true, n_lsh,
         |       CAST(n_lsh * 1000000 // nullif(n_true, 0) AS BIGINT) AS recall_micros
         |FROM (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_true,
         |             (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh)""".stripMargin,
    "q147_map_explode" ->
      """WITH kv AS (SELECT unnest(json_keys(props)) AS k, props FROM events),
        |v AS (SELECT k,
        |             CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS v
        |      FROM kv)
        |SELECT k, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT v) AS BIGINT) AS n_vals,
        |       min(v) AS min_v, max(v) AS max_v
        |FROM v GROUP BY k ORDER BY k""".stripMargin,
    "q148_histo_ladder" ->
      """WITH hist AS (
        |  SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bin,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM hist)
        |SELECT event_type, n,
        |       min(CASE WHEN cum * 100 >= n * 25 THEN bin END) AS p25_bin,
        |       min(CASE WHEN cum * 100 >= n * 50 THEN bin END) AS p50_bin,
        |       min(CASE WHEN cum * 100 >= n * 75 THEN bin END) AS p75_bin,
        |       min(CASE WHEN cum * 100 >= n * 95 THEN bin END) AS p95_bin
        |FROM cum GROUP BY event_type, n ORDER BY event_type""".stripMargin,
    "q149_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#2'
        |  AND p_size IN (3, 11, 18, 28)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 20""".stripMargin,
    "q150_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |          - CAST(p_retailprice * l_quantity / 10 AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q151_tpch_q12" ->
      """SELECT l_returnflag AS flag,
        |       CAST(count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
        |       CAST(count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A', 'N')
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the textbook CORRELATED scalar subquery — the engine's agg+join
    // decorrelation must produce the identical relation
    "q152_tpch_q2" ->
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey, p_name,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_size <= 10)
        |SELECT DISTINCT
        |       CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_c,
        |       s_name, n_name, l_partkey AS p_partkey, p_name,
        |       price_c AS min_price_c
        |FROM shipped l
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'ASIA'
        |  AND price_c = (SELECT min(price_c) FROM shipped l2
        |                 WHERE l2.l_partkey = l.l_partkey)
        |ORDER BY acctbal_c DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q153_tpch_q11" ->
      """SELECT l_partkey,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS value
        |FROM lineitem
        |WHERE l_partkey IS NOT NULL
        |GROUP BY l_partkey
        |HAVING sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |       * (SELECT count(DISTINCT l_partkey) FROM lineitem) * 10 >
        |       (SELECT sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |        FROM lineitem WHERE l_partkey IS NOT NULL) * 11
        |ORDER BY value DESC, l_partkey""".stripMargin,
    // correlated aggregate inside HAVING inside IN — the engine
    // decorrelates to two aggregations + a semi join
    "q154_tpch_q20" ->
      """WITH windowed AS (
        |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'small%'))
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'ASIA'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM windowed w
        |    GROUP BY l_partkey, l_suppkey
        |    HAVING 2 * sum(q) > (SELECT sum(q) FROM windowed w2
        |                         WHERE w2.l_partkey = w.l_partkey))
        |ORDER BY s_suppkey""".stripMargin,
    // engine side reads a CSV copy; the oracle reads the parquet — a
    // text-format round-trip defect shows up as a hash mismatch
    "q155_csv_source" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |       strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
        |       strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q156_json_source" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
        |       min(epoch_us(ts)) AS first_us,
        |       max(epoch_us(ts)) AS last_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the WINDOW formulation — the engine's bounded-state aggregator
    // must pick identical survivors
    "q157_grouped_topk" ->
      """SELECT event_type, CAST(rank AS BIGINT) AS rank, event_id, value
        |FROM (SELECT event_type, event_id, value,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY value DESC, event_id) AS rank
        |      FROM events)
        |WHERE rank <= 5
        |ORDER BY event_type, rank""".stripMargin,
    // the NAIVE containment join — the engine's bucketized equi join
    // must produce the identical relation (blocked ≡ naive)
    "q158_interval_join" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |              WHEN ts - lag(ts) OVER w > INTERVAL '5 minutes' THEN 1
        |              ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM t),
        |iv AS (
        |  SELECT user_id AS s_user, sess_id,
        |         min(epoch_us(ts)) - 1800000000 AS s_us,
        |         max(epoch_us(ts)) + 1800000000 AS e_us
        |  FROM s GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, CAST(count(iv.s_user) AS BIGINT) AS n_concurrent
        |FROM p LEFT JOIN iv
        |  ON p.t_us BETWEEN iv.s_us AND iv.e_us AND iv.s_user <> p.user_id
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,
    // the identical mask-and-shift Morton chain in DuckDB integer
    // arithmetic — the key must match bit-for-bit
    "q159_zorder_key" ->
      """WITH s0 AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |         l_partkey, l_suppkey,
        |         l_partkey & 2147483647 AS a, l_suppkey & 2147483647 AS b
        |  FROM lineitem),
        |s1 AS (SELECT * REPLACE ((a | (a << 16)) & 281470681808895 AS a,
        |                         (b | (b << 16)) & 281470681808895 AS b) FROM s0),
        |s2 AS (SELECT * REPLACE ((a | (a << 8)) & 71777214294589695 AS a,
        |                         (b | (b << 8)) & 71777214294589695 AS b) FROM s1),
        |s3 AS (SELECT * REPLACE ((a | (a << 4)) & 1085102592571150095 AS a,
        |                         (b | (b << 4)) & 1085102592571150095 AS b) FROM s2),
        |s4 AS (SELECT * REPLACE ((a | (a << 2)) & 3689348814741910323 AS a,
        |                         (b | (b << 2)) & 3689348814741910323 AS b) FROM s3),
        |s5 AS (SELECT * REPLACE ((a | (a << 1)) & 6148914691236517205 AS a,
        |                         (b | (b << 1)) & 6148914691236517205 AS b) FROM s4)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       a | (b << 1) AS zkey
        |FROM s5
        |ORDER BY zkey, l_orderkey, l_linenumber
        |LIMIT 50""".stripMargin,
    // the engine reads the PERSISTED text index through the DSv2
    // source; the oracle re-derives postings from the raw corpus — a
    // green row proves artifact write + custom read + pushdown ≡ the
    // from-scratch computation
    "q160_dsv2_index" ->
      s"""WITH $toksCte,
         |f AS (SELECT doc_id, word FROM toks WHERE word IN ('batch', 'scan'))
         |SELECT word, CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS df,
         |       doc_id
         |FROM f
         |ORDER BY word, doc_id""".stripMargin,
    // DuckDB's struct-IN uses IS-DISTINCT semantics for NULL fields, so
    // the oracle states the TEXTBOOK tuple-NOT-IN 3VL expansion
    // explicitly: a probe row survives iff every exclusion row has some
    // component that definitively mismatches (tuple equality FALSE) —
    // identical to Spark's rewrite on any corpus, NULLs included
    "q161_tuple_not_in" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_clean,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
        |FROM lineitem l
        |WHERE NOT EXISTS (
        |    SELECT 1 FROM lineitem e
        |    WHERE e.l_returnflag = 'R' AND e.l_quantity >= 49
        |      AND e.l_orderkey < 1000
        |      AND (e.l_partkey = l.l_partkey
        |           OR e.l_partkey IS NULL OR l.l_partkey IS NULL)
        |      AND (e.l_suppkey = l.l_suppkey
        |           OR e.l_suppkey IS NULL OR l.l_suppkey IS NULL))
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // q01's oracle verbatim — the SQL-text surface must produce the
    // exact token stream the Column API produces
    "q162_sql_tokenize" ->
      s"""WITH $rawtoksCte
         |SELECT doc_id, word FROM rawtoks ORDER BY doc_id, word""".stripMargin,
    "q163_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
        |       round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q164_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_discount > l.l_tax)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // per-letter vocabulary profile of the DSv2-WRITTEN artifact; the
    // oracle rebuilds it from the raw corpus
    "q166_dsv2_write" ->
      s"""WITH $postingsCte
         |SELECT substr(word, 1, 1) AS letter,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(df) AS BIGINT) AS sum_df
         |FROM post
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the engine joins the PERSISTED index (DSv2 read) to documents;
    // the oracle re-derives the matches from the raw corpus
    "q165_dsv2_join" ->
      s"""WITH $toksCte,
         |f AS (SELECT doc_id, word FROM toks WHERE word IN ('batch', 'scan'))
         |SELECT d.doc_id, d.lang, CAST(count(*) AS BIGINT) AS n_terms
         |FROM documents d JOIN f ON d.doc_id = f.doc_id
         |GROUP BY d.doc_id, d.lang
         |ORDER BY d.doc_id""".stripMargin,
    // TPC-H Q14: exact DECIMAL sums, one DOUBLE division, 6-dp round
    "q167_tpch_q14" ->
      """SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
        |             6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,
    // runtime-filtered index join: df of every word document 5 contains
    "q168_dsv2_runtime" ->
      s"""WITH $postingsCte,
         |dimw AS (SELECT DISTINCT word FROM toks WHERE doc_id = 5)
         |SELECT p.word, p.df
         |FROM post p JOIN dimw USING (word)
         |ORDER BY p.word""".stripMargin,
    // corpus-wide top-25 by df (word asc tiebreak makes it total-ordered)
    "q169_dsv2_topn" ->
      s"""WITH $postingsCte
         |SELECT word, df FROM post
         |ORDER BY df DESC, word ASC LIMIT 25""".stripMargin,
    // catalog-resolved table ≡ the raw-corpus rebuild, b-prefix slice
    "q170_catalog_sql" ->
      s"""WITH $postingsCte
         |SELECT word, df FROM post
         |WHERE word LIKE 'b%' ORDER BY word""".stripMargin,
    // base+delta merged ≡ the full-corpus index (q02's oracle shape)
    "q171_index_delta_merge" ->
      s"""WITH $postingsCte
         |SELECT word, df, array_to_string(postings, ' ') AS postings
         |FROM post ORDER BY df DESC, word""".stripMargin,
    // compacted base alone ≡ the full-corpus index
    "q172_index_compact" ->
      s"""WITH $postingsCte
         |SELECT word, df, array_to_string(postings, ' ') AS postings
         |FROM post ORDER BY df DESC, word""".stripMargin,
    // vocabulary size ≡ distinct-word count of the raw corpus
    "q173_dsv2_count" ->
      s"""WITH $postingsCte
         |SELECT CAST(count(*) AS BIGINT) AS n_words FROM post""".stripMargin,
    // DuckDB runs the same lateral; ties impossible (orderkey breaks)
    "q174_lateral_topn" ->
      """SELECT c.c_custkey, o.o_orderkey,
        |       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin,
    // DuckDB mirrors the recursion; sums routed DECIMAL -> DOUBLE
    "q175_recursive_gapfill" ->
      """WITH RECURSIVE months(m, mx) AS (
        |  SELECT date_trunc('month', min(o_orderdate)),
        |         date_trunc('month', max(o_orderdate))
        |  FROM orders
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, mx FROM months
        |  WHERE m < mx
        |)
        |SELECT strftime(months.m, '%Y-%m') AS month,
        |       CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))),
        |                     CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
        |FROM months LEFT JOIN orders o
        |  ON date_trunc('month', o.o_orderdate) = months.m
        |GROUP BY months.m
        |ORDER BY months.m""".stripMargin,
    // typed k extraction ≡ DuckDB's JSON path (engine side is VARIANT)
    "q176_variant" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the doubling loop replayed EXACTLY as recursion (closed-form
    // 2^ceil(log2) would disagree at power-of-two boundaries)
    "q177_sql_script" ->
      """WITH RECURSIVE n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM events),
        |loop(b) AS (
        |  SELECT CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT b * 2 FROM loop, n WHERE c / CAST(b AS DOUBLE) > 1000
        |),
        |fin AS (SELECT max(b) AS b FROM loop)
        |SELECT c AS n_events, b AS buckets,
        |       round(c / CAST(b AS DOUBLE), 3) AS avg_per_bucket
        |FROM n, fin""".stripMargin,
    // per-letter profile ≡ raw-corpus rebuild (engine side reads the
    // `_letter` metadata column and plans shuffle-free)
    "q178_dsv2_letter_agg" ->
      s"""WITH $postingsCte
         |SELECT substr(word, 1, 1) AS letter,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(df) AS BIGINT) AS sum_df,
         |       CAST(max(df) AS BIGINT) AS max_df
         |FROM post
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // survivors of DELETE WHERE word LIKE 't%' ≡ the raw-corpus index
    // minus the t-words
    "q179_dsv2_delete" ->
      s"""WITH $postingsCte
         |SELECT word, df FROM post
         |WHERE word NOT LIKE 't%' ORDER BY word""".stripMargin,
    // the two artifacts index the SAME corpus, so the letter+word SPJ
    // must pair every word with itself: one rebuild, df served twice
    "q180_dsv2_spj" ->
      s"""WITH $postingsCte
         |SELECT word, df AS df_text, df AS df_v2
         |FROM post ORDER BY word""".stripMargin,
    // PSI replayed with the same bucket rule, division shape, and
    // 1e-9 term quantization (floor before sum) as the engine
    "q181_psi_drift" ->
      """WITH b AS (SELECT lang,
        |            least(CAST(floor(n_chars / 100.0) AS BIGINT), 5) AS bucket
        |          FROM documents),
        |cnt AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c
        |        FROM b GROUP BY 1, 2),
        |lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
        |ob AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS oc FROM cnt GROUP BY 1),
        |gt AS (SELECT CAST(sum(c) AS BIGINT) AS ot FROM cnt),
        |terms AS (
        |  SELECT cnt.lang,
        |         CAST(floor((cnt.c / CAST(lt.t AS DOUBLE)
        |                     - ob.oc / CAST(gt.ot AS DOUBLE))
        |              * ln((cnt.c / CAST(lt.t AS DOUBLE))
        |                   / (ob.oc / CAST(gt.ot AS DOUBLE))) * 1e9) AS BIGINT) AS tq
        |  FROM cnt JOIN lt USING (lang) JOIN ob USING (bucket) CROSS JOIN gt)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(sum(tq) AS DOUBLE) / 1e9 AS psi
        |FROM terms GROUP BY lang ORDER BY lang""".stripMargin,
    // JSD replayed on the same lang×vocab grid with the same mixture
    // form 2p/(p+q) and 1e-9 per-word quantization
    "q182_js_divergence" ->
      s"""WITH $rawtoksCte,
         |wc AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS c
         |       FROM rawtoks GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM wc GROUP BY 1),
         |dist AS (SELECT lang, word, c / CAST(t AS DOUBLE) AS p
         |         FROM wc JOIN tot USING (lang)),
         |grid AS (SELECT w.word, l.lang, coalesce(d.p, 0.0) AS p
         |         FROM (SELECT DISTINCT word FROM wc) w
         |         CROSS JOIN (SELECT lang FROM tot) l
         |         LEFT JOIN dist d ON d.lang = l.lang AND d.word = w.word),
         |pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
         |                 a.p AS pa, b.p AS pb
         |          FROM grid a JOIN grid b
         |            ON a.word = b.word AND a.lang < b.lang),
         |terms AS (
         |  SELECT lang_a, lang_b,
         |    CAST(floor((CASE WHEN pa > 0
         |                     THEN pa * ln(2.0 * pa / (pa + pb))
         |                     ELSE 0.0 END
         |              + CASE WHEN pb > 0
         |                     THEN pb * ln(2.0 * pb / (pa + pb))
         |                     ELSE 0.0 END) * 0.5 * 1e9) AS BIGINT) AS tq
         |  FROM pairs)
         |SELECT lang_a, lang_b, CAST(sum(tq) AS DOUBLE) / 1e9 AS jsd
         |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // generation 0 ≡ the index of the EVEN half of the corpus (the
    // pre-compaction base the snapshot retained)
    "q183_time_travel" ->
      """WITH evtoks AS (
        |  SELECT DISTINCT doc_id,
        |         lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) AS word
        |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
        |        FROM documents WHERE doc_id % 2 = 0)
        |  WHERE lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) <> '')
        |SELECT word, CAST(count(*) AS BIGINT) AS df
        |FROM evtoks GROUP BY word ORDER BY word""".stripMargin,
    // MERGE-synced artifact ≡ the full-corpus index (q171/q172's shape)
    "q184_merge_sync" ->
      s"""WITH $postingsCte
         |SELECT word, df, array_to_string(postings, ' ') AS postings
         |FROM post ORDER BY df DESC, word""".stripMargin,
    // BFS over the SAME graph CTEs as q111/q112; recursion bounded at
    // 4 hops, min-dist ≡ the engine's frontier distance
    "q185_bfs_hops" ->
      s"""WITH RECURSIVE $neardupGraphCtes,
         |seed AS (SELECT min(u) AS s FROM deg),
         |bfs(u, dist) AS (
         |  SELECT s, CAST(0 AS BIGINT) FROM seed
         |  UNION
         |  SELECT s2.v, b.dist + 1 FROM bfs b JOIN sym s2 ON s2.u = b.u
         |  WHERE b.dist < 4
         |)
         |SELECT u AS doc_id, CAST(min(dist) AS BIGINT) AS dist
         |FROM bfs GROUP BY u ORDER BY doc_id""".stripMargin,
    // grouped pushdown ≡ raw-corpus per-letter vocabulary counts
    "q186_dsv2_group_count" ->
      s"""WITH $postingsCte
         |SELECT substr(word, 1, 1) AS letter,
         |       CAST(count(*) AS BIGINT) AS n_words
         |FROM post GROUP BY 1 ORDER BY 1""".stripMargin,
    // entropy replayed with the same division shape and quantization
    "q187_vocab_entropy" ->
      s"""WITH $rawtoksCte,
         |wc AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS c
         |       FROM rawtoks GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t,
         |               CAST(count(*) AS BIGINT) AS vocab
         |        FROM wc GROUP BY 1),
         |terms AS (
         |  SELECT wc.lang,
         |         CAST(floor((wc.c / CAST(tot.t AS DOUBLE))
         |              * ln(wc.c / CAST(tot.t AS DOUBLE)) * 1e9) AS BIGINT) AS tq
         |  FROM wc JOIN tot USING (lang))
         |SELECT t.lang, t.t AS n_tokens, t.vocab,
         |       -CAST(sum(tq) AS DOUBLE) / 1e9 AS entropy
         |FROM terms JOIN tot t USING (lang)
         |GROUP BY t.lang, t.t, t.vocab
         |ORDER BY t.lang""".stripMargin,
    // pipe-syntax chain replayed as the classic GROUP BY + HAVING text
    // (the equivalence the engine-side spec pins via sameSemantics)
    "q188_pipe_sql" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |HAVING count(*) > 0
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // UTF8_LCASE grouping ≡ GROUP BY lower(word) on the ASCII-only
    // [A-Za-z]+ token grammar (R6) — the equivalence the spec pins
    "q189_collate_vocab" ->
      """WITH ctoks AS (
        |  SELECT regexp_replace(w, '[^A-Za-z]', '', 'g') AS cw
        |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |  WHERE regexp_replace(w, '[^A-Za-z]', '', 'g') <> '')
        |SELECT lower(cw) AS word,
        |       CAST(count(DISTINCT cw) AS BIGINT) AS n_variants,
        |       CAST(count(*) AS BIGINT) AS occurrences
        |FROM ctoks GROUP BY 1 ORDER BY 1""".stripMargin,
    // the bound parameters replayed as literals — binding is parse-time
    // literal construction, so the two texts are one query
    "q190_param_sql" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE n_chars >= 300
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // corpus-internal duplicate-gram rate: distinct (doc, 13-gram)
    // relation joined to its own gram document frequency (q60's
    // idiom). The oracle counts RAW STRING grams; the engine shuffles
    // xxhash64 longs — agreement is the injectivity EncodingSpec pins
    "q191_dup_ngram_rate" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), 13) AS gram
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 11)) AS p
        |        FROM documents WHERE len(text) >= 13)),
        |gdf AS (SELECT gram, CAST(count(*) AS BIGINT) AS gdf FROM g GROUP BY 1)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN gdf.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       CAST(sum(CASE WHEN gdf.gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_rate
        |FROM g JOIN gdf USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // the UDF's inlined body replayed directly (inlining is the claim
    // the engine-side spec pins; the oracle states the semantics)
    "q192_sql_udf" ->
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the TVF's body with the argument inlined as a literal
    "q193_sql_tvf" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        |FROM documents WHERE n_chars >= 280
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // identical winnowing algebra: gram polyhash, ROWS window min over
    // full windows only, per-doc distinct-print profile
    "q194_winnow" ->
      s"""WITH g AS (
         |  SELECT doc_id, CAST(len(text) AS BIGINT) AS tlen, p,
         |         ${polyHashSql("substr(text, CAST(p AS INT), 8)")} AS h
         |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS p
         |        FROM documents WHERE len(text) >= 11)),
         |w AS (
         |  SELECT doc_id, tlen, p,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY p
         |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM g)
         |SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_fp,
         |       CAST(count(*) AS BIGINT) AS n_windows,
         |       min(fp) AS min_fp, max(fp) AS max_fp
         |FROM w WHERE p <= tlen - 10
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // identical winnow selection, then the SAME inversion algebra:
    // distinct prints, df-cap [2, 10], fp-keyed pair join, containment
    // over the capped print sets
    "q195_winnow_pairs" ->
      s"""WITH g AS (
         |  SELECT doc_id, CAST(len(text) AS BIGINT) AS tlen, p,
         |         ${polyHashSql("substr(text, CAST(p AS INT), 8)")} AS h
         |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS p
         |        FROM documents WHERE len(text) >= 11)),
         |prints AS (
         |  SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id, p, tlen,
         |           min(h) OVER (PARTITION BY doc_id ORDER BY p
         |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |    FROM g) WHERE p <= tlen - 10),
         |kept AS (
         |  SELECT doc_id, fp FROM prints
         |  WHERE fp IN (SELECT fp FROM prints GROUP BY fp
         |               HAVING count(*) BETWEEN 2 AND 10)),
         |sizes AS (SELECT doc_id, count(*) AS n_prints FROM kept GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kept a JOIN kept b
         |    ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT p.doc_a, p.doc_b, p.n_shared,
         |       CAST(p.n_shared AS DOUBLE) / least(sa.n_prints, sb.n_prints)
         |         AS containment
         |FROM pairs p
         |JOIN sizes sa ON sa.doc_id = p.doc_a
         |JOIN sizes sb ON sb.doc_id = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin,
    // engine side reads an XML copy; the oracle reads the parquet — a
    // text round-trip defect (escaping, trimming, encoding) moves the
    // bounded polyhash content signature
    "q196_xml_source" -> docProfileOracle,
    // same content gate through the Avro round trip (length-prefixed
    // strings, local-timestamp logical types) — shared text with q196
    "q208_avro_source" -> docProfileOracle,
    // engine side reads an ORC copy; the oracle reads the parquet —
    // µs timestamps + integer-cent sums pin the type mapping
    "q207_orc_source" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |       min(epoch_us(o_orderdate)) AS first_us,
        |       max(epoch_us(o_orderdate)) AS last_us
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the WHOLE train->score chain replayed: q27's stop-ratio gate
    // labels the seed split, per-class token counts train the model,
    // Laplace-smoothed log-likelihood ratios (each ln floor-quantized
    // to micros, the q88 convention), prior log-odds, unseen tokens
    // coalescing to the smoothed zero-count ratio — a hash match
    // gates the trained MODEL itself
    "q209_nb_classifier" -> nbClassifierOracle,
    // merge == rebuild for the classifier fit state: SHARED text —
    // the hash match IS the law (the q202/q206/q218 convention
    // applied to the trained model)
    "q223_incremental_nb" -> nbClassifierOracle,
    // held-out confusion metrics over the SAME nbscored relation;
    // integer-micros divisions (`//` here, `div` Spark-side — both
    // truncate on these non-negative operands), vacuous-truth 1e6 pins
    "q213_classifier_eval" ->
      s"""WITH $nbCtes,
         |held AS (SELECT pred, pos FROM nbscored WHERE doc_id % 3 = 0),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
         |             CAST(sum(CASE WHEN pred AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |             CAST(sum(CASE WHEN pred AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |             CAST(sum(CASE WHEN NOT pred AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |             CAST(sum(CASE WHEN NOT pred AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |      FROM held)
         |SELECT n_test, tp, fp, fn, tn,
         |       CAST((tp + tn) * 1000000 // n_test AS BIGINT) AS acc_micros,
         |       CAST(CASE WHEN tp + fp = 0 THEN 1000000
         |                 ELSE tp * 1000000 // (tp + fp) END AS BIGINT) AS prec_micros,
         |       CAST(CASE WHEN tp + fn = 0 THEN 1000000
         |                 ELSE tp * 1000000 // (tp + fn) END AS BIGINT) AS rec_micros,
         |       CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 1000000
         |                 ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS BIGINT) AS f1_micros
         |FROM c""".stripMargin,
    // exact rank-sum AUC in 2×-units through the two-level bucket
    // histogram (pmod floor-div: Spark div truncates, DuckDB // floors
    // — scores go negative, so the bucket rule is spelled out)
    "q214_classifier_auc" ->
      s"""WITH $nbCtes,
         |per AS (SELECT score_q,
         |               CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
         |               CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_n,
         |               CAST((score_q - ((score_q % 1000000) + 1000000) % 1000000) // 1000000 AS BIGINT) AS bkt
         |        FROM nbscored WHERE doc_id % 3 = 0 GROUP BY score_q),
         |blw AS (SELECT bkt,
         |               coalesce(sum(bn) OVER (ORDER BY bkt
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below_bkt
         |        FROM (SELECT bkt, sum(n_n) AS bn FROM per GROUP BY bkt)),
         |wi AS (SELECT per.*, below_bkt,
         |              coalesce(sum(n_n) OVER (PARTITION BY per.bkt ORDER BY score_q
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS in_bkt
         |       FROM per JOIN blw ON per.bkt = blw.bkt),
         |f AS (SELECT CAST(sum(n_p) AS BIGINT) AS n_pos,
         |             CAST(sum(n_n) AS BIGINT) AS n_neg,
         |             CAST(sum(n_p * (2 * (below_bkt + in_bkt) + n_n)) AS BIGINT) AS auc_num2
         |      FROM wi)
         |SELECT n_pos, n_neg, auc_num2,
         |       CAST(CASE WHEN n_pos * n_neg = 0 THEN 1000000
         |                 ELSE auc_num2 * 1000000 // (2 * n_pos * n_neg) END AS BIGINT) AS auc_micros
         |FROM f""".stripMargin,
    // the full ROC sweep: cumulative-from-above over the bounded
    // bucket histogram (q214's bucket rule verbatim), micros ratios
    "q225_roc_curve" ->
      s"""WITH $nbCtes,
         |per AS (SELECT CAST((score_q - ((score_q % 1000000) + 1000000) % 1000000) // 1000000 AS BIGINT) AS bkt,
         |               CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS b_p,
         |               CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS b_n
         |        FROM nbscored WHERE doc_id % 3 = 0 GROUP BY 1),
         |cum AS (SELECT bkt,
         |               CAST(sum(b_p) OVER (ORDER BY bkt DESC
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         |               CAST(sum(b_n) OVER (ORDER BY bkt DESC
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
         |        FROM per),
         |roctot AS (SELECT CAST(sum(b_p) AS BIGINT) AS pp,
         |                  CAST(sum(b_n) AS BIGINT) AS nn FROM per)
         |SELECT bkt, tp, fp,
         |       CAST(CASE WHEN pp = 0 THEN 1000000 ELSE tp * 1000000 // pp END AS BIGINT) AS tpr_micros,
         |       CAST(CASE WHEN nn = 0 THEN 1000000 ELSE fp * 1000000 // nn END AS BIGINT) AS fpr_micros
         |FROM cum CROSS JOIN roctot ORDER BY bkt""".stripMargin,
    // reliability diagram over the same bucket rule: predicted vs
    // actual positive share per bucket, exact micros
    "q226_calibration" ->
      s"""WITH $nbCtes,
         |b AS (SELECT CAST((score_q - ((score_q % 1000000) + 1000000) % 1000000) // 1000000 AS BIGINT) AS bkt,
         |             CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(CASE WHEN pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
         |             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_actual_pos
         |      FROM nbscored WHERE doc_id % 3 = 0 GROUP BY 1)
         |SELECT bkt, n_docs, n_pred_pos, n_actual_pos,
         |       CAST(n_pred_pos * 1000000 // n_docs AS BIGINT) AS pred_rate_micros,
         |       CAST(n_actual_pos * 1000000 // n_docs AS BIGINT) AS actual_rate_micros
         |FROM b ORDER BY bkt""".stripMargin,
    // basket pairs replayed: rarest-first per-basket cap at 64 (a
    // no-op on this schema's <=7-line baskets, mirrored so the
    // contract covers the prune), within-order self-join (a < b),
    // support counts, two-way confidence and lift in integer micros
    "q227_basket_pairs" ->
      """WITH raw AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
        |             FROM lineitem),
        |sup AS (SELECT part, CAST(count(*) AS BIGINT) AS sup FROM raw GROUP BY 1),
        |items AS (SELECT ok, part FROM (
        |            SELECT r.ok, r.part,
        |                   row_number() OVER (PARTITION BY r.ok
        |                     ORDER BY s.sup, r.part) AS rk
        |            FROM raw r JOIN sup s USING (part))
        |          WHERE rk <= 64),
        |pairs AS (SELECT x.part AS part_a, y.part AS part_b,
        |                 CAST(count(*) AS BIGINT) AS sup_ab
        |          FROM items x JOIN items y
        |            ON x.ok = y.ok AND x.part < y.part
        |          GROUP BY 1, 2 HAVING count(*) >= 3),
        |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM raw)
        |SELECT part_a, part_b, sup_ab, sa.sup AS sup_a, sb.sup AS sup_b,
        |       sup_ab * 1000000 // sa.sup AS conf_ab_micros,
        |       sup_ab * 1000000 // sb.sup AS conf_ba_micros,
        |       sup_ab * n_baskets * 1000000 // (sa.sup * sb.sup) AS lift_micros
        |FROM pairs JOIN sup sa ON sa.part = part_a
        |           JOIN sup sb ON sb.part = part_b
        |CROSS JOIN nb
        |ORDER BY part_a, part_b""".stripMargin,
    // RFM replayed: three bounded histograms, the q148 boundary rule
    // (min bin with 100*cum >= p*n), strictly-greater scoring
    "q228_rfm_segments" ->
      s"""WITH per AS (SELECT o_custkey,
         |  CAST(max(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS r_v,
         |  CAST(count(*) AS BIGINT) AS f_v,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents
         |  FROM orders GROUP BY 1),
         |per2 AS (SELECT *, m_cents // 10000 AS m_v FROM per),
         |${Seq(("r", "r_v"), ("f", "f_v"), ("m", "m_v")).map { case (t, v) =>
            s"""${t}h AS (SELECT $v AS bin, CAST(count(*) AS BIGINT) AS cnt
               |           FROM per2 GROUP BY 1),
               |${t}c AS (SELECT bin, sum(cnt) OVER (ORDER BY bin
               |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               |          FROM ${t}h),
               |${t}n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM ${t}h),
               |${t}b AS (SELECT
               |  CAST(min(CASE WHEN cum * 100 >= n * 20 THEN bin END) AS BIGINT) AS ${t}b20,
               |  CAST(min(CASE WHEN cum * 100 >= n * 40 THEN bin END) AS BIGINT) AS ${t}b40,
               |  CAST(min(CASE WHEN cum * 100 >= n * 60 THEN bin END) AS BIGINT) AS ${t}b60,
               |  CAST(min(CASE WHEN cum * 100 >= n * 80 THEN bin END) AS BIGINT) AS ${t}b80
               |  FROM ${t}c CROSS JOIN ${t}n)""".stripMargin
          }.mkString(",\n")},
         |scored AS (SELECT m_cents,
         |  1 + (CASE WHEN r_v > rb20 THEN 1 ELSE 0 END)
         |    + (CASE WHEN r_v > rb40 THEN 1 ELSE 0 END)
         |    + (CASE WHEN r_v > rb60 THEN 1 ELSE 0 END)
         |    + (CASE WHEN r_v > rb80 THEN 1 ELSE 0 END) AS r_score,
         |  1 + (CASE WHEN f_v > fb20 THEN 1 ELSE 0 END)
         |    + (CASE WHEN f_v > fb40 THEN 1 ELSE 0 END)
         |    + (CASE WHEN f_v > fb60 THEN 1 ELSE 0 END)
         |    + (CASE WHEN f_v > fb80 THEN 1 ELSE 0 END) AS f_score,
         |  1 + (CASE WHEN m_v > mb20 THEN 1 ELSE 0 END)
         |    + (CASE WHEN m_v > mb40 THEN 1 ELSE 0 END)
         |    + (CASE WHEN m_v > mb60 THEN 1 ELSE 0 END)
         |    + (CASE WHEN m_v > mb80 THEN 1 ELSE 0 END) AS m_score
         |  FROM per2 CROSS JOIN rb CROSS JOIN fb CROSS JOIN mb)
         |SELECT CAST(r_score AS BIGINT) AS r_score,
         |       CAST(f_score AS BIGINT) AS f_score,
         |       CAST(m_score AS BIGINT) AS m_score,
         |       CAST(count(*) AS BIGINT) AS n_customers,
         |       CAST(sum(m_cents) AS BIGINT) AS sum_cents
         |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // gaps-and-islands replay: island_id = day - row_number per user,
    // two rollups; max_by ties impossible (island ends are distinct)
    "q229_activity_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |                     epoch_us(ts) // 86400000000 AS day
        |              FROM events),
        |isl AS (SELECT user_id, day,
        |               day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |        FROM days),
        |st AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
        |              CAST(max(day) AS BIGINT) AS streak_end
        |       FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |       CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(max(len) AS BIGINT) AS longest_streak,
        |       CAST(max_by(len, streak_end) AS BIGINT) AS latest_streak_len,
        |       CAST(max(streak_end) AS BIGINT) AS last_active_day
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin,
    // MAD replay: two chained histogram lower-medians (2*cum >= n),
    // integer 3*mad gate
    "q230_mad_outliers" ->
      """WITH b AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS bin
        |           FROM events),
        |h1 AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
        |       FROM b GROUP BY 1, 2),
        |c1 AS (SELECT event_type, bin,
        |              sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM h1),
        |n1 AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |       FROM h1 GROUP BY 1),
        |med AS (SELECT c1.event_type, CAST(min(bin) AS BIGINT) AS med
        |        FROM c1 JOIN n1 USING (event_type)
        |        WHERE cum * 2 >= n GROUP BY 1),
        |d AS (SELECT b.event_type, med, abs(bin - med) AS dev
        |      FROM b JOIN med USING (event_type)),
        |h2 AS (SELECT event_type, dev, CAST(count(*) AS BIGINT) AS cnt
        |       FROM d GROUP BY 1, 2),
        |c2 AS (SELECT event_type, dev,
        |              sum(cnt) OVER (PARTITION BY event_type ORDER BY dev
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM h2),
        |n2 AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |       FROM h2 GROUP BY 1),
        |mad AS (SELECT c2.event_type, CAST(min(dev) AS BIGINT) AS mad
        |        FROM c2 JOIN n2 USING (event_type)
        |        WHERE cum * 2 >= n GROUP BY 1)
        |SELECT d.event_type, med, mad,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN dev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    // per-split confusion matrix -> chance-corrected kappa, all
    // integer; DuckDB // floors, mirroring the Spark pmod floor-div
    // (kappa goes negative for worse-than-chance raters)
    "q231_kappa_agreement" ->
      s"""WITH $nbCtes,
         |cm AS (SELECT CASE WHEN doc_id % 3 = 0 THEN 'held' ELSE 'train' END AS split,
         |              CAST(count(*) AS BIGINT) AS n,
         |              CAST(sum(CASE WHEN pred AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |              CAST(sum(CASE WHEN pred AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |              CAST(sum(CASE WHEN NOT pred AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |              CAST(sum(CASE WHEN NOT pred AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |       FROM nbscored GROUP BY 1),
         |k AS (SELECT *, (tp + fp) * (tp + fn) + (fn + tn) * (fp + tn) AS e2 FROM cm)
         |SELECT split, n, tp, fp, fn, tn,
         |       CAST((tp + tn) * 1000000 // n AS BIGINT) AS po_micros,
         |       CAST(e2 * 1000000 // (n * n) AS BIGINT) AS pe_micros,
         |       CAST(CASE WHEN n * n - e2 = 0 THEN 1000000
         |                 ELSE ((n * (tp + tn) - e2) * 1000000) // (n * n - e2)
         |            END AS BIGINT) AS kappa_micros
         |FROM k ORDER BY split""".stripMargin,
    // immediate-predecessor lag gate at µs precision (the tsMicros
    // boundary contract), ties broken by event_id
    "q232_event_dedup" ->
      """WITH w AS (SELECT event_type,
        |                  epoch_us(ts) AS eus,
        |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                    ORDER BY epoch_us(ts), event_id) AS prev
        |           FROM events),
        |v AS (SELECT event_type,
        |             CASE WHEN prev IS NOT NULL AND eus - prev <= 60000000
        |                  THEN 1 ELSE 0 END AS is_dup
        |      FROM w)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(is_dup) AS BIGINT) AS n_dups,
        |       CAST(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS dup_rate_micros
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q58 closure (shared reach CTEs) rolled up to the savings
    // report: per-cluster aggregates, then the bounded size rollup
    "q233_dedup_report" ->
      s"""WITH RECURSIVE $clusterReachCtes,
         |clusters AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |per AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz,
         |               CAST(sum(n_chars) AS BIGINT) AS chars_total,
         |               CAST(min_by(n_chars, doc_id) AS BIGINT) AS chars_kept
         |        FROM clusters JOIN documents USING (doc_id) GROUP BY 1)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(sz) AS BIGINT) AS n_docs,
         |       CAST(sum(chars_total) AS BIGINT) AS chars_total,
         |       CAST(sum(chars_total - chars_kept) AS BIGINT) AS chars_dropped
         |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    // the NAIVE global per-stratum rank — the driver hash match proves
    // the bucket-histogram blocked selection ≡ this form
    "q234_quota_split" ->
      s"""WITH r AS (SELECT doc_id, lang,
         |                  row_number() OVER (PARTITION BY lang
         |                    ORDER BY ${polyHashSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk,
         |                  count(*) OVER (PARTITION BY lang) AS n
         |           FROM documents)
         |SELECT doc_id, lang,
         |       CASE WHEN rk <= n * 80 // 100 THEN 'train' ELSE 'val' END AS split
         |FROM r ORDER BY doc_id""".stripMargin,
    // exact KS: integer CDF cross-products over the per-pair value
    // union; one bounded window per source pair
    "q235_ks_drift" ->
      """WITH h AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
        |      FROM t a JOIN t b ON a.source < b.source),
        |s AS (SELECT src_a, src_b, n_a, n_b, v,
        |             CAST(sum(CASE WHEN h.source = src_a THEN c ELSE 0 END) AS BIGINT) AS ca,
        |             CAST(sum(CASE WHEN h.source = src_b THEN c ELSE 0 END) AS BIGINT) AS cb
        |      FROM h JOIN p ON h.source = src_a OR h.source = src_b
        |      GROUP BY 1, 2, 3, 4, 5),
        |c AS (SELECT src_a, src_b, n_a, n_b,
        |             sum(ca) OVER win AS cum_a, sum(cb) OVER win AS cum_b
        |      FROM s WINDOW win AS (PARTITION BY src_a, src_b ORDER BY v
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT src_a, src_b, n_a, n_b,
        |       CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
        |       CAST(max(abs(cum_a * n_b - cum_b * n_a)) * 1000000 // (n_a * n_b) AS BIGINT) AS d_micros
        |FROM c GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin,
    // hash-level self-join on md5(text); diagonal = within-source
    // duplication, off-diagonal = cross-source sharing; zero-filled
    // over the total source-pair universe
    "q236_dup_source_matrix" ->
      """WITH per AS (SELECT md5(text) AS hash, source, CAST(count(*) AS BIGINT) AS copies
        |             FROM documents GROUP BY 1, 2),
        |diag AS (SELECT source AS src_a, source AS src_b,
        |                CAST(count(*) AS BIGINT) AS n_shared_texts,
        |                CAST(sum(copies) AS BIGINT) AS n_docs
        |         FROM per WHERE copies >= 2 GROUP BY 1, 2),
        |cr AS (SELECT a.source AS src_a, b.source AS src_b,
        |              CAST(count(*) AS BIGINT) AS n_shared_texts,
        |              CAST(sum(a.copies + b.copies) AS BIGINT) AS n_docs
        |       FROM per a JOIN per b ON a.hash = b.hash AND a.source < b.source
        |       GROUP BY 1, 2),
        |obs AS (SELECT * FROM diag UNION ALL SELECT * FROM cr),
        |s AS (SELECT DISTINCT source FROM documents),
        |u AS (SELECT a.source AS src_a, b.source AS src_b
        |      FROM s a JOIN s b ON a.source <= b.source)
        |SELECT u.src_a, u.src_b,
        |       CAST(coalesce(n_shared_texts, 0) AS BIGINT) AS n_shared_texts,
        |       CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
        |FROM u LEFT JOIN obs ON u.src_a = obs.src_a AND u.src_b = obs.src_b
        |ORDER BY u.src_a, u.src_b""".stripMargin,
    // the q54 session CTEs (4 h gap — the path-mining density knob)
    // + two leads inside (user, session); top-k ties break by path
    "q237_event_paths" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |              WHEN ts - lag(ts) OVER w > INTERVAL '240 minutes' THEN 1
        |              ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM t),
        |p AS (
        |  SELECT event_type AS s1,
        |         lead(event_type, 1) OVER w2 AS s2,
        |         lead(event_type, 2) OVER w2 AS s3
        |  FROM s
        |  WINDOW w2 AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id))
        |SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE s2 IS NOT NULL AND s3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, s1, s2, s3 LIMIT 20""".stripMargin,
    // µ-quantized value >> min(age_weeks, 62) — both engines'
    // arithmetic shift floor-divides; anchor from a scalar subquery
    "q238_decay_scores" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS v_q
        |           FROM events),
        |a AS (SELECT CAST(max(day) AS BIGINT) AS now_day FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(v_q >> CAST(least((now_day - day) // 7, 62) AS INT)) AS BIGINT) AS score_q,
        |       CAST(max(day) AS BIGINT) AS last_day
        |FROM e CROSS JOIN a GROUP BY user_id ORDER BY user_id""".stripMargin,
    // one bigram fold; marginals and N are sums over the bigram
    // vocabulary; quantized-ln micros (the q88 convention)
    "q239_pmi_collocations" ->
      s"""WITH $ordtoksCte,
         |p AS (SELECT ws[i] AS w1, ws[i+1] AS w2
         |      FROM (SELECT ws, unnest(range(1, len(ws))) AS i
         |            FROM ordtoks WHERE len(ws) >= 2)),
         |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM p GROUP BY 1, 2),
         |m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
         |m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c GROUP BY 1),
         |nb AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM c)
         |SELECT w1, w2, c12,
         |       CAST(floor(ln(CAST(c12 * nb AS DOUBLE) / CAST(c1 * c2 AS DOUBLE)) * 1e6) AS BIGINT) AS pmi_q
         |FROM c JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN nb
         |WHERE c12 >= 5
         |ORDER BY pmi_q DESC, w1, w2 LIMIT 50""".stripMargin,
    // the q58 closure feeding a kept flag into ONE distinct-gram
    // aggregation; the oracle counts raw grams (q191 convention:
    // the engine's 64-bit gram hash is collision-negligible)
    "q240_dedup_diversity" ->
      s"""WITH RECURSIVE $clusterReachCtes,
         |clusters AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |g AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), 13) AS gram
         |      FROM (SELECT doc_id, text, unnest(range(1, len(text) - 11)) AS p
         |            FROM documents WHERE len(text) >= 13)),
         |j AS (SELECT g.gram, (c.doc_id = c.cluster_id) AS kept
         |      FROM g JOIN clusters c USING (doc_id)),
         |k AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |      FROM clusters)
         |SELECT n_docs, n_kept,
         |       CAST(count(DISTINCT gram) AS BIGINT) AS grams_all,
         |       CAST(count(DISTINCT CASE WHEN kept THEN gram END) AS BIGINT) AS grams_kept,
         |       CAST(count(DISTINCT CASE WHEN kept THEN gram END) * 1000000
         |            // count(DISTINCT gram) AS BIGINT) AS retained_micros
         |FROM j CROSS JOIN k GROUP BY n_docs, n_kept""".stripMargin,
    // occurrence tf over rawtoks, df/N as aggregates of the (doc,
    // word) relation, quantized-ln idf, per-doc rank <= 3
    "q241_doc_keywords" ->
      s"""WITH $rawtoksCte,
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |       FROM rawtoks GROUP BY 1, 2),
         |dfc AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
         |s AS (SELECT doc_id, word, tf,
         |             tf * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) * 1e6) AS BIGINT) AS score_q
         |      FROM tf JOIN dfc USING (word) CROSS JOIN nd),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |               ORDER BY score_q DESC, word) AS rk FROM s)
         |SELECT doc_id, word, tf, score_q FROM r WHERE rk <= 3
         |ORDER BY doc_id, score_q DESC, word""".stripMargin,
    // bounded-histogram CDF per source joined back row-locally; the
    // oracle states the same histogram transform
    "q242_quantile_normalize" ->
      """WITH h AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1, 2),
        |cdf AS (SELECT source, v,
        |               CAST(sum(c) OVER (PARTITION BY source ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
        |                 // sum(c) OVER (PARTITION BY source) AS BIGINT) AS cdf_micros
        |        FROM h)
        |SELECT doc_id, documents.source AS source, n_chars, cdf_micros
        |FROM documents JOIN cdf ON documents.source = cdf.source
        |                       AND documents.n_chars = cdf.v
        |ORDER BY doc_id""".stripMargin,
    // the q54 session CTEs (4 h gap) + three min-anchored steps with
    // strict > chaining; ties at the same µs do not convert
    "q243_funnel_conversion" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS eus,
        |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |              WHEN ts - lag(ts) OVER w > INTERVAL '240 minutes' THEN 1
        |              ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_type, eus,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM t),
        |s1 AS (SELECT user_id, sess_id, min(eus) AS t1 FROM s
        |       WHERE event_type = 'view' GROUP BY 1, 2),
        |s2 AS (SELECT s.user_id, s.sess_id, min(eus) AS t2
        |       FROM s JOIN s1 USING (user_id, sess_id)
        |       WHERE event_type = 'click' AND eus > t1 GROUP BY 1, 2),
        |s3 AS (SELECT s.user_id, s.sess_id, min(eus) AS t3
        |       FROM s JOIN s2 USING (user_id, sess_id)
        |       WHERE event_type = 'purchase' AND eus > t2 GROUP BY 1, 2),
        |u AS (SELECT DISTINCT user_id, sess_id FROM s)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |       CAST(sum(CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        |       CAST(sum(CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
        |       CAST(sum(CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS conv_micros
        |FROM u LEFT JOIN s1 USING (user_id, sess_id)
        |       LEFT JOIN s2 USING (user_id, sess_id)
        |       LEFT JOIN s3 USING (user_id, sess_id)""".stripMargin,
    // epoch-aligned hopping assignment: start = floor(eus/slide)*slide
    // - k*slide for k in {0,1}; every event in exactly 2 windows
    "q244_hopping_windows" ->
      """WITH e AS (SELECT epoch_us(ts) AS eus, event_type,
        |                  CAST(floor(value * 1e6) AS BIGINT) AS v_q
        |           FROM events),
        |w AS (SELECT event_type, v_q,
        |             (eus // 10800000000) * 10800000000 - k * 10800000000 AS ws
        |      FROM e CROSS JOIN (SELECT unnest(range(0, 2)) AS k))
        |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H') AS win_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(v_q) AS BIGINT) AS sum_v_q
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the q54 session CTEs (4 h gap) + one (user, session) window for
    // position / running-min / lag, all at the shared µs grain
    "q245_session_features" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS eus,
        |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |              WHEN ts - lag(ts) OVER w > INTERVAL '240 minutes' THEN 1
        |              ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, eus,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM t)
        |SELECT user_id, event_id, CAST(sess_id AS BIGINT) AS sess_id,
        |       CAST(row_number() OVER w2 AS INT) AS idx_in_sess,
        |       CAST(eus - min(eus) OVER (PARTITION BY user_id, sess_id
        |         ORDER BY eus, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS us_into_sess,
        |       CAST(eus - lag(eus) OVER w2 AS BIGINT) AS us_since_prev
        |FROM s
        |WINDOW w2 AS (PARTITION BY user_id, sess_id ORDER BY eus, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    // exact cents via floor(p*100 + 0.5) (identical float64 text both
    // engines), first digit from the BIGINT's decimal string,
    // quantized-ln Benford expectation
    "q246_benford_audit" ->
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS d
        |      FROM c WHERE cents > 0),
        |g AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
        |SELECT d, n, CAST(n * 1000000 // total AS BIGINT) AS share_micros,
        |       CAST(floor(ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) * 1e6) AS BIGINT) AS benford_micros,
        |       CAST(abs(n * 1000000 // total
        |            - CAST(floor(ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) * 1e6) AS BIGINT)) AS BIGINT) AS gap_micros
        |FROM g CROSS JOIN t ORDER BY d""".stripMargin,
    // the q239 bigram relation -> 2x2 contingency, four quantized-ln
    // terms (zero cells contribute zero), 2x the k-weighted sum
    "q247_g2_collocations" ->
      s"""WITH $ordtoksCte,
         |p AS (SELECT ws[i] AS w1, ws[i+1] AS w2
         |      FROM (SELECT ws, unnest(range(1, len(ws))) AS i
         |            FROM ordtoks WHERE len(ws) >= 2)),
         |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM p GROUP BY 1, 2),
         |m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
         |m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c GROUP BY 1),
         |nb AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM c),
         |j AS (SELECT w1, w2, c12, c1, c2, nb
         |      FROM c JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN nb
         |      WHERE c12 >= 5)
         |SELECT w1, w2, c12,
         |  2 * (CASE WHEN c12 > 0 THEN c12 *
         |         CAST(floor(ln(CAST(c12 * nb AS DOUBLE) / CAST(c1 * c2 AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END
         |     + CASE WHEN c1 - c12 > 0 THEN (c1 - c12) *
         |         CAST(floor(ln(CAST((c1 - c12) * nb AS DOUBLE) / CAST(c1 * (nb - c2) AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END
         |     + CASE WHEN c2 - c12 > 0 THEN (c2 - c12) *
         |         CAST(floor(ln(CAST((c2 - c12) * nb AS DOUBLE) / CAST((nb - c1) * c2 AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END
         |     + CASE WHEN nb - c1 - c2 + c12 > 0 THEN (nb - c1 - c2 + c12) *
         |         CAST(floor(ln(CAST((nb - c1 - c2 + c12) * nb AS DOUBLE) / CAST((nb - c1) * (nb - c2) AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END
         |    ) AS g2_q
         |FROM j ORDER BY g2_q DESC, w1, w2 LIMIT 50""".stripMargin,
    // q187's entropy convention at the user grain: per-(user, type)
    // (c/t)*ln(c/t) floor-quantized at 1e-9 before the user fold
    "q248_user_entropy" ->
      """WITH tc AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |            FROM events GROUP BY 1, 2),
        |tot AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS t,
        |               CAST(count(*) AS BIGINT) AS n_types
        |        FROM tc GROUP BY 1)
        |SELECT user_id, t AS n_events, n_types,
        |       CAST(-sum(CAST(floor((CAST(c AS DOUBLE) / t)
        |         * ln(CAST(c AS DOUBLE) / t) * 1e9) AS BIGINT)) AS BIGINT) AS entropy_q
        |FROM tc JOIN tot USING (user_id)
        |GROUP BY user_id, t, n_types ORDER BY user_id""".stripMargin,
    // first-appearance bucket per word from the one token pass;
    // cumulative docs/tokens/vocab over the bucket axis
    "q249_vocab_growth" ->
      s"""WITH $rawtoksCte,
         |tk AS (SELECT doc_id, word, doc_id // 50 AS bucket FROM rawtoks),
         |fs AS (SELECT b AS bucket, CAST(count(*) AS BIGINT) AS nw
         |       FROM (SELECT word, min(bucket) AS b FROM tk GROUP BY 1)
         |       GROUP BY 1),
         |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens,
         |              CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |       FROM tk GROUP BY 1)
         |SELECT bucket,
         |       CAST(sum(n_docs) OVER win AS BIGINT) AS docs_cum,
         |       CAST(sum(n_tokens) OVER win AS BIGINT) AS tokens_cum,
         |       CAST(sum(coalesce(nw, 0)) OVER win AS BIGINT) AS vocab_cum
         |FROM pb LEFT JOIN fs USING (bucket)
         |WINDOW win AS (ORDER BY bucket
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY bucket""".stripMargin,
    // rank-weighted block sums over the per-source value histogram;
    // Gini numerator 2S - (n+1)T is nonnegative, one floor division
    "q250_length_gini" ->
      """WITH h AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1, 2),
        |cu AS (SELECT source, v, c,
        |              sum(c) OVER (PARTITION BY source ORDER BY v
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM h),
        |s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |             CAST(sum(c * v) AS BIGINT) AS total_chars,
        |             CAST(sum(v * (c * (cum - c) + c * (c + 1) // 2)) AS BIGINT) AS s_rank
        |      FROM cu GROUP BY 1)
        |SELECT source, n_docs, total_chars,
        |       CAST((2 * s_rank - (n_docs + 1) * total_chars) * 1000000
        |            // (n_docs * total_chars) AS BIGINT) AS gini_micros
        |FROM s ORDER BY source""".stripMargin,
    // the shared LSH edge CTEs joined to sources, zero-filled over
    // the unordered source-pair universe
    "q251_neardup_sources" ->
      s"""WITH $lshEdgeCtes,
         |e AS (SELECT least(sa.source, sb.source) AS src_a,
         |             greatest(sa.source, sb.source) AS src_b
         |      FROM edges JOIN documents sa ON doc_a = sa.doc_id
         |                 JOIN documents sb ON doc_b = sb.doc_id),
         |obs AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
         |        FROM e GROUP BY 1, 2),
         |s AS (SELECT DISTINCT source FROM documents),
         |u AS (SELECT a.source AS src_a, b.source AS src_b
         |      FROM s a JOIN s b ON a.source <= b.source)
         |SELECT u.src_a, u.src_b,
         |       CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs
         |FROM u LEFT JOIN obs ON u.src_a = obs.src_a AND u.src_b = obs.src_b
         |ORDER BY u.src_a, u.src_b""".stripMargin,
    // distinct (source, word) sets -> word-keyed pair counts ->
    // exact Jaccard micros, zero-filled pair universe built from ALL
    // sources in documents (all-empty sources ride with nv = 0, the
    // q236/q251 total-universe contract; empty-empty pairs read 0)
    "q252_vocab_overlap" ->
      """WITH sw AS (
        |  SELECT DISTINCT source,
        |         lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) AS word
        |  FROM (SELECT source, unnest(string_split_regex(text, '\s+')) AS w
        |        FROM documents)
        |  WHERE lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) <> ''),
        |sz AS (SELECT d.source, CAST(coalesce(c.nv, 0) AS BIGINT) AS nv
        |       FROM (SELECT DISTINCT source FROM documents) d
        |       LEFT JOIN (SELECT source, count(*) AS nv FROM sw GROUP BY 1) c
        |       USING (source)),
        |obs AS (SELECT a.source AS src_a, b.source AS src_b,
        |               CAST(count(*) AS BIGINT) AS n_common
        |        FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
        |        GROUP BY 1, 2),
        |u AS (SELECT a.source AS src_a, a.nv AS n_a, b.source AS src_b, b.nv AS n_b
        |      FROM sz a JOIN sz b ON a.source < b.source)
        |SELECT src_a, src_b, n_a, n_b,
        |       CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
        |       CAST(CASE WHEN n_a + n_b - coalesce(n_common, 0) = 0 THEN 0
        |            ELSE coalesce(n_common, 0) * 1000000
        |                 // (n_a + n_b - coalesce(n_common, 0)) END AS BIGINT)
        |         AS jaccard_micros
        |FROM u LEFT JOIN obs USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin,
    // q243's anchor chain -> second-binned latency histogram -> the
    // q129 boundary rule (min bin with 100*cum >= p*n) + exact mean
    "q253_conversion_latency" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS eus,
        |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |              WHEN ts - lag(ts) OVER w > INTERVAL '240 minutes' THEN 1
        |              ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_type, eus,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM t),
        |s1 AS (SELECT user_id, sess_id, min(eus) AS t1 FROM s
        |       WHERE event_type = 'view' GROUP BY 1, 2),
        |s2 AS (SELECT s.user_id, s.sess_id, t1, min(eus) AS t2
        |       FROM s JOIN s1 USING (user_id, sess_id)
        |       WHERE event_type = 'click' AND eus > t1 GROUP BY 1, 2, 3),
        |s3 AS (SELECT s.user_id, s.sess_id, t1, min(eus) AS t3
        |       FROM s JOIN s2 USING (user_id, sess_id)
        |       WHERE event_type = 'purchase' AND eus > t2 GROUP BY 1, 2, 3),
        |lat AS (SELECT t3 - t1 AS lat_us, (t3 - t1) // 1000000 AS bin FROM s3),
        |h AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
        |             CAST(sum(lat_us) AS BIGINT) AS sum_us
        |      FROM lat GROUP BY 1),
        |c AS (SELECT bin, cnt,
        |             sum(cnt) OVER (ORDER BY bin
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |             sum(cnt) OVER () AS n, sum(sum_us) OVER () AS tot_us
        |      FROM h)
        |SELECT CAST(n AS BIGINT) AS n_conversions,
        |       CAST(tot_us // n AS BIGINT) AS mean_us,
        |       CAST(min(CASE WHEN cum * 100 >= n * 50 THEN bin END) AS BIGINT) AS p50_s,
        |       CAST(min(CASE WHEN cum * 100 >= n * 90 THEN bin END) AS BIGINT) AS p90_s
        |FROM c GROUP BY n, tot_us""".stripMargin,
    // epoch-day mod 7 (dow 0 = Thursday, documented), exact chi2
    // rescale (7*o - n)^2 / (7*n) in micros; week-pmod-first so the
    // spelling is total over signed epochs (mirrors the Spark side)
    "q254_weekday_audit" ->
      """WITH d AS (SELECT ((epoch_us(o_orderdate) % 604800000000 + 604800000000)
        |                   % 604800000000) // 86400000000 AS dow
        |           FROM orders),
        |g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_orders FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n FROM g)
        |SELECT dow, n_orders,
        |       CAST(n_orders * 1000000 // n AS BIGINT) AS share_micros,
        |       CAST((7 * n_orders - n) * (7 * n_orders - n) * 1000000
        |            // (7 * n) AS BIGINT) AS chi2_term_q
        |FROM g CROSS JOIN t ORDER BY dow""".stripMargin,
    // multi-file gzip JSONL round trip — same content gate as
    // q196/q208/q222, oracle reads the parquet original
    "q255_gz_source" -> docProfileOracle,
    // generation diff replayed from the corpus: v0 = the even-doc
    // index (the q183 artifact's retained generation 0), now = the
    // full index; FULL OUTER on word + the change classification
    "q258_version_diff" ->
      s"""WITH t0 AS (
         |  SELECT DISTINCT doc_id,
         |         lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) AS word
         |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
         |        FROM documents WHERE doc_id % 2 = 0)
         |  WHERE lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) <> ''),
         |d0 AS (SELECT word, CAST(count(*) AS BIGINT) AS df_v0 FROM t0 GROUP BY 1),
         |$toksCte,
         |dn AS (SELECT word, CAST(count(*) AS BIGINT) AS df_now FROM toks GROUP BY 1)
         |SELECT word,
         |       CAST(coalesce(df_v0, 0) AS BIGINT) AS df_v0,
         |       CAST(coalesce(df_now, 0) AS BIGINT) AS df_now,
         |       CASE WHEN df_v0 IS NULL THEN 'added'
         |            WHEN df_now IS NULL THEN 'removed'
         |            WHEN df_now > df_v0 THEN 'grown'
         |            WHEN df_now < df_v0 THEN 'shrunk'
         |            ELSE 'same' END AS change
         |FROM d0 FULL OUTER JOIN dn USING (word)
         |ORDER BY word""".stripMargin,
    // closure labels + keep-longest argmax replayed as a row_number
    // window (the hash gates max_by-struct ≡ the windowed rule)
    "q260_cluster_keep_best" ->
      s"""WITH RECURSIVE $clusterReachCtes,
         |lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |sz AS (SELECT lab.doc_id, cluster_id, n_chars
         |       FROM lab JOIN documents USING (doc_id)),
         |k AS (SELECT cluster_id, doc_id AS keep_id FROM (
         |        SELECT cluster_id, doc_id,
         |               row_number() OVER (PARTITION BY cluster_id
         |                 ORDER BY n_chars DESC, doc_id) AS rk
         |        FROM sz)
         |      WHERE rk = 1)
         |SELECT s.doc_id, s.cluster_id, k.keep_id,
         |       s.doc_id = k.keep_id AS is_kept
         |FROM sz s JOIN k USING (cluster_id)
         |ORDER BY s.doc_id""".stripMargin,
    // the interior pair replayed from the corpus quarters: gen 1 =
    // index(Q0∪Q1); gen 2 = index(Q0∪Q1∪Q2) minus t-words, with
    // Q0-present s-words rewound to their Q0-only df (the matched-only
    // MERGE); FULL OUTER on word + the shared classification
    "q261_interior_version_diff" ->
      s"""WITH t AS (
         |  SELECT DISTINCT doc_id,
         |         lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) AS word
         |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
         |        FROM documents)
         |  WHERE lower(regexp_replace(w, '[^A-Za-z]', '', 'g')) <> ''),
         |g1 AS (SELECT word, CAST(count(*) AS BIGINT) AS df_v0 FROM t
         |       WHERE doc_id % 4 <= 1 AND word NOT LIKE 'a%' GROUP BY 1),
         |q0 AS (SELECT word, CAST(count(*) AS BIGINT) AS df0 FROM t
         |       WHERE doc_id % 4 = 0 GROUP BY 1),
         |q01 AS (SELECT word, CAST(count(*) AS BIGINT) AS df01 FROM t
         |        WHERE doc_id % 4 <= 1 GROUP BY 1),
         |q2 AS (SELECT word, CAST(count(*) AS BIGINT) AS df2 FROM t
         |       WHERE doc_id % 4 = 2 GROUP BY 1),
         |u3 AS (SELECT word, CAST(count(*) AS BIGINT) AS dfu FROM t
         |       WHERE doc_id % 4 <= 2 GROUP BY 1),
         |g2 AS (SELECT u3.word,
         |              CASE WHEN u3.word LIKE 'a%' THEN q2.df2
         |                   WHEN u3.word LIKE 's%' AND q0.word IS NOT NULL
         |                     THEN q0.df0
         |                   WHEN u3.word LIKE 'w%' AND q01.word IS NOT NULL
         |                     THEN q01.df01
         |                   ELSE u3.dfu END AS df_now
         |       FROM u3 LEFT JOIN q0 USING (word)
         |            LEFT JOIN q01 USING (word)
         |            LEFT JOIN q2 USING (word)
         |       WHERE u3.word NOT LIKE 't%'
         |         AND NOT (u3.word LIKE 'a%' AND q2.word IS NULL))
         |SELECT word,
         |       CAST(coalesce(df_v0, 0) AS BIGINT) AS df_v0,
         |       CAST(coalesce(df_now, 0) AS BIGINT) AS df_now,
         |       CASE WHEN df_v0 IS NULL THEN 'added'
         |            WHEN df_now IS NULL THEN 'removed'
         |            WHEN df_now > df_v0 THEN 'grown'
         |            WHEN df_now < df_v0 THEN 'shrunk'
         |            ELSE 'same' END AS change
         |FROM g1 FULL OUTER JOIN g2 USING (word)
         |ORDER BY word""".stripMargin,
    // the q22 candidate chain + exact intersects, with containment of
    // the smaller side beside jaccard — both in integer micros
    "q266_containment_audit" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |$setsCte,
         |x AS (SELECT doc_a, doc_b, a.n AS n_a, b.n AS n_b,
         |             CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter
         |      FROM cand JOIN sets a ON doc_a = a.doc_id
         |                JOIN sets b ON doc_b = b.doc_id)
         |SELECT doc_a, doc_b, n_a, n_b, inter,
         |       CAST(inter * 1000000 // (n_a + n_b - inter) AS BIGINT) AS jaccard_micros,
         |       CAST(inter * 1000000 // least(n_a, n_b) AS BIGINT) AS cont_small_micros,
         |       inter * 1000000 // least(n_a, n_b) >= 900000
         |         AND inter * 1000000 // (n_a + n_b - inter) < 950000 AS is_excerpt
         |FROM x
         |WHERE inter * 1000000 // least(n_a, n_b) >= 900000
         |ORDER BY doc_a, doc_b""".stripMargin,
    // reference slice → smoothed bigram model → every doc scored with
    // OOV handling; (−Σ) // n stays in positive floor territory; docs
    // without bigrams verdict FALSE with a null score
    "q265_ref_lm_filter" ->
      s"""WITH $ordtoksCte,
         |p AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
         |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
         |            FROM ordtoks WHERE len(ws) >= 2)),
         |ref AS (SELECT p.* FROM p JOIN documents USING (doc_id)
         |        WHERE lang = 'en'),
         |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |      FROM ref GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM c),
         |j AS (SELECT p.doc_id,
         |             CASE WHEN c1.c1 IS NOT NULL THEN
         |               CAST(floor(ln(CAST(coalesce(c.c12, 0) + 1 AS DOUBLE) /
         |                             CAST(c1.c1 + v.v + 1 AS DOUBLE)) * 1e6)
         |                 AS BIGINT)
         |             ELSE
         |               CAST(floor(ln(1.0 / CAST(v.v + 1 AS DOUBLE)) * 1e6)
         |                 AS BIGINT)
         |             END AS lp_q
         |      FROM p LEFT JOIN c USING (w1, w2)
         |             LEFT JOIN c1 USING (w1)
         |             CROSS JOIN v),
         |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |             CAST(sum(lp_q) AS BIGINT) AS sl
         |      FROM j GROUP BY 1)
         |SELECT d.doc_id, d.lang,
         |       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |       CASE WHEN s.n_bigrams > 0
         |            THEN CAST((-s.sl) // s.n_bigrams AS BIGINT)
         |       END AS nll_mean_micros,
         |       coalesce(CASE WHEN s.n_bigrams > 0
         |                     THEN (-s.sl) // s.n_bigrams <= 7000000 END,
         |                FALSE) AS keep
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // the q266 chain with the q195 winnow candidates UNIONED in
    // (provenance flags from a max over the union), same exact
    // token-set verify — the oracle replays BOTH candidate
    // generations, so the hash gates the widened recall itself
    "q267_containment_recall" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |lshcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |            FROM bands a JOIN bands b
         |              ON a.band = b.band AND a.key = b.key
         |                 AND a.doc_id < b.doc_id),
         |g AS (
         |  SELECT doc_id, CAST(len(text) AS BIGINT) AS tlen, p,
         |         ${polyHashSql("substr(text, CAST(p AS INT), 8)")} AS h
         |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS p
         |        FROM documents WHERE len(text) >= 11)),
         |prints AS (
         |  SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id, p, tlen,
         |           min(h) OVER (PARTITION BY doc_id ORDER BY p
         |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |    FROM g) WHERE p <= tlen - 10),
         |kept AS (
         |  SELECT doc_id, fp FROM prints
         |  WHERE fp IN (SELECT fp FROM prints GROUP BY fp
         |               HAVING count(*) BETWEEN 2 AND 10)),
         |wincand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM kept a JOIN kept b
         |    ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |cand AS (
         |  SELECT doc_a, doc_b, CAST(max(vl) AS BIGINT) AS vl,
         |         CAST(max(vw) AS BIGINT) AS vw
         |  FROM (SELECT doc_a, doc_b, 1 AS vl, 0 AS vw FROM lshcand
         |        UNION ALL
         |        SELECT doc_a, doc_b, 0 AS vl, 1 AS vw FROM wincand)
         |  GROUP BY 1, 2),
         |$setsCte,
         |x AS (SELECT doc_a, doc_b, vl, vw, a.n AS n_a, b.n AS n_b,
         |             CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter
         |      FROM cand JOIN sets a ON doc_a = a.doc_id
         |                JOIN sets b ON doc_b = b.doc_id)
         |SELECT doc_a, doc_b, n_a, n_b, inter,
         |       CAST(inter * 1000000 // (n_a + n_b - inter) AS BIGINT) AS jaccard_micros,
         |       CAST(inter * 1000000 // least(n_a, n_b) AS BIGINT) AS cont_small_micros,
         |       inter * 1000000 // least(n_a, n_b) >= 900000
         |         AND inter * 1000000 // (n_a + n_b - inter) < 950000 AS is_excerpt,
         |       vl = 1 AS via_lsh, vw = 1 AS via_winnow
         |FROM x
         |WHERE inter * 1000000 // least(n_a, n_b) >= 900000
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the q265 model replayed verbatim, then the held-out (q45 val)
    // scoreable docs bucket by NLL and accumulate keep rates — the
    // calibration curve, all-integer micros
    "q268_ref_lm_calibration" ->
      s"""WITH $ordtoksCte,
         |p AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
         |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
         |            FROM ordtoks WHERE len(ws) >= 2)),
         |ref AS (SELECT p.* FROM p JOIN documents USING (doc_id)
         |        WHERE lang = 'en'),
         |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |      FROM ref GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM c),
         |j AS (SELECT p.doc_id,
         |             CASE WHEN c1.c1 IS NOT NULL THEN
         |               CAST(floor(ln(CAST(coalesce(c.c12, 0) + 1 AS DOUBLE) /
         |                             CAST(c1.c1 + v.v + 1 AS DOUBLE)) * 1e6)
         |                 AS BIGINT)
         |             ELSE
         |               CAST(floor(ln(1.0 / CAST(v.v + 1 AS DOUBLE)) * 1e6)
         |                 AS BIGINT)
         |             END AS lp_q
         |      FROM p LEFT JOIN c USING (w1, w2)
         |             LEFT JOIN c1 USING (w1)
         |             CROSS JOIN v),
         |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |             CAST(sum(lp_q) AS BIGINT) AS sl
         |      FROM j GROUP BY 1),
         |held AS (SELECT d.doc_id, d.lang,
         |                CAST((-s.sl) // s.n_bigrams AS BIGINT) AS nll
         |         FROM documents d JOIN s USING (doc_id)
         |         WHERE s.n_bigrams > 0
         |           AND ${polyHashSql("CAST(d.doc_id AS VARCHAR)")} % 100 >= 90),
         |per AS (SELECT nll // 100000 AS bkt,
         |               CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |                 AS BIGINT) AS n_ref
         |        FROM held GROUP BY 1),
         |cum AS (SELECT bkt, n_docs, n_ref,
         |               CAST(sum(n_docs) OVER w AS BIGINT) AS kept,
         |               CAST(sum(n_ref) OVER w AS BIGINT) AS kept_ref,
         |               CAST(sum(n_docs) OVER () AS BIGINT) AS nn,
         |               CAST(sum(n_ref) OVER () AS BIGINT) AS rr
         |        FROM per
         |        WINDOW w AS (ORDER BY bkt
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT bkt, n_docs, n_ref, kept, kept_ref,
         |       CASE WHEN nn = 0 THEN 1000000
         |            ELSE CAST(kept * 1000000 // nn AS BIGINT)
         |       END AS keep_rate_micros,
         |       CASE WHEN rr = 0 THEN 1000000
         |            ELSE CAST(kept_ref * 1000000 // rr AS BIGINT)
         |       END AS ref_keep_rate_micros,
         |       CASE WHEN nn - rr = 0 THEN 1000000
         |            ELSE CAST((kept - kept_ref) * 1000000 // (nn - rr) AS BIGINT)
         |       END AS nonref_keep_rate_micros
         |FROM cum ORDER BY bkt""".stripMargin,
    // the stored-side (id < 250) closure + keep-best keeper, the q90
    // cross-boundary verified matches folded to min stored label (the
    // streaming gate's assignment rule), and the q262 struct-key
    // upgrade predicate — replayed end to end
    "q269_keeper_upgrades" ->
      s"""WITH RECURSIVE $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |$setsCte,
         |scand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.key = b.key
         |           AND a.doc_id < b.doc_id AND b.doc_id < 250),
         |sedges AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |           ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |    FROM scand JOIN sets a ON doc_a = a.doc_id
         |               JOIN sets b ON doc_b = b.doc_id)
         |  WHERE jaccard >= 0.95),
         |ssym AS (SELECT doc_a AS u, doc_b AS v FROM sedges
         |         UNION ALL SELECT doc_b, doc_a FROM sedges),
         |sreach(u, v) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 250
         |  UNION
         |  SELECT r.u, s.v FROM sreach r JOIN ssym s ON r.v = s.u),
         |lab AS (SELECT u AS doc_id, min(v) AS cluster_id
         |        FROM sreach GROUP BY u),
         |sz AS (SELECT lab.doc_id, cluster_id, n_chars
         |       FROM lab JOIN documents USING (doc_id)),
         |k AS (SELECT cluster_id, doc_id AS keep_id,
         |             n_chars AS n_chars_kept FROM (
         |        SELECT cluster_id, doc_id, n_chars,
         |               row_number() OVER (PARTITION BY cluster_id
         |                 ORDER BY n_chars DESC, doc_id) AS rk
         |        FROM sz) WHERE rk = 1),
         |xcand AS (SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.key = b.key
         |           AND a.doc_id >= 250 AND b.doc_id < 250),
         |xm AS (SELECT doc_new, doc_old FROM (
         |         SELECT doc_new, doc_old,
         |                ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |         FROM xcand JOIN sets a ON doc_new = a.doc_id
         |                    JOIN sets b ON doc_old = b.doc_id)
         |       WHERE jaccard >= 0.95),
         |asg AS (SELECT doc_new, min(cluster_id) AS cluster_id
         |        FROM xm JOIN lab ON xm.doc_old = lab.doc_id
         |        GROUP BY doc_new)
         |SELECT asg.cluster_id, k.keep_id AS old_keep_id,
         |       asg.doc_new AS new_keep_id,
         |       CAST(k.n_chars_kept AS BIGINT) AS n_chars_old,
         |       CAST(d.n_chars AS BIGINT) AS n_chars_new
         |FROM asg JOIN k USING (cluster_id)
         |         JOIN documents d ON d.doc_id = asg.doc_new
         |WHERE d.n_chars > k.n_chars_kept
         |   OR (d.n_chars = k.n_chars_kept AND asg.doc_new < k.keep_id)
         |ORDER BY cluster_id, new_keep_id""".stripMargin,
    // the q269 stored-closure + cross-match chain, folded per arrival
    // to its DISTINCT matched stored clusters: >=2 proves a pending
    // merge — min label is where the arrival goes, the rest will be
    // absorbed at the next batch commit
    "q275_merge_pending" ->
      s"""WITH RECURSIVE $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |$setsCte,
         |scand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.key = b.key
         |           AND a.doc_id < b.doc_id AND b.doc_id < 250),
         |sedges AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |           ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |    FROM scand JOIN sets a ON doc_a = a.doc_id
         |               JOIN sets b ON doc_b = b.doc_id)
         |  WHERE jaccard >= 0.95),
         |ssym AS (SELECT doc_a AS u, doc_b AS v FROM sedges
         |         UNION ALL SELECT doc_b, doc_a FROM sedges),
         |sreach(u, v) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 250
         |  UNION
         |  SELECT r.u, s.v FROM sreach r JOIN ssym s ON r.v = s.u),
         |lab AS (SELECT u AS doc_id, min(v) AS cluster_id
         |        FROM sreach GROUP BY u),
         |xcand AS (SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.key = b.key
         |           AND a.doc_id >= 250 AND b.doc_id < 250),
         |xm AS (SELECT doc_new, doc_old FROM (
         |         SELECT doc_new, doc_old,
         |                ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |         FROM xcand JOIN sets a ON doc_new = a.doc_id
         |                    JOIN sets b ON doc_old = b.doc_id)
         |       WHERE jaccard >= 0.95),
         |matched AS (SELECT DISTINCT xm.doc_new, lab.cluster_id
         |            FROM xm JOIN lab ON xm.doc_old = lab.doc_id),
         |multi AS (SELECT doc_new, min(cluster_id) AS merge_into
         |          FROM matched GROUP BY doc_new HAVING count(*) >= 2)
         |SELECT CAST(m.cluster_id AS BIGINT) AS cluster_id,
         |       CAST(mu.merge_into AS BIGINT) AS merge_into,
         |       CAST(mu.doc_new AS BIGINT) AS witness_id
         |FROM matched m JOIN multi mu USING (doc_new)
         |WHERE m.cluster_id <> mu.merge_into
         |ORDER BY 1, 2, 3""".stripMargin,
    // the q91 signature/block chain with the exact token-set Jaccard
    // folded per Hamming distance of each block-collision pair
    "q276_simhash_calibration" ->
      // the bounded audit slice (stride = ceil(n/target), identity at
      // oracle corpus sizes) is mirrored exactly: same integer stride,
      // same doc_id modulus — Dedup.boundedAuditSlice. The target is
      // the SHARED constant (Verify refuses to dump this oracle under
      // a non-default spark.graft.simhashCalib.targetDocs).
      s"""WITH stride AS (SELECT (count(*) + ${Dedup.SimhashCalibTargetDefault - 1}) // ${Dedup.SimhashCalibTargetDefault} AS st FROM documents),
         |docs276 AS (SELECT d.* FROM documents d, stride WHERE d.doc_id % st = 0),
         |${toksCte.replace("FROM documents)", "FROM docs276)")},
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |bits AS (SELECT doc_id, b, sum(((th >> b) & 1)*2 - 1) AS s
         |         FROM th CROSS JOIN generate_series(0, ${Hashing.SimHashBits - 1}) t(b)
         |         GROUP BY doc_id, b),
         |sh AS (SELECT doc_id,
         |              CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |       FROM bits GROUP BY doc_id),
         |blk AS (SELECT doc_id, simhash, bi,
         |               (simhash >> (bi * ${Hashing.SimHashBits / 4})) & ${(1 << (Hashing.SimHashBits / 4)) - 1} AS bv
         |        FROM sh CROSS JOIN generate_series(0, 3) t(bi)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sh_a,
         |                b.doc_id AS doc_b, b.simhash AS sh_b
         |         FROM blk a JOIN blk b
         |           ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |$setsCte,
         |x AS (SELECT CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS dist,
         |             len(list_intersect(a.ws, b.ws)) AS inter,
         |             a.n AS n_a, b.n AS n_b
         |      FROM cand JOIN sets a ON doc_a = a.doc_id
         |                JOIN sets b ON doc_b = b.doc_id),
         |y AS (SELECT dist,
         |             inter * 1000000 // (n_a + n_b - inter) AS jac_micros
         |      FROM x)
         |SELECT CAST(dist AS BIGINT) AS dist,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(jac_micros) // count(*) AS BIGINT) AS mean_jac_micros,
         |       CAST(min(jac_micros) AS BIGINT) AS min_jac_micros,
         |       CAST(max(jac_micros) AS BIGINT) AS max_jac_micros
         |FROM y GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q262 keeper chain + a per-source best-first window under the
    // quota literal — rank and verdict both emitted
    "q277_keeper_quota" ->
      s"""WITH RECURSIVE $clusterReachCtes,
         |lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |sz AS (SELECT lab.doc_id, cluster_id, n_chars
         |       FROM lab JOIN documents USING (doc_id)),
         |r AS (SELECT cluster_id, doc_id, n_chars,
         |             row_number() OVER (PARTITION BY cluster_id
         |               ORDER BY n_chars DESC, doc_id) AS rk
         |      FROM sz),
         |k AS (SELECT doc_id AS keep_id, cluster_id, n_chars AS n_chars_kept
         |      FROM r WHERE rk = 1),
         |q AS (SELECT k.keep_id, k.cluster_id, d.source,
         |             row_number() OVER (PARTITION BY d.source
         |               ORDER BY k.n_chars_kept DESC, k.keep_id) AS srk
         |      FROM k JOIN documents d ON d.doc_id = k.keep_id)
         |SELECT keep_id, cluster_id, source, CAST(srk AS BIGINT) AS rk,
         |       srk <= 10 AS admitted
         |FROM q ORDER BY source, srk""".stripMargin,
    // the q262 keeper chain joined back to every dropped member with
    // the exact doc<->keeper Jaccard off the shared sets relation
    "q278_drop_attribution" ->
      s"""WITH RECURSIVE $clusterReachCtes,
         |lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |sz AS (SELECT lab.doc_id, cluster_id, n_chars
         |       FROM lab JOIN documents USING (doc_id)),
         |r AS (SELECT cluster_id, doc_id, n_chars,
         |             row_number() OVER (PARTITION BY cluster_id
         |               ORDER BY n_chars DESC, doc_id) AS rk
         |      FROM sz),
         |k AS (SELECT doc_id AS keep_id, cluster_id FROM r WHERE rk = 1),
         |dm AS (SELECT lab.doc_id, lab.cluster_id, k.keep_id
         |       FROM lab JOIN k USING (cluster_id)
         |       WHERE lab.doc_id <> k.keep_id)
         |SELECT dm.doc_id, dm.cluster_id, dm.keep_id,
         |       CAST(len(list_intersect(a.ws, b.ws)) * 1000000
         |            // (a.n + b.n - len(list_intersect(a.ws, b.ws)))
         |         AS BIGINT) AS jac_to_keeper_micros
         |FROM dm JOIN sets a ON dm.doc_id = a.doc_id
         |        JOIN sets b ON dm.keep_id = b.doc_id
         |ORDER BY dm.doc_id""".stripMargin,
    // the label chain + keeper identity folded per source — counts,
    // distinct clusters, survivors, integer-micros drop rate
    "q279_source_dup_rate" ->
      s"""WITH RECURSIVE $clusterReachCtes,
         |lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |sz AS (SELECT lab.doc_id, cluster_id, n_chars
         |       FROM lab JOIN documents USING (doc_id)),
         |r AS (SELECT cluster_id, doc_id,
         |             row_number() OVER (PARTITION BY cluster_id
         |               ORDER BY n_chars DESC, doc_id) AS rk
         |      FROM sz),
         |k AS (SELECT doc_id FROM r WHERE rk = 1),
         |j AS (SELECT lab.doc_id, lab.cluster_id, d.source,
         |             CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_keeper
         |      FROM lab JOIN documents d USING (doc_id)
         |               LEFT JOIN k ON k.doc_id = lab.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |       CAST(sum(is_keeper) AS BIGINT) AS n_kept,
         |       CAST((count(*) - sum(is_keeper)) * 1000000 // count(*)
         |         AS BIGINT) AS drop_rate_micros
         |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // per-cluster distinct source sets, unordered pairs within each
    // cluster, counted per (source_a, source_b)
    "q280_cross_source_dups" ->
      s"""WITH RECURSIVE $clusterReachCtes,
         |lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |cs AS (SELECT DISTINCT lab.cluster_id, d.source
         |       FROM lab JOIN documents d USING (doc_id))
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_shared_clusters
         |FROM cs a JOIN cs b
         |  ON a.cluster_id = b.cluster_id AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q281_threshold_sensitivity" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |$setsCte,
         |x AS (SELECT doc_a, doc_b,
         |             len(list_intersect(a.ws, b.ws)) * 1000000
         |               // (a.n + b.n - len(list_intersect(a.ws, b.ws))) AS jac_micros
         |      FROM cand JOIN sets a ON doc_a = a.doc_id
         |                JOIN sets b ON doc_b = b.doc_id),
         |ph AS (SELECT jac_micros // 10000 AS p, count(*) AS np FROM x GROUP BY 1),
         |db AS (SELECT doc_id, max(jac_micros // 10000) AS p
         |       FROM (SELECT doc_a AS doc_id, jac_micros FROM x
         |             UNION ALL SELECT doc_b, jac_micros FROM x) GROUP BY 1),
         |dh AS (SELECT p, count(*) AS nd FROM db GROUP BY 1)
         |SELECT CAST(t AS BIGINT) AS threshold_pct,
         |       CAST(COALESCE((SELECT sum(np) FROM ph WHERE p >= t), 0) AS BIGINT) AS pairs_ge,
         |       CAST(COALESCE((SELECT sum(nd) FROM dh WHERE p >= t), 0) AS BIGINT) AS docs_touched
         |FROM generate_series(80, 100) g(t) ORDER BY 1""".stripMargin,
    "q282_cosine_sensitivity" ->
      cosineSensitivityOracle("a.bin = b.bin"),
    // q283 — identical text, the ONE changed predicate: |Δbin| ≤ 1
    // (the Spark side's adjacent-bin explode + equi-join scores the
    // same pair set exactly once; round-13 verdict #4)
    "q283_cosine_multiprobe" ->
      cosineSensitivityOracle("b.bin BETWEEN a.bin - 1 AND a.bin + 1"),
    // the q92 trained codebook + assignment replayed, folded to
    // per-cell counts, shares, and load factors — integer micros,
    // truncating division on all-positive terms
    "q270_ivf_cell_balance" ->
      s"""WITH $embCte,
         |$lloydCentsCtes,
         |asg AS (SELECT vec_id, cell FROM (
         |          SELECT e.vec_id, c.cent_id AS cell,
         |                 row_number() OVER (PARTITION BY e.vec_id
         |                   ORDER BY round(${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm), 6) DESC,
         |                            c.cent_id) AS r
         |          FROM e CROSS JOIN cents2 c) WHERE r = 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM asg)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(count(*) * 1000000 // tot AS BIGINT) AS share_micros,
         |       CAST(count(*) * 32 * 1000000 // tot AS BIGINT) AS load_micros
         |FROM asg CROSS JOIN t GROUP BY cell, tot ORDER BY cell""".stripMargin,
    // the q22 candidate chain with the per-pair signature agreement
    // counted beside the exact Jaccard, folded to estimate deciles
    "q271_minhash_calibration" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key
         |          AND a.doc_id < b.doc_id),
         |$setsCte,
         |m AS (SELECT c.doc_a, c.doc_b,
         |             CAST(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END)
         |               AS BIGINT) AS mc
         |      FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
         |                  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
         |      GROUP BY 1, 2),
         |x AS (SELECT m.mc * 1000000 // ${Hashing.NumPerms} AS est_micros,
         |             len(list_intersect(a.ws, b.ws)) AS inter,
         |             a.n AS n_a, b.n AS n_b
         |      FROM m JOIN sets a ON m.doc_a = a.doc_id
         |             JOIN sets b ON m.doc_b = b.doc_id),
         |y AS (SELECT est_micros // 100000 AS est_bucket,
         |             inter * 1000000 // (n_a + n_b - inter) AS jac_micros
         |      FROM x)
         |SELECT CAST(est_bucket AS BIGINT) AS est_bucket,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(jac_micros) // count(*) AS BIGINT) AS mean_jac_micros,
         |       CAST(min(jac_micros) AS BIGINT) AS min_jac_micros,
         |       CAST(max(jac_micros) AS BIGINT) AS max_jac_micros
         |FROM y GROUP BY 1 ORDER BY 1""".stripMargin,
    // q271's chain with the smaller-side set-size band. Thresholds are
    // DATA-DERIVED exact quartiles of the candidate nmin distribution
    // (percentile_disc via 4·cum ≥ k·N over the distinct-size relation
    // — pure integer compares, identical in both engines)
    "q274_minhash_calib_bands" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key
         |          AND a.doc_id < b.doc_id),
         |$setsCte,
         |m AS (SELECT c.doc_a, c.doc_b,
         |             CAST(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END)
         |               AS BIGINT) AS mc
         |      FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
         |                  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
         |      GROUP BY 1, 2),
         |x AS (SELECT m.mc * 1000000 // ${Hashing.NumPerms} AS est_micros,
         |             len(list_intersect(a.ws, b.ws)) AS inter,
         |             a.n AS n_a, b.n AS n_b
         |      FROM m JOIN sets a ON m.doc_a = a.doc_id
         |             JOIN sets b ON m.doc_b = b.doc_id),
         |d AS (SELECT least(n_a, n_b) AS nmin, count(*) AS cnt
         |      FROM x GROUP BY 1),
         |cu AS (SELECT nmin, sum(cnt) OVER (ORDER BY nmin) AS cum,
         |              sum(cnt) OVER () AS tot FROM d),
         |t AS (SELECT min(CASE WHEN cum*4 >= tot   THEN nmin END) AS t1,
         |             min(CASE WHEN cum*4 >= tot*2 THEN nmin END) AS t2,
         |             min(CASE WHEN cum*4 >= tot*3 THEN nmin END) AS t3
         |      FROM cu),
         |y AS (SELECT CASE WHEN least(n_a, n_b) <= t1 THEN 0
         |                  WHEN least(n_a, n_b) <= t2 THEN 1
         |                  WHEN least(n_a, n_b) <= t3 THEN 2
         |                  ELSE 3 END AS len_band,
         |             est_micros // 100000 AS est_bucket,
         |             inter * 1000000 // (n_a + n_b - inter) AS jac_micros
         |      FROM x CROSS JOIN t)
         |SELECT CAST(len_band AS BIGINT) AS len_band,
         |       CAST(est_bucket AS BIGINT) AS est_bucket,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(jac_micros) // count(*) AS BIGINT) AS mean_jac_micros,
         |       CAST(min(jac_micros) AS BIGINT) AS min_jac_micros,
         |       CAST(max(jac_micros) AS BIGINT) AS max_jac_micros
         |FROM y GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // per-lang head-rank Zipf fit replayed: rawtoks occurrence counts,
    // deterministic (c desc, word) rank, micro-quantized lns, exact
    // BIGINT sums, ONE double expression per emitted stat (int64 →
    // double conversion and each op round identically cross-engine)
    "q263_zipf_audit" ->
      s"""WITH $rawtoksCte,
         |f AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS c
         |      FROM rawtoks GROUP BY 1, 2),
         |r AS (SELECT lang, c,
         |             row_number() OVER (PARTITION BY lang
         |               ORDER BY c DESC, word) AS rnk
         |      FROM f),
         |q AS (SELECT lang,
         |             CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |             CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |      FROM r WHERE rnk <= 100),
         |s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |             CAST(sum(x * y) AS BIGINT) AS sxy,
         |             CAST(sum(x * x) AS BIGINT) AS sxx,
         |             CAST(sum(y * y) AS BIGINT) AS syy
         |      FROM q GROUP BY 1),
         |d AS (SELECT lang, n, n * sxy - sx * sy AS num,
         |             n * sxx - sx * sx AS den,
         |             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
         |               CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS syyd
         |      FROM s)
         |SELECT lang, n AS n_ranks,
         |       CASE WHEN den > 0 THEN CAST(floor(
         |         CAST(-num AS DOUBLE) * 1e6 / CAST(den AS DOUBLE)) AS BIGINT)
         |       END AS neg_slope_micros,
         |       CASE WHEN den > 0 AND syyd > 0 THEN CAST(floor(
         |         CAST(num AS DOUBLE) * CAST(num AS DOUBLE) /
         |         (CAST(den AS DOUBLE) * syyd) * 1e6) AS BIGINT)
         |       END AS r2_micros
         |FROM d ORDER BY lang""".stripMargin,
    // closure labels + the keep-longest argmax + per-cluster sums —
    // the q260 windowed rule carried into the shipped output relation
    "q262_dedup_output" -> dedupOutputOracle,
    // the merge ≡ rebuild proof for the SHIPPED keeper table: q272's
    // incremental carry+recompute must hash-match the full rebuild —
    // the oracle is q262's text VERBATIM (the q58/q202 shared-oracle
    // pattern applied to the output relation)
    // q262's text over the q272 bounded oracle slice: every read of
    // `documents` is rebound to the doc_id-prefix CTE, mirroring
    // Dedup.boundedOracleSlice(_, 2500) exactly (identity at sf0.01)
    "q272_incremental_dedup_output" -> dedupOutputOracle
      .replace("documents", "doc272")
      .replaceFirst("WITH RECURSIVE ",
        "WITH RECURSIVE doc272 AS (SELECT * FROM documents WHERE doc_id < 2500),\n"),
    // the q22 verified-edge chain + the q45 split rule: cross-split
    // edges, distinct leaked val docs, exact leak rate in micros
    "q259_split_leakage" ->
      s"""WITH $toksCte,
         |th AS (SELECT doc_id, ${polyHashSql("word")} AS th FROM toks),
         |perms(i, a, b) AS (VALUES $permsValues),
         |sig AS (SELECT doc_id, i, min((a*th + b) % ${Hashing.P}) AS minh
         |        FROM th CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // ${Hashing.RowsPerBand} AS band,
         |                 string_agg(minh::VARCHAR, '_' ORDER BY i) AS key
         |          FROM sig GROUP BY i // ${Hashing.RowsPerBand}, doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |$setsCte,
         |p AS (SELECT doc_a, doc_b FROM (
         |        SELECT doc_a, doc_b,
         |               ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
         |        FROM cand JOIN sets a ON doc_a = a.doc_id
         |                  JOIN sets b ON doc_b = b.doc_id)
         |      WHERE jaccard >= 0.95),
         |sp AS (SELECT doc_id,
         |              CASE WHEN ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 90
         |                   THEN 'train' ELSE 'val' END AS split
         |       FROM documents),
         |xe AS (SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b
         |       FROM p JOIN sp sa ON doc_a = sa.doc_id
         |              JOIN sp sb ON doc_b = sb.doc_id
         |       WHERE sa.split <> sb.split),
         |leaked AS (SELECT DISTINCT CASE WHEN split_a = 'val' THEN doc_a
         |                                ELSE doc_b END AS doc_id FROM xe),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_val_docs FROM sp
         |       WHERE split = 'val')
         |SELECT n_val_docs,
         |       (SELECT CAST(count(*) AS BIGINT) FROM xe) AS n_cross_edges,
         |       (SELECT CAST(count(*) AS BIGINT) FROM leaked) AS n_leaked_val,
         |       CAST(CASE WHEN n_val_docs = 0 THEN 0
         |            ELSE (SELECT count(*) FROM leaked) * 1000000 // n_val_docs
         |            END AS BIGINT) AS leak_micros
         |FROM nv""".stripMargin,
    // exponent-bucketed float quantiles replayed: the same log2 seed +
    // exact pow(2, e) correction (pow is exact for integral exponents
    // on both engines), the same order-preserving (sign, e, top)
    // encoding, the q129 boundary rule over the bounded bucket axis;
    // every emitted edge is a power-of-two-exact double
    "q257_float_quantiles" -> floatQuantilesOracle(
      """SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
        |           WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
        |             AND abs(o_totalprice) <> CAST('infinity' AS DOUBLE)"""
        .stripMargin),
    // the q257 machine over the fold-exact vector norms (embCte's
    // double algebra inlined) — norms are finite by construction, so
    // the domain filter is the template's
    "q264_norm_quantiles" -> floatQuantilesOracle(
      s"""SELECT sqrt(${dotSql("v", "v")}) AS x FROM (
         |             SELECT list_transform(embedding, ev -> CAST(ev AS DOUBLE)) AS v
         |             FROM embeddings)""".stripMargin),
    // the q106 recon CTEs VERBATIM (the shared-training no-drift rule)
    // + the ADC self-term distortion through the q257 template
    "q273_pq_distortion" -> floatQuantilesOracle(
      s"SELECT 1.0 - round(${dotSql("q.u", "t.rv")}, 6) AS x " +
        "FROM u q JOIN recon t ON q.vec_id = t.vec_id",
      preCtes = s"$embCte,\n$pqReconCtes"),
    // zstd-parquet round trip (the splittable compressed path)
    "q256_zstd_source" -> docProfileOracle,
    // daily-mean micros per (type, day), centered day index from a
    // partitioned window, closed-form OLS with pmod floor-divisions
    // mirrored text-for-text (slopes go negative)
    "q215_ols_trend" -> olsOracle,
    // merge == rebuild for the fit state: shared text, the hash match
    // IS the law (the q202/q206 convention applied to regression)
    "q218_incremental_ols" -> olsOracle,
    // the full chain replayed: pcaCtes (train) + projection + binning
    // + within-bin edges + recursive closure (the q93 reach pattern).
    // MATERIALIZED is load-bearing: DuckDB inlines CTEs per reference,
    // and pcaCtes under the recursive closure multiplies the parquet
    // scan into thousands of opens (measured: fd exhaustion at the
    // default limit) — pinning the four fan-out CTEs bounds it
    "q216_pca_bin_dedup" ->
      s"""WITH RECURSIVE $pcaCtes,
         |$embCte,
         |proj AS MATERIALIZED (SELECT q.vec_id, CAST(sum(q.xq * w8.w) AS BIGINT) AS proj_q
         |         FROM q JOIN w8 ON q.pos = w8.pos GROUP BY q.vec_id),
         |mm AS (SELECT CAST(min(proj_q) AS BIGINT) AS lo,
         |              CAST(max(proj_q) AS BIGINT) AS hi FROM proj),
         |binned AS MATERIALIZED (SELECT vec_id,
         |             CAST(CASE WHEN hi = lo THEN 0
         |               ELSE ((proj_q - lo) * 16) // (hi - lo + 1) END AS BIGINT) AS bin
         |           FROM proj CROSS JOIN mm),
         |eb AS MATERIALIZED (SELECT e.vec_id, e.v, e.nrm, b.bin
         |       FROM e JOIN binned b ON e.vec_id = b.vec_id),
         |edges AS (SELECT a.vec_id AS ea, b.vec_id AS eb2
         |          FROM eb a JOIN eb b ON a.bin = b.bin AND a.vec_id < b.vec_id
         |          WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4),
         |sym AS MATERIALIZED (SELECT ea AS u, eb2 AS w FROM edges
         |        UNION ALL SELECT eb2, ea FROM edges),
         |reach(u, w) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT r.u, s2.w FROM reach r JOIN sym s2 ON r.w = s2.u),
         |lab AS (SELECT u AS vec_id, min(w) AS cluster_id FROM reach GROUP BY u)
         |SELECT l.vec_id, b.bin, l.cluster_id,
         |       (l.vec_id = l.cluster_id) AS is_canonical
         |FROM lab l JOIN binned b ON l.vec_id = b.vec_id
         |ORDER BY l.vec_id""".stripMargin,
    // the fully EXPLICIT classic form of q220's sugared text: proves
    // GROUP BY ALL inferred {status, priority}, the lateral alias
    // bound to the select item, and ORDER BY ALL ordered every column
    "q220_sql_sugar" ->
      """WITH g AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM orders
        |  GROUP BY o_orderstatus, o_orderpriority)
        |SELECT o_orderstatus, o_orderpriority, n, sum_cents,
        |       sum_cents // n AS avg_cents,
        |       (sum_cents // n) * n AS floor_cents
        |FROM g
        |ORDER BY o_orderstatus, o_orderpriority, n, sum_cents, avg_cents, floor_cents""".stripMargin,
    // chi-squared replay over the SHARED q209 token/label CTEs (the
    // unreferenced model CTEs prune away): document-level 2x2
    // contingency on the train split, one double expression with
    // identical text, floor-quantized to micros after all arithmetic
    "q221_chi2_features" ->
      s"""WITH $nbCtes,
         |$chi2Ctes
         |SELECT word, df_pos, df_neg, chi2_q, pos_assoc
         |FROM chi2ranked
         |ORDER BY chi2_q DESC, word
         |LIMIT 50""".stripMargin,
    // the q221 -> q209 composition: the selection CTE feeds restricted
    // training (v = |selection|); out-of-selection tokens contribute
    // nothing at scoring, so a selection-free doc scores the prior
    "q224_nb_selected" ->
      s"""WITH $nbCtes,
         |$chi2Ctes,
         |sel AS (SELECT word FROM chi2ranked ORDER BY chi2_q DESC, word LIMIT 50),
         |tcsel AS (SELECT tc.* FROM tc JOIN sel USING (word)),
         |ct2 AS (SELECT word,
         |               CAST(sum(CASE WHEN pos THEN m ELSE 0 END) AS BIGINT) AS c_pos,
         |               CAST(sum(CASE WHEN pos THEN 0 ELSE m END) AS BIGINT) AS c_neg
         |        FROM tcsel JOIN lab USING (doc_id)
         |        WHERE doc_id % 3 <> 0 GROUP BY 1),
         |tot2 AS (SELECT CAST(sum(c_pos) AS BIGINT) AS tot_pos,
         |                CAST(sum(c_neg) AS BIGINT) AS tot_neg,
         |                CAST(count(*) AS BIGINT) AS v FROM ct2),
         |model2 AS (SELECT word,
         |       CAST(floor(ln(CAST(c_pos + 1 AS DOUBLE) / CAST(tot_pos + v AS DOUBLE)) * 1e6) AS BIGINT)
         |     - CAST(floor(ln(CAST(c_neg + 1 AS DOUBLE) / CAST(tot_neg + v AS DOUBLE)) * 1e6) AS BIGINT) AS w_q
         |           FROM ct2 CROSS JOIN tot2),
         |sc2 AS (SELECT tc.doc_id, tc.m, model2.w_q,
         |               CAST(floor(ln(CAST(n_pos AS DOUBLE) / CAST(n_neg AS DOUBLE)) * 1e6) AS BIGINT) AS pq
         |        FROM tc LEFT JOIN model2 USING (word) CROSS JOIN pri)
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN w_q IS NOT NULL THEN m ELSE 0 END) AS BIGINT) AS n_sel,
         |       CAST(max(pq) + sum(m * coalesce(w_q, 0)) AS BIGINT) AS score_q,
         |       CAST(max(pq) + sum(m * coalesce(w_q, 0)) AS BIGINT) > 0 AS pred
         |FROM sc2 GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    // the evolved two-generation read, replayed over the ORIGINAL
    // table via the generation rule: gen0 (even ids) lost `lang` to
    // the pre-evolution schema, so those rows group under '<gen0>'
    "q222_evolved_scan" ->
      s"""SELECT CASE WHEN doc_id % 2 = 0 THEN '<gen0>' ELSE lang END AS lang_slot,
         |       source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(sum(len(text)) AS BIGINT) AS sum_len,
         |       CAST(sum(${polyHashSql("text")} % 1000003) AS BIGINT) AS text_sig
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the naive length-filtered theta form (the length filter is
    // implied by ed <= 4, so it only prunes the oracle's quadratic
    // work) — a hash match proves the PassJoin blocking lost nothing
    "q217_edit_distance_join" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS ed
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 4
        |WHERE levenshtein(a.text, b.text) <= 4
        |ORDER BY 1, 2""".stripMargin,
    // the trained prototypes replayed: quantized-integer dimension
    // means per class on the seed split (the q92 centroid rule), then
    // the 6-dp cosine argmax with lowest-label tiebreak
    "q210_centroid_classify" ->
      s"""WITH ec AS (SELECT vec_id, CAST(label AS BIGINT) AS actual,
         |                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |            FROM embeddings),
         |en AS (SELECT vec_id, actual, v, sqrt(${dotSql("v", "v")}) AS nrm FROM ec),
         |dm AS (SELECT actual AS lbl, pos,
         |              CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6 AS m
         |       FROM (SELECT actual, z[2] AS pos, CAST(z[1] AS DOUBLE) AS x
         |             FROM (SELECT actual, unnest(list_zip(v, range(1, len(v) + 1))) AS z
         |                   FROM en WHERE vec_id % 3 <> 0))
         |       GROUP BY 1, 2),
         |cents AS (SELECT cent_id, cv, sqrt(${dotSql("cv", "cv")}) AS cnrm FROM (
         |            SELECT lbl AS cent_id, list(m ORDER BY pos) AS cv
         |            FROM dm GROUP BY lbl))
         |SELECT vec_id, pred, cos6, actual, pred = actual AS correct FROM (
         |  SELECT en.vec_id, c.cent_id AS pred, en.actual,
         |         round(${dotSql("en.v", "c.cv")} / (en.nrm * c.cnrm), 6) AS cos6,
         |         row_number() OVER (PARTITION BY en.vec_id
         |           ORDER BY round(${dotSql("en.v", "c.cv")} / (en.nrm * c.cnrm), 6) DESC,
         |                    c.cent_id) AS r
         |  FROM en CROSS JOIN cents c) WHERE r = 1
         |ORDER BY vec_id""".stripMargin,
    // the trained component replayed stage by stage (see pcaOracle)
    "q211_pca_component" -> pcaOracle,
    // train + apply end to end (shared pcaCtes)
    "q212_pca_project" -> pcaProjectOracle,
    // each HOF replayed with its DuckDB list twin; the quadratic term
    // quantized to a LONG per element so the fold is an exact integer
    // sum on both engines
    // five UNION ALL'd rule rows over the same null-explicit algebra;
    // a NULL flag/discount/date counts as a violation on BOTH engines
    "q201_dq_audit" ->
      """SELECT rule, n_checked, n_violations, n_violations = 0 AS pass
        |FROM (
        |  SELECT 'li_discount_range' AS rule,
        |         CAST(count(*) AS BIGINT) AS n_checked,
        |         CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
        |                        OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'li_flag_accepted',
        |         CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN l_returnflag IS NULL
        |                        OR l_returnflag NOT IN ('A','N','R')
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'li_shipdate_complete',
        |         CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'li_pk_unique',
        |         CAST(sum(c) AS BIGINT),
        |         CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL
        |  SELECT 'li_orderkey_ref',
        |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |         CAST(count(*) AS BIGINT)
        |  FROM lineitem l WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |ORDER BY rule""".stripMargin,
    // BPE loop replayed as GENERATED chained CTEs — one block per
    // round, each computing pairs → weighted argmax (cnt desc, pair
    // asc) → greedy-leftmost merge positions (odd offsets within
    // consecutive runs) → rebuilt symbol arrays; the final SELECT
    // unions the per-round argmax rows. Every round's argmax depends
    // on all previous merges, so the hash gates the whole loop.
    "q199_bpe_merges" -> bpeOracleSql(4),
    // same generated training chain; the tail joins the FINAL symbol
    // table (the encoder) back to per-doc token occurrences
    "q200_bpe_encode" -> bpeOracleSql(4, Some(
      """SELECT t.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(len(r4.syms)) AS BIGINT) AS n_bpe,
        |       CAST(sum(len(r4.syms)) AS DOUBLE) / count(*) AS expansion
        |FROM rawtoks t JOIN r4 ON t.word = r4.word
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // merge ≡ rebuild: the incremental label merge gates against the
    // from-scratch full-corpus closure VERBATIM (shared with q58)
    "q202_incremental_clusters" -> fullClusterOracle,
    // the PNG round trip recomputed text-side: dims from the byte sum
    // (q31's idiom), channel sums from the pixel formulas — r reads
    // the payload cyclically, g is affine in the pixel index, b wraps
    // their sum; the engine's numbers come from DECODED pixels, so a
    // match proves the real encode→decode chain
    "q203_png_features" ->
      """WITH m AS (
        |  SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |           (a, b) -> a + b) AS bsum
        |  FROM documents),
        |dim AS (SELECT doc_id, text, n,
        |               8 + bsum % 24 AS w, 8 + bsum % 16 AS h FROM m),
        |px AS (
        |  SELECT doc_id, w, h,
        |         CASE WHEN n = 0 THEN 0
        |              ELSE ascii(substr(text, CAST(i % n AS INT) + 1, 1)) END AS r,
        |         (i * 31 + 7) % 256 AS g
        |  FROM (SELECT doc_id, text, n, w, h, unnest(range(0, w * h)) AS i
        |        FROM dim))
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(sum(r) AS BIGINT) AS r_sum,
        |       CAST(sum(g) AS BIGINT) AS g_sum,
        |       CAST(sum((r + g) % 256) AS BIGINT) AS b_sum
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // the stored-artifact ANN probe ≡ the in-query LSH ANN (q26's
    // oracle verbatim — the shared-oracle round-trip proof)
    "q204_vector_store_ann" -> lshAnnOracle,
    // the NSW graph build replayed stage by stage (see nswGraphOracle)
    "q205_nsw_graph" -> nswGraphOracle,
    // merge ≡ rebuild for the graph: the incremental base merge must
    // reproduce the full build edge for edge (shared oracle text)
    "q206_nsw_incremental" -> nswGraphOracle,
    // same hash-derived uniform, same quantized ln-key, same top-k —
    // the sample is a deterministic function of the data, so the two
    // engines must select IDENTICAL rows
    "q198_weighted_sample" ->
      s"""SELECT doc_id, n_chars,
         |       CAST(floor(ln(CAST(${polyHashSql("CAST(doc_id AS VARCHAR)")} % 1000003 + 1 AS DOUBLE) / 1000005.0)
         |                  / n_chars * 1e9) AS BIGINT) AS key_q
         |FROM documents WHERE n_chars > 0
         |ORDER BY key_q DESC, doc_id LIMIT 50""".stripMargin,
    "q197_hof_profile" ->
      """SELECT vec_id,
        |       CAST(len(embedding) AS BIGINT) AS dim,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(embedding, x ->
        |           CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e6) AS BIGINT))),
        |         (a, b) -> a + b) AS ssq_q,
        |       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) < 0.0)) AS BIGINT) AS n_neg,
        |       len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.9)) > 0 AS has_big,
        |       len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) > 10.0)) = 0 AS bounded
        |FROM embeddings ORDER BY vec_id""".stripMargin,
  )

  /** The q124 oracle — ALSO q130's: the merge query's contract is
    * "max-merged registers ≡ a whole-table rebuild", so both map to
    * the SAME rebuild SQL (one string, provably one semantics). */
  private lazy val hllOracleSql: String = {
      val m = operators.Sketches.HllRegisters
      s"""WITH h AS (
         |  SELECT l_returnflag AS rf,
         |         (l_partkey * ${Hashing.permA(0)} + ${Hashing.permB(0)}) % ${Hashing.P} AS hh
         |  FROM lineitem),
         |rk AS (
         |  SELECT rf, hh % $m AS j,
         |         CASE WHEN hh // $m = 0 THEN ${operators.Sketches.HllMaxRank}
         |              ELSE bit_count(((hh // $m) & -(hh // $m)) - 1) + 1 END AS rank
         |  FROM h),
         |regs AS (SELECT rf, j, CAST(max(rank) AS BIGINT) AS reg
         |         FROM rk GROUP BY rf, j),
         |ex AS (SELECT l_returnflag AS rf,
         |              CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
         |       FROM lineitem GROUP BY 1),
         |grid AS (
         |  SELECT e.rf, e.n_exact, g.j, COALESCE(rg.reg, CAST(0 AS BIGINT)) AS reg
         |  FROM ex e
         |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS j FROM range(0, $m)) g
         |  LEFT JOIN regs rg ON rg.rf = e.rf AND rg.j = g.j),
         |s AS (SELECT rf,
         |             CAST(sum(CAST(1 AS BIGINT) << CAST(30 - reg AS INT)) AS BIGINT) AS hsum
         |      FROM grid GROUP BY rf)
         |SELECT g.rf AS l_returnflag, g.j, g.reg, g.n_exact,
         |       CAST(${operators.Sketches.HllEstNum} // s.hsum AS BIGINT) AS est_micros
         |FROM grid g JOIN s ON g.rf = s.rf
         |ORDER BY l_returnflag, j""".stripMargin
  }

  /** Oracle entries split out only to keep the main map under scalac's
    * method-size comfort zone; merged into [[oracleSql]]. */
  private lazy val oracleSqlTail: Map[String, String] = ListMap(
    "q125_skyline" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |         strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |  FROM orders),
        |g AS (SELECT price_c, max(order_date) AS gmax FROM o GROUP BY price_c),
        |r AS (SELECT price_c, gmax,
        |             COALESCE(max(gmax) OVER (ORDER BY price_c DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '') AS run
        |      FROM g)
        |SELECT o.o_orderkey, o.price_c, o.order_date
        |FROM o JOIN r USING (price_c)
        |WHERE o.order_date = r.gmax AND r.run < o.order_date
        |ORDER BY o_orderkey""".stripMargin,
    "q126_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer
        |  LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
        |             WHERE o_orderpriority NOT LIKE '1-%') o
        |    ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q127_table_checksum" -> {
      val rowStr = "CAST(o_orderkey AS VARCHAR) || '|' || " +
        "CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || " +
        "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' || " +
        "strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority"
      s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(${polyHashSql(rowStr)}) AS BIGINT) AS checksum
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    },
    "q128_audio_features" -> wavOracle,
    // the LIBRARY decoder (AudioSystem) against the SAME oracle text:
    // hash match proves library-decode == hand-parse == text recompute
    "q219_wav_audiosystem" -> wavOracle,
  )

  /** The q111 oracle: the q49 edge CTEs + three unrolled integer-
    * arithmetic PageRank rounds (SCALE units, `//` ≡ Spark `div` on the
    * positive operands here, damping as the exact rational 85/100). */
  /** The capped near-dup graph (edges/sym/deg) — ONE definition shared
    * by the q111 PageRank and q112 triangle oracles, so the two graph
    * queries can never disagree on the underlying edge relation. */
  private lazy val neardupGraphCtes: String =
    s"""$toksCte,
       |sets AS (
       |  SELECT doc_id, list(word) AS ws, CAST(count(*) AS BIGINT) AS n
       |  FROM toks WHERE doc_id < 1000 GROUP BY doc_id),
       |edges AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           ${jaccardSql("len(list_intersect(a.ws, b.ws))", "a.n", "b.n")} AS jaccard
       |    FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.95),
       |sym AS (SELECT doc_a AS u, doc_b AS v FROM edges
       |        UNION ALL SELECT doc_b, doc_a FROM edges),
       |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u)""".stripMargin

  /** The q112 oracle: the same degree orientation as the engine
    * (acyclic (deg, id) total order), wedge join closed by the third
    * oriented edge, corners re-aggregated per node. */
  private lazy val trianglesSql: String =
    s"""WITH $neardupGraphCtes,
       |ori AS (SELECT s.u, s.v FROM sym s
       |        JOIN deg da ON da.u = s.u JOIN deg db ON db.u = s.v
       |        WHERE da.deg < db.deg OR (da.deg = db.deg AND s.u < s.v)),
       |tw AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |       FROM ori e1 JOIN ori e2 ON e2.u = e1.v
       |       JOIN ori e3 ON e3.u = e1.u AND e3.v = e2.v),
       |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
       |         SELECT a AS node FROM tw
       |         UNION ALL SELECT b FROM tw
       |         UNION ALL SELECT c FROM tw) GROUP BY node)
       |SELECT d.u AS doc_id, d.deg, CAST(coalesce(pn.tri, 0) AS BIGINT) AS tri,
       |       CASE WHEN d.deg > 1
       |            THEN round(2.0 * coalesce(pn.tri, 0) / (d.deg * (d.deg - 1)), 6)
       |            ELSE 0.0 END AS cc
       |FROM deg d LEFT JOIN pn ON pn.node = d.u
       |ORDER BY tri DESC, doc_id""".stripMargin

  private lazy val pageRankSql: String = {
    val S = "1000000000000"
    def iter(i: Int): String =
      s"""d$i AS (SELECT CAST(coalesce(sum(p.r), 0) AS BIGINT) AS dang
         |        FROM pr$i p LEFT JOIN deg ON p.u = deg.u WHERE deg.u IS NULL),
         |i$i AS (SELECT s.v AS u, CAST(sum(p.r // deg.deg) AS BIGINT) AS inflow
         |        FROM pr$i p JOIN deg ON p.u = deg.u JOIN sym s ON s.u = p.u
         |        GROUP BY s.v),
         |pr${i + 1} AS (SELECT nodes.doc_id AS u,
         |             CAST((($S * 15) // 100) // nn
         |                  + (85 * (coalesce(i$i.inflow, 0) + d$i.dang // nn)) // 100 AS BIGINT) AS r
         |             FROM nodes CROSS JOIN cnt CROSS JOIN d$i
         |             LEFT JOIN i$i ON i$i.u = nodes.doc_id)""".stripMargin
    s"""WITH $neardupGraphCtes,
       |nodes AS (SELECT doc_id FROM documents WHERE doc_id < 1000),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
       |pr0 AS (SELECT doc_id AS u, CAST($S // nn AS BIGINT) AS r
       |        FROM nodes CROSS JOIN cnt),
       |${iter(0)},
       |${iter(1)},
       |${iter(2)}
       |SELECT u AS doc_id, r AS rank_q FROM pr3
       |ORDER BY rank_q DESC, doc_id""".stripMargin
  }

  /** The PQ training/encode/reconstruction CTE chain ending in `recon`
    * — ONE definition shared by q106 (flat ADC scan) and q107 (IVF-PQ
    * probe), the lloydCentsCtes sharing rule: the two oracles can never
    * train different PQ codebooks. Per-subspace (m) Lloyd over
    * `PqSubDim`-dim slices of the unit-normalized vectors. */
  private lazy val pqReconCtes: String = {
    val (numSubs, subDim, ksub) =
      (Similarity.PqNumSubs, Similarity.PqSubDim, Similarity.PqKsub)
    def pd(a: String, b: String) =
      s"round(${dotSql(a, a)} - 2 * ${dotSql(a, b)} + ${dotSql(b, b)}, 6)"
    def passign(out: String, cents: String) =
      s"""$out AS (SELECT vec_id, m, sv, cell FROM (
         |  SELECT s.vec_id, s.m, s.sv, c.cent_id AS cell,
         |         row_number() OVER (PARTITION BY s.vec_id, s.m
         |           ORDER BY ${pd("s.sv", "c.cv")}, c.cent_id) AS r
         |  FROM subs s JOIN $cents c ON s.m = c.m) WHERE r = 1)""".stripMargin
    def pupdate(out: String, in: String) =
      s"""$out AS (SELECT m, cell AS cent_id, list(c ORDER BY pos) AS cv FROM (
         |  SELECT m, cell, pos,
         |         CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6 AS c
         |  FROM (SELECT m, cell, z[2] AS pos, CAST(z[1] AS DOUBLE) AS x
         |        FROM (SELECT m, cell, unnest(list_zip(sv, range(1, len(sv) + 1))) AS z
         |              FROM $in))
         |  GROUP BY m, cell, pos) GROUP BY m, cell)""".stripMargin
    s"""u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM e),
       |subs AS (SELECT vec_id, m, list_slice(u, m * $subDim + 1, m * $subDim + $subDim) AS sv
       |         FROM u CROSS JOIN range($numSubs) t(m)),
       |sids AS (SELECT vec_id AS sid FROM e
       |         ORDER BY ${polyHashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $ksub),
       |pc0 AS (SELECT m, vec_id AS cent_id, sv AS cv FROM subs JOIN sids ON vec_id = sid),
       |${passign("pa1", "pc0")},
       |${pupdate("pc1", "pa1")},
       |${passign("pa2", "pc1")},
       |${pupdate("pc2", "pa2")},
       |codes AS (SELECT vec_id, m, cell AS code FROM (
       |  SELECT s.vec_id, s.m, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY s.vec_id, s.m
       |           ORDER BY ${pd("s.sv", "c.cv")}, c.cent_id) AS r
       |  FROM subs s JOIN pc2 c ON s.m = c.m) WHERE r = 1),
       |recon AS (SELECT co.vec_id, flatten(list(c.cv ORDER BY co.m)) AS rv
       |          FROM codes co JOIN pc2 c ON co.m = c.m AND co.code = c.cent_id
       |          GROUP BY co.vec_id)""".stripMargin
  }

  /** The q106 oracle: flat ADC — every query scores every recon. */
  private lazy val pqAnnSql: String =
    s"""WITH $embCte,
       |$pqReconCtes
       |SELECT vec_a, vec_b, round(adc6, 2) AS adc_sim, rnk FROM (
       |  SELECT q.vec_id AS vec_a, t.vec_id AS vec_b,
       |         round(${dotSql("q.u", "t.rv")}, 6) AS adc6,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY round(${dotSql("q.u", "t.rv")}, 6) DESC, t.vec_id) AS rnk
       |  FROM u q JOIN recon t ON q.vec_id < 20 AND q.vec_id <> t.vec_id)
       |WHERE rnk <= 3 ORDER BY vec_a, rnk, vec_b""".stripMargin

  /** The q107 oracle: q43's coarse cells (seed codebook, crnk ranking)
    * select the candidates; the shared `recon` CTE scores them (ADC). */
  private lazy val ivfPqAnnSql: String =
    s"""WITH $embCte,
       |$pqReconCtes,
       |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e
       |          ORDER BY ${polyHashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 32),
       |ranked AS (
       |  SELECT e.vec_id, c.cent_id AS cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY round(${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm), 6) DESC,
       |                    c.cent_id) AS crnk
       |  FROM e CROSS JOIN cents c),
       |pairs AS (
       |  SELECT qa.vec_id AS vec_a, rb.vec_id AS vec_b, rb.cell,
       |         round(${dotSql("uq.u", "t.rv")}, 6) AS adc6
       |  FROM ranked qa
       |  JOIN ranked rb ON qa.cell = rb.cell AND qa.vec_id <> rb.vec_id
       |  JOIN u uq ON uq.vec_id = qa.vec_id
       |  JOIN recon t ON t.vec_id = rb.vec_id
       |  WHERE qa.vec_id < 20 AND qa.crnk <= 2 AND rb.crnk = 1)
       |SELECT vec_a, vec_b, cell, round(adc6, 2) AS adc_sim, rnk FROM (
       |  SELECT vec_a, vec_b, cell, adc6,
       |         row_number() OVER (PARTITION BY vec_a
       |                            ORDER BY adc6 DESC, vec_b) AS rnk
       |  FROM pairs)
       |WHERE rnk <= 3 ORDER BY vec_a, rnk, vec_b""".stripMargin
}
