package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Cosine top-k search — the reference's core capability
    * (reference: src/core/embeddings/processor.py:436). */
  def entry(spark: SparkSession): DataFrame =
    VectorSearch.searchBruteforce(Tables(spark, "/root/testdata/sf0.001"))

  private def q(fn: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => fn(Tables(s, dir))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A-family: relational core
    "q_agg_pricing"     -> q(Relational.aggPricing),
    "q_filter_project"  -> q(Relational.filterProject),
    "q_join_broadcast"  -> q(Relational.joinBroadcast),
    "q_join_multi"      -> q(Relational.joinMulti),
    "q_join_bucketed"   -> q(graft.sources.Bucketing.joinBucketed),
    "q_topk"            -> q(Relational.topK),
    "q_window_rank"     -> q(Relational.windowRank),
    "q_distinct_agg"    -> q(Relational.distinctAgg),
    // A7b: HLL++ sketch distinct — the row computes sketch AND exact
    // and carries within_bound, so the driver gate enforces the rsd
    // bound (the approx VALUE itself can never hash cross-engine)
    "q_distinct_approx" -> q(Relational.distinctAggApprox),
    "q_semi_join"       -> q(Relational.semiJoin),
    "q_anti_join"       -> q(Relational.antiJoin),
    "q_semi_bloom"      -> q(JoinPruning.semiBloomQuery),
    "q_anti_bloom"      -> q(JoinPruning.antiBloomQuery),
    "q_scalar_subquery" -> q(Relational.scalarSubquery),
    "q_rollup"          -> q(Relational.rollupAgg),
    "q_cube"            -> q(Relational.cubeAgg),
    "q_pivot"           -> q(Relational.pivotAgg),
    "q_union_agg"       -> q(Relational.unionAgg),
    // A15: the hot-key split-and-salt join — result ≡ the plain
    // join (the oracle just joins); no reducer ever sees more than
    // ~1/S of a hot key's fact rows
    "q_join_skew"       -> q(Relational.joinSkew),
    // A16: arbitrary GROUPING SETS — two independent GROUP BYs in
    // one Expand-fed pass (the general form beyond rollup/cube)
    "q_grouping_sets"   -> q(Relational.groupingSetsAgg),
    // A17: TPC-H Q13 — LEFT OUTER fact join + null-group aggregate
    // (orders-per-customer distribution incl. the zero bucket);
    // engine pre-aggregates the fact below the outer join
    "q_join_outer"      -> q(Relational.joinOuter),
    // A18: TPC-H Q17 — correlated scalar aggregate subquery; oracle
    // keeps the literal correlated form, engine decorrelates to one
    // windowed pass over the brand-pruned fact
    "q_correlated_subquery" -> q(Relational.correlatedSubquery),
    // A19: TPC-H Q21 shape — multiple correlated EXISTS/NOT EXISTS
    // against the same fact; engine folds both into ONE aggregate
    // pass (distinct-supplier count + returned-line flag per key)
    "q_multi_exists"    -> q(Relational.multiExists),
    // A20: explicit INTERSECT/EXCEPT — declared, Catalyst rewrites
    // to distinct + semi/anti on the key
    "q_set_ops"         -> q(Relational.setOps),
    // D-family: vector search
    "q_search_bruteforce" -> q(VectorSearch.searchBruteforce),
    "q_search_filtered"   -> q(VectorSearch.searchFiltered),
    "q_search_context"    -> q(VectorSearch.searchContext),
    "q_knn_join"          -> q(VectorSearch.knnJoin),
    "q_ann_ivf"           -> q(VectorSearch.annIvf),
    "q_ivf_recall"        -> q(VectorSearch.ivfRecall),
    // D31: the dimension-truncation recall curve (Matryoshka-style
    // prefix ranking) — the zero-structure compressed-scan option
    // priced beside D22's PQ and D23's SQ8 fidelity tables
    "q_truncate_recall"   -> q(VectorSearch.truncateRecall),
    // D32: the spherical k-means convergence trajectory — per-step
    // populated-cluster count + exact micro-unit inertia
    "q_kmeans"            -> q(KMeans.kmeans),
    // D8: the PERSISTED index end-to-end (build once into tmp
    // storage, probe via partition pruning)
    "q_search_ivf"        -> q(EmbeddingStore.searchIvfQuery),
    // D19: N arbitrary queries × the SAME persisted index in ONE
    // pass — broadcast query set, union-of-probes partition pruning,
    // per-query window top-k
    "q_search_batch"      -> q(EmbeddingStore.searchBatchQuery),
    // D25: θ-radius search over the same persisted index — probe 4
    // cells, pruned scan, codegen'd score filter instead of a top-k
    // sort (the near-duplicate audit retrieval shape)
    "q_search_radius"     -> q(EmbeddingStore.searchRadiusQuery),
    // D28: filtered top-k through the persisted index — pruned probe
    // joined with the label-filtered metadata table, wider probes
    "q_search_ivf_filtered" -> q(EmbeddingStore.searchFilteredIvfQuery),
    // D26: base-vs-delta occupancy shift over the shared cell
    // assignment + corpus TVD — the distribution-drift monitor
    // beside D9's volume stats
    "q_corpus_drift"      -> q(EmbeddingStore.corpusDrift),
    // D22: recall@10 of the compressed (ADC) probe vs the exact
    // probe over identical per-query probe choices
    "q_pq_recall"         -> q(ProductQuantizer.pqRecallQuery),
    "q_search_ivfpq"      -> q(ProductQuantizer.searchIvfPqQuery),
    // D23: two-stage int8 scalar-quantized search — compressed scan
    // picks k·4 candidates, exact floats rerank only those; emits
    // both scores so the row doubles as the SQ8 fidelity evaluator
    "q_search_sq8"        -> q(ScalarQuantizer.searchSq8),
    // D24: the persisted-index compressed probe in the SQ8 domain —
    // IVF cell pruning + int8 code ranking off the cells' sq8 codes
    "q_search_ivfsq8"     -> q(ScalarQuantizer.searchIvfSq8Query),
    // D14: two-stage retrieval — IVF candidates (k1=50) reranked by
    // lexical Jaccard against the query text, blended in integer
    // micro-units
    "q_search_rerank"     -> q(VectorSearch.searchRerank),
    // D27: MMR-diversified top-k — greedy λ·rel − (1−λ)·max-sim
    // selection over the D1 candidate pool, integer micro-units
    "q_search_mmr"        -> q(VectorSearch.searchMmr),
    // D15: the corpus-wide approximate k-NN graph, cell-blocked so
    // candidates are ~n·τ rows at any scale
    "q_knn_graph"         -> q(VectorSearch.knnGraph),
    // D29: PageRank centrality over the k-NN graph — exact-integer
    // power iteration (floor-division mass), top-20 exemplars
    "q_graph_pagerank"    -> q(VectorSearch.graphPagerank),
    // D30: k-NN label propagation + per-class accuracy — the
    // weak-supervision label-transfer audit over D15's graph
    "q_knn_classify"      -> q(VectorSearch.knnClassify),
    // D18: connected components over the thresholded k-NN graph —
    // the corpus-map / SemDeDup-style semantic clustering
    "q_semantic_clusters" -> q(VectorSearch.semanticClusters),
    // D16: Okapi BM25 lexical retrieval — the term-index leg of a
    // hybrid stack, micro-unit-exact contributions
    "q_search_bm25"       -> q(VectorSearch.searchBm25),
    // D17: reciprocal-rank-fusion of the cosine and BM25 top-50s
    "q_search_hybrid"     -> q(VectorSearch.searchHybrid),
    // D9: index-health stats over the same persisted index (cell
    // skew, appended fraction, mean intra-cell cosine)
    "q_ivf_stats"         -> q(EmbeddingStore.indexStatsQuery),
    "q_vector_norms"      -> q(VectorSearch.vectorNorms),
    "q_embedding_coverage" -> q(EmbeddingStore.coverageQuery),
    // D10: the reference's search() entry orchestration (cooldown →
    // threshold → bounded incremental update → search) replayed over
    // a fixed four-search clock sequence; output = final top-k +
    // orchestration stats
    "q_search_refresh"    -> q(EmbeddingStore.searchRefreshQuery),
    "q_advance_day"       -> q(AdvanceDay.advanceDayQuery),
    // D20: the COLD-START episode — day-0 backlog walk (bounded
    // updates) → store → index build FROM the store → stats readback
    "q_bootstrap"         -> q(Bootstrap.bootstrapQuery),
    // D11: brute-force search at the reference's 384-dim model width
    // over raw hash-vote vectors — the width-regression canary (all
    // other rows run the corpora's 64-dim vectors)
    "q_search_dim384"     -> q(EmbeddingStore.searchDim384),
    // D21: a FREE QUERY STRING embedded at search time — the
    // reference's actual serving shape (clean → tokenize → hash-vote
    // → cosine against the embedded corpus)
    "q_search_text"       -> q(t => EmbeddingStore.searchText(t)),
    // D7b: the recall/probes curve at the reference's 384-dim width —
    // no oracleSql ON PURPOSE (the evaluator's exactness is pinned by
    // D7's full 64-dim replay; VectorSearchSpec bounds these values;
    // rows-only driver check, like A7b/B9b)
    "q_ivf_recall_dim384" -> q(VectorSearch.ivfRecallDim384),
    // D34: the filtered-ANN recall surface — recall@k vs (filter
    // selectivity × probes), D28's published trade measured. No
    // oracleSql ON PURPOSE (the machinery's exactness is D7's full
    // replay; the 100%-selectivity column must equal D7's curve and
    // VectorSearchSpec asserts it; rows-only driver check)
    "q_filtered_recall"   -> q(VectorSearch.filteredRecall),
    // C1 + F-family: text cleaning and analysis
    "q_text_clean"    -> q(TextAnalysis.textClean),
    "q_lang_id"       -> q(TextAnalysis.langId),
    "q_quality_score" -> q(TextAnalysis.qualityScore),
    "q_token_count"   -> q(TextAnalysis.tokenCount),
    // F28: the per-(source, lang) tokenizer-fit audit — byte/char/
    // token volumes + bytes-per-token and fertility ratios
    "q_token_fertility" -> q(TextAnalysis.tokenFertility),
    "q_fingerprint"   -> q(TextAnalysis.fingerprint),
    "q_sample_split"  -> q(TextAnalysis.sampleSplit),
    // F30: exact-k-per-source eval sample — two-level top-k engine
    // plan, flat ROW_NUMBER oracle (the plans are the same function)
    "q_sample_stratified" -> q(TextAnalysis.sampleStratified),
    // F32: Efraimidis–Spirakis weighted sampling without replacement
    // — size-biased top-k of u^(1/w), one TakeOrdered, zero shuffle
    "q_sample_weighted"   -> q(TextAnalysis.sampleWeighted),
    "q_redact_pii"    -> q(TextAnalysis.redactPii),
    "q_mix_sources"   -> q(TextAnalysis.mixSources),
    "q_tfidf"         -> q(TextAnalysis.tfidf),
    "q_pipeline_e2e"  -> q(TextAnalysis.pipelineE2e),
    // H1: the pipeline SINK — write F9's kept docs as split/source-
    // partitioned parquet, manifest from READ-BACK (fails if the
    // write half-runs)
    "q_export_manifest" -> q(graft.sources.Export.exportManifest),
    // H2: the loader-facing sink — id-sharded training files per
    // split + the per-(split, shard) balance/checksum manifest
    "q_export_shards"   -> q(graft.sources.Export.exportShards),
    // H3: the curriculum sink — kept train docs phase-partitioned by
    // F26's quality terciles (anneal toward quality), id-sharded,
    // read-back manifest with micro-unit mean quality
    "q_export_curriculum" -> q(graft.sources.Export.exportCurriculum),
    // H4: the JSONL interchange sink — one JSON object per line,
    // manifest recomputed from the parsed read-back (escaping proof)
    "q_export_jsonl"    -> q(graft.sources.Export.exportJsonl),
    // H5: the table-maintenance sink — small-files compaction to
    // size-derived file counts, losslessness proven by the oracle
    // manifest (file counts themselves pinned in ExportSpec)
    "q_compact_shards"  -> q(graft.sources.Export.compactShards),
    // H7: the index-store maintenance episode — D13's append
    // accretion compacted within cell partitions, probe proven
    // bit-identical through the rewrite
    "q_index_maintain"  -> q(IndexMaintenance.indexMaintainQuery),
    // H8: MERGE/UPSERT — yesterday's persisted table absorbs updates
    // + inserts (anti-join + union, one key shuffle), manifest from
    // the read-back merged table
    "q_merge_upsert"    -> q(graft.sources.Export.mergeUpsert),
    // H9: SCD-2 — the history-PRESERVING merge: matched versions
    // close (valid_to stamps), arrivals append as current; manifest
    // from the read-back history table
    "q_scd2"            -> q(graft.sources.Export.scd2),
    // H10: takedown/right-to-be-forgotten — anti-join purge of a
    // broadcast id list + the read-back deletion-completeness proof
    // (residual must be the oracle's literal 0)
    "q_purge"           -> q(graft.sources.Export.purge),
    // H11: additive schema evolution — two file generations, one
    // mergeSchema read, NULL backfill proven per source
    "q_schema_evolve"   -> q(graft.sources.Export.schemaEvolve),
    // H12: generation-pinned reads — both generations aggregated
    // AFTER the gen-1 commit; the gen-0 leg proves non-destructive
    // versioning from inside the row
    "q_time_travel"     -> q(graft.sources.TableFormat.timeTravel),
    // H13: H10's purge as a merge-on-read DELETE-VECTOR sidecar —
    // data files untouched, every read (incl. the residual audit)
    // anti-joins the sidecar; same manifest/oracle as H10
    "q_purge_dv"        -> q(graft.sources.TableFormat.purgeDv),
    // H14: the change data feed between two committed generations —
    // insert/delete/update_pre/update_post rows diffed from the
    // READ-BACK generations, no-op updates suppressed
    "q_cdc"             -> q(graft.sources.TableFormat.cdc),
    // H15: the retention sweep — three generations, keep 2; both
    // retained generations aggregated from read-back AFTER the sweep
    "q_vacuum"          -> q(graft.sources.TableFormat.vacuum),
    // H16: H10's purge scoped by the per-file min/max manifest —
    // only intersecting files rewrite, the rest carry by reference;
    // same manifest/oracle as H10 (answer-invariant optimization)
    "q_stats_skipping"  -> q(graft.sources.TableFormat.statsSkipping),
    // H17: the changefeed CONSUMER — a materialized aggregate
    // maintained from H14's feed alone, oracle = recompute of gen 1
    "q_cdc_consume"     -> q(graft.sources.TableFormat.cdcConsume),
    // H18: stats-pruned READ — file skipping for queries: both
    // predicates prune the file list via the MULTI-COLUMN manifest
    // before any data is touched; answer invariant (oracle = the raw
    // filtered aggregate), in-row leaked audit vs the literal 0
    "q_skip_read"       -> q(graft.sources.TableFormat.skipRead),
    // H19: OPTIMIZE — small-file compaction as a logical no-op:
    // three scoped-merge fragment commits folded to size-targeted
    // files; oracle = corpus ∪ slices (invariant to the compaction)
    "q_optimize_table"  -> q(graft.sources.TableFormat.optimizeTable),
    // H20: additive schema evolution through the COMMIT CORE — the
    // log records the width per generation, carried legacy files
    // NULL-backfill at read time, CDC spans the width boundary
    "q_schema_evolve_versioned" ->
      q(graft.sources.TableFormat.schemaEvolveVersioned),
    // H21: metadata-only COUNT/MIN/MAX answered from the manifest
    // ALONE after a scoped purge (mixed carried+rewritten stats);
    // oracle = the literal scan of the surviving rows
    "q_meta_agg"        -> q(graft.sources.TableFormat.metaAggQuery),
    // H22: TIME TRAVEL over the whole IVF index via the catalog
    // pointer — the day's advance is a new index generation; the
    // pre-advance pin still answers (IndexCatalog.readAt)
    "q_index_history"   -> q(graft.operators.EmbeddingStore.indexHistoryQuery),
    // H23: the scoped merge at its BULK end — the skip decision
    // broadcasts the interval-summarized scope (forced-down
    // thresholds gate the bulk path at every SF), answer = the plain
    // latest-wins merge, carried-files evidence in-row
    "q_merge_bulk"      -> q(graft.sources.TableFormat.mergeBulk),
    // H24: POINT LOOKUP through per-file Bloom sketches in the
    // manifest — a hash-clustered layout where range stats prune
    // nothing; in-row bloom_pruned audit vs the oracle's literal 1,
    // answer = the raw IN filter (pruning is invisible)
    "q_bloom_read"      -> q(graft.sources.TableFormat.bloomRead),
    // H6: the multi-dimensional clustering layout — a box query
    // through the z-ordered store (pruning proven in ZorderSpec)
    "q_zorder_scan"     -> q(graft.sources.Zorder.zorderScan),
    "q_text_chunks"   -> q(TextAnalysis.textChunks),
    "q_repetition"    -> q(TextAnalysis.repetition),
    // F14: token-budget selection — highest-quality docs until the
    // budget is exhausted, via the two-level distributed prefix sum
    "q_select_budget" -> q(TextAnalysis.selectBudget),
    // F15: CCNet/Gopher-style LM-perplexity quality score — mean
    // smoothed bigram log-prob per doc, micro-unit-exact
    "q_lm_score"      -> q(TextAnalysis.lmScore),
    // F16: the per-source data card — docs, tokens, mean quality
    // (micro-unit-exact), exact-dup rate, language mix, one row per
    // source
    "q_source_profile" -> q(TextAnalysis.sourceProfile),
    // F17: the published Gopher per-document quality gates — zero
    // shuffle, complementary to F2's ranking score
    "q_gopher_rules"   -> q(TextAnalysis.gopherRules),
    // F18: DSIR importance weights — hashed-n-gram target-vs-raw
    // log-likelihood ratio, 256-bucket broadcast model
    "q_dsir_weights"   -> q(TextAnalysis.dsirWeights),
    // F19: the corpus' most document-frequent 3-grams — the
    // boilerplate inspection table, deterministic tiebreaks
    "q_ngram_topk"     -> q(TextAnalysis.ngramTopk),
    // F20: first BPE merge-pair statistics — pair counting over the
    // vocabulary, never the token stream
    "q_bpe_pairs"      -> q(TextAnalysis.bpePairs),
    // F29: the actual 8-step BPE training loop — per-step argmax
    // merge over the vocabulary + the corpus compression curve
    "q_bpe_train"      -> q(TextAnalysis.bpeTrain),
    // F33: the learned vocabulary APPLIED — per-source BPE token
    // volume + compression via the vocab-segmentation join (BPE
    // never crosses word boundaries, so apply ≡ a word-level join)
    "q_bpe_apply"      -> q(TextAnalysis.bpeApply),
    // F23: word2vec phrase-score collocations — integer-exact lift
    // over adjacent pairs, delta floor before the vocab-keyed joins
    "q_collocations"   -> q(TextAnalysis.collocations),
    // F24: power-of-two token-length histogram with cumulative
    // corpus share — integer bin-string log2, bounded bucket table
    "q_token_histogram" -> q(TextAnalysis.tokenHistogram),
    // F25: the pipeline ATTRITION funnel — per-stage in/out/dropped
    // for F9's composed gates, sequential first-drop semantics
    "q_pipeline_funnel" -> q(TextAnalysis.pipelineFunnel),
    // F26: CCNet-style per-source quality terciles — two-level
    // distributed rank (bin windows + broadcast offsets), oracle
    // replays the plain per-source PERCENT_RANK
    "q_quality_buckets" -> q(TextAnalysis.qualityBuckets),
    // F21: language-ID confusion matrix vs the ground-truth label —
    // the honest eval table for the F1 heuristic (exposes zh)
    "q_lang_confusion" -> q(TextAnalysis.langConfusion),
    // F22: the quality-gate agreement matrix — joint keep/fail
    // distribution of F17 x F11 x F18 with shares
    "q_gate_matrix"    -> q(TextAnalysis.gateMatrix),
    // E-family: deduplication
    "q_dedup_exact"     -> q(Dedup.dedupExact),
    "q_dedup_minhash"   -> q(Dedup.dedupMinhash),
    "q_dedup_clusters"  -> q(Clusters.dedupClusters),
    // E10: keep-best survivor per duplicate cluster (E6 closure ×
    // F2 quality argmax)
    "q_dedup_canonical" -> q(Clusters.dedupCanonical),
    "q_decontaminate"   -> q(Dedup.decontaminate),
    "q_ngram_overlap"   -> q(Dedup.ngramOverlap),
    "q_dedup_simhash"   -> q(Dedup.dedupSimhash),
    "q_ngram_jaccard"   -> q(Dedup.ngramJaccard),
    "q_containment"     -> q(Dedup.containment),
    "q_dedup_embedding" -> q(Dedup.dedupEmbedding),
    // E2b: the LSH tuning evaluator — candidate cost + recall per
    // band/row layout against the exact E4 ground truth
    "q_lsh_recall"      -> q(Dedup.lshRecall),
    // E11: incremental delta dedup — only docs above the watermark
    // are shingled; the base corpus joins in via its persisted
    // signature state (LayoutStore), result = full E2 restricted to
    // delta-touching pairs
    "q_dedup_incremental" -> q(Dedup.dedupIncremental),
    // E12: span-level exact-substring dedup — remove every repeated
    // 13-word span except its first occurrence corpus-wide (the
    // Lee-et-al substring pass, gram-positional instead of
    // suffix-array so it distributes)
    "q_dedup_spans"     -> q(Dedup.dedupSpans),
    // E14: the daily mode of E12 — delta docs' grams against the
    // persisted distinct-gram state, first-occurrence rule preserved
    // corpus-wide; result = full E12 restricted to delta docs
    "q_dedup_spans_incremental" -> q(Dedup.dedupSpansIncremental),
    // E15: SemDeDup semantic pruning — within-cell ε-similar groups
    // (the E5 pair scaffold at a tighter threshold), E6 closure, keep
    // the member farthest from its cluster centroid
    "q_semdedup"        -> q(Dedup.semDedup),
    // E16: prototypicality pruning (Sorscher et al. 2022) — global
    // easiest-first rank on centroid cosine, drop the most
    // prototypical quarter; the corpus-wide sibling of E15's
    // per-group keeper rule
    "q_prototypes"      -> q(Dedup.prototypes),
    // E17: the composed pruning verdict — E15's group-keeper rule
    // AND E16's global keep cut off ONE shared assignment + centroid
    // pass, with both marginal flags for attribution
    "q_prune_compose"   -> q(Dedup.pruneCompose),
    // E18: the per-source gram duplication-rate audit (Lee et al.
    // 2022's motivating table) on E12's exact gram unit
    "q_gram_novelty"    -> q(Dedup.gramNovelty),
    // E19: E18's audit for the DELTA against the persisted E14 gram
    // state — history-vs-within-day repetition, equivalence-proved
    "q_novelty_incremental" -> q(Dedup.noveltyIncremental),
    // E13: the pairwise source-overlap (shingle Jaccard) matrix —
    // cross-source contamination audit, fan-out bounded by C(S,2)
    "q_source_overlap"  -> q(Dedup.sourceOverlap),
    // E20: winnowing fingerprint selection (Schleimer et al. 2003) —
    // bounded fingerprint sets with the w+k-1 coverage guarantee
    "q_winnow"          -> q(Dedup.winnow),
    // E21: the MOSS pair report — ranked doc-pair overlap from the
    // shared fingerprints, capped-bucket equi-join, never all-pairs
    "q_winnow_overlap"  -> q(Dedup.winnowOverlap),
    // composed shared-stage run: E2+E6+E7 from ONE materialized
    // shingle+signature stage — the bench line for the shared-stage
    // contract (compare vs the sum of the three standalone lines)
    "q_dedup_family"    -> q(Clusters.dedupFamily),
    // B-family: events / time-series
    "q_time_window" -> q(EventOps.timeWindow),
    "q_sessionize"  -> q(EventOps.sessionize),
    "q_json_extract" -> q(EventOps.jsonExtract),
    "q_event_stats" -> q(EventOps.eventStats),
    "q_incremental" -> q(EventOps.incremental),
    // B5b: same watermark scan over the date-partitioned layout —
    // the plan prunes day partitions at the file listing
    "q_incremental_pruned" -> q(EventOps.incrementalPruned),
    "q_asof_join"   -> q(EventOps.asofJoin),
    "q_range_join"  -> q(EventOps.rangeJoin),
    "q_percentiles" -> q(EventOps.percentiles),
    // B9b: sketch percentiles — the row ranks each sketch value in
    // the group's exact order and carries pXX_ok, so the driver gate
    // enforces the GK rank-error bound (the sketch VALUES themselves
    // can never hash cross-engine; EventOpsSpec replays the audit)
    "q_percentiles_approx" -> q(EventOps.percentilesApprox),
    "q_histogram"   -> q(EventOps.histogram),
    "q_resample"    -> q(EventOps.resample),
    // B13: cohort retention matrix — first-day cohorts × day offsets,
    // two user-keyed aggs sharing one shuffle + a days-row broadcast
    "q_retention"   -> q(EventOps.retention),
    "q_session_window" -> q(EventOps.sessionWindowAgg),
    // B14: ordered-pattern detection (click → purchase within 30
    // min) as ONE reverse cumulative window — never a time-range
    // self-join
    "q_sequence_match" -> q(EventOps.sequenceMatch),
    // B16: the behavior-flow transition matrix — per-user lead pairs,
    // |types|²-bounded output, probabilities from the count table
    "q_event_transitions" -> q(EventOps.eventTransitions),
    // B18: per-user z-score outliers — exact decimal stats, 6dp z
    // before the threshold so the alarm set is engine-exact
    "q_anomaly"        -> q(EventOps.anomalies),
    // B17: top session paths under B2's shared gap rule, depth-capped
    "q_session_paths"  -> q(EventOps.sessionPaths),
    // B15: per-event trailing-hour aggregates — integer epoch-micros
    // RANGE frame, exact decimal sums
    "q_rolling_stats"  -> q(EventOps.rollingStats),
    // B19: point-in-time dimension resolution against an SCD-2-shaped
    // history — ONE equi-join on the key, window predicate residual
    "q_pit_lookup"     -> q(EventOps.pitLookup),
    // C-family: message pipeline semantics
    "q_msg_context"       -> q(EventOps.msgContext),
    "q_user_names"        -> q(EventOps.userNames),
    "q_conversation_agg"  -> q(EventOps.conversationAgg),
    "q_extract_text"      -> q(EventOps.extractTextQuery),
    "q_conversation_name" -> q(EventOps.conversationNameQuery),
    // G-family: multimodal plumbing
    "q_multimodal_meta" -> q(Multimodal.multimodalMeta),
    "q_media_chunks"    -> q(Multimodal.mediaChunks),
    "q_frame_sample"    -> q(Multimodal.frameSample),
    // G4: chunk → stub feature votes → dense media vector → cosine
    // top-k through the same codegen'd expression the text store uses
    "q_media_embedding" -> q(Multimodal.mediaEmbedding),
    // G5: stride block-subsample resize, fully per-row (zero shuffle)
    "q_media_resize"    -> q(Multimodal.mediaResize),
    // G6: average-hash (aHash) near-dup pairs over payloads — 64
    // strided samples, integer-exact mean bits, E3's banded Hamming
    "q_media_phash"     -> q(Multimodal.mediaPhash),
    // G7: within-payload frame near-dup audit — the static-scene
    // pruning pass; per-row bounded pairs, zero shuffle
    "q_frame_dedup"     -> q(Multimodal.frameDedup),
    // F12: concat-and-chunk packing audit via a two-level distributed
    // prefix sum (no single-partition-per-source window)
    "q_pack_sequences"  -> q(TextAnalysis.packSequences),
    // F13: mT5-style temperature sampling weights per source
    "q_mix_temperature" -> q(TextAnalysis.mixTemperature),
    // F31: the data-constrained epoch allocation plan — F13's weights
    // over a 2x budget, 4-epoch repetition cap, exact-long deficit
    "q_epoch_plan"      -> q(TextAnalysis.epochPlan),
  )

  /** DuckDB-runnable ANSI SQL oracle per query (same parquet tables).
    * Column aliases match the Spark output exactly (driver hash-compares
    * after sorting columns by name). */
  def oracleSql: Map[String, String] = Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_join_broadcast" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q_join_multi" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    // A3b: Spark runs this over the bucket-sorted layout (zero
    // exchanges); the rows are identical to the raw-parquet join the
    // oracle runs here.
    "q_join_bucketed" ->
      """SELECT o_orderkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q_window_rank" ->
      """SELECT c_custkey, c_nationkey, c_acctbal, rnk FROM (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer)
        |WHERE rnk <= 3
        |ORDER BY c_nationkey, rnk""".stripMargin,
    "q_distinct_agg" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // A7b: the oracle pins the EXACT leg and the literal 1 for the
    // in-row sketch-error bound — the only cross-engine-checkable
    // facts about an engine-seeded HLL++ sketch.
    "q_distinct_approx" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(*) AS n_orders, CAST(1 AS BIGINT) AS within_bound
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
        |ORDER BY o_orderkey""".stripMargin,
    // A8b/A9b: the Bloom-pruned variants must give the SAME answer as
    // the plain joins — identical oracles, different plans.
    "q_semi_bloom" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_bloom" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
        |ORDER BY o_orderkey""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT p_partkey, p_retailprice FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM part)
        |ORDER BY p_partkey""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_union_agg" ->
      """SELECT nationkey, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |GROUP BY nationkey
        |ORDER BY nationkey""".stripMargin,
    // A16: DuckDB's GROUPING SETS with the same 'ALL' coalescing.
    "q_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS prio,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        |ORDER BY prio, status""".stripMargin,
    // A15: the oracle is the PLAIN join — the whole point: the
    // engine's hot-key split + salt rewrite must be algebraically
    // invisible in the result.
    // A17: the oracle is the LITERAL Q13 — DuckDB's native LEFT JOIN
    // over the raw tables — proving the engine's pre-aggregate
    // rewrite result-equivalent to the textbook plan
    "q_join_outer" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN (
        |    SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
        |    ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // A18: the oracle is the LITERAL correlated subquery — proving
    // the engine's windowed decorrelation result-equivalent to the
    // textbook form DuckDB plans natively
    "q_correlated_subquery" ->
      """SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
        |    AS avg_yearly,
        |  COUNT(*) AS n_rows
        |FROM lineitem l JOIN part p ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    // A19: the oracle keeps BOTH correlated subqueries literal (the
    // EXISTS even contains its pairwise self-join) — proving the
    // engine's one-aggregate-pass decorrelation result-equivalent
    "q_multi_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders o
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l1, lineitem l2
        |    WHERE l1.l_orderkey = o.o_orderkey
        |      AND l2.l_orderkey = o.o_orderkey
        |      AND l1.l_suppkey <> l2.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = o.o_orderkey AND l3.l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // H8: the oracle reconstructs the merged table from the raw
    // corpus (survivor lower-half rows + the status-X update slice +
    // the upper-half inserts) and aggregates it identically — a merge
    // that drops, duplicates or mangles one row diverges the counts,
    // totals or the key checksum.
    "q_merge_upsert" ->
      """WITH mx AS (SELECT MAX(o_orderkey)//2 AS s FROM orders),
        |merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey <= (SELECT s FROM mx)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey > (SELECT s FROM mx)),
        |ep AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN o_orderkey <= (SELECT s FROM mx)
        |      AND o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        |    CAST(SUM(CASE WHEN o_orderkey > (SELECT s FROM mx)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |  FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
        |  ep.n_updated, ep.n_inserted
        |FROM merged, ep
        |GROUP BY o_orderstatus, ep.n_updated, ep.n_inserted
        |ORDER BY o_orderstatus""".stripMargin,
    // A20: the literal set-operator keywords — DuckDB's INTERSECT/
    // EXCEPT are distinct-set semantics, matching Dataset.intersect/
    // except exactly.
    "q_set_ops" ->
      """WITH o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |ex AS (SELECT o_custkey FROM o EXCEPT SELECT o_custkey FROM f),
        |it AS (SELECT o_custkey FROM o INTERSECT SELECT o_custkey FROM f)
        |SELECT 'except' AS op, COUNT(*) AS n_cust,
        |  CAST(bit_xor(o_custkey) AS BIGINT) AS key_xor FROM ex
        |UNION ALL
        |SELECT 'intersect', COUNT(*),
        |  CAST(bit_xor(o_custkey) AS BIGINT) FROM it
        |ORDER BY op""".stripMargin,
    // H10: the oracle manifests the corpus MINUS the takedown list
    // and pins residual to the literal 0 — deletion completeness.
    "q_purge" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 97 = 0) AS n_purged,
        |  CAST(0 AS BIGINT) AS residual
        |FROM documents
        |WHERE doc_id % 97 <> 0
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // H11: the oracle computes both generations from the raw corpus —
    // legacy rows are exactly the lower half, the evolved volume is
    // exactly the upper half's n_chars. The engine counts legacy by
    // `n_chars IS NULL` on the merged read (the NULL-backfill proof);
    // the OR term makes the oracle agree even for a day-2 document
    // whose n_chars is genuinely NULL in the corpus — without it such
    // a row would fail the gate confusingly (engine: legacy; oracle:
    // not), despite both being right about the store.
    "q_schema_evolve" ->
      """WITH mx AS (SELECT MAX(doc_id)//2 AS s FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id <= (SELECT s FROM mx)
        |    OR n_chars IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_legacy,
        |  CAST(COALESCE(SUM(CASE WHEN doc_id > (SELECT s FROM mx)
        |    THEN n_chars END), 0) AS BIGINT) AS evolved_chars,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // H12: the oracle reconstructs BOTH generations from the corpus —
    // gen 0 is the pre-merge state cut, gen 1 is H8's merged table;
    // the pointer lands on 1.
    "q_time_travel" ->
      """WITH mx AS (SELECT MAX(o_orderkey)//2 AS s FROM orders),
        |g0 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey <= (SELECT s FROM mx)),
        |g1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey <= (SELECT s FROM mx)
        |      AND o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    o_totalprice
        |  FROM orders)
        |SELECT CAST(0 AS BIGINT) AS gen, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
        |  CAST(1 AS BIGINT) AS current_gen
        |FROM g0 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), o_orderstatus, COUNT(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |  CAST(bit_xor(o_orderkey) AS BIGINT), CAST(1 AS BIGINT)
        |FROM g1 GROUP BY o_orderstatus
        |ORDER BY gen, o_orderstatus""".stripMargin,
    // H13: the DELETE-VECTOR purge must read exactly what H10's
    // rewrite reads — the oracle is H10's verbatim.
    "q_purge_dv" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 97 = 0) AS n_purged,
        |  CAST(0 AS BIGINT) AS residual
        |FROM documents
        |WHERE doc_id % 97 <> 0
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // H14: the literal change set reconstructed from the episode
    // rule — inserts are the upper half, deletes the lower-half ≡5
    // slice, update pre/post the ≡0 slice's original and rewritten
    // rows.
    "q_cdc" ->
      """WITH mx AS (SELECT MAX(o_orderkey)//2 AS s FROM orders)
        |SELECT 'insert' AS change_type, o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey > (SELECT s FROM mx)
        |UNION ALL
        |SELECT 'delete', o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_orderkey <= (SELECT s FROM mx) AND o_orderkey % 10 = 5
        |UNION ALL
        |SELECT 'update_pre', o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_orderkey <= (SELECT s FROM mx) AND o_orderkey % 10 = 0
        |UNION ALL
        |SELECT 'update_post', o_orderkey, o_custkey,
        |  'X', o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_orderkey <= (SELECT s FROM mx) AND o_orderkey % 10 = 0
        |ORDER BY change_type, o_orderkey""".stripMargin,
    // H15: the oracle reconstructs the two RETAINED generations (the
    // H8 merge, and the merge minus the ≡5 takedown slice); the
    // sweep reaps exactly generation 0.
    "q_vacuum" ->
      """WITH mx AS (SELECT MAX(o_orderkey)//2 AS s FROM orders),
        |g1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey <= (SELECT s FROM mx)
        |      AND o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    o_totalprice
        |  FROM orders),
        |g2 AS (
        |  SELECT * FROM g1
        |  WHERE NOT (o_orderkey <= (SELECT s FROM mx)
        |    AND o_orderkey % 10 = 5))
        |SELECT CAST(1 AS BIGINT) AS gen, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
        |  CAST(2 AS BIGINT) AS current_gen, CAST(1 AS BIGINT) AS n_reaped
        |FROM g1 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), o_orderstatus, COUNT(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |  CAST(bit_xor(o_orderkey) AS BIGINT),
        |  CAST(2 AS BIGINT), CAST(1 AS BIGINT)
        |FROM g2 GROUP BY o_orderstatus
        |ORDER BY gen, o_orderstatus""".stripMargin,
    // H16: the stats-scoped purge must answer exactly what H10's
    // full rewrite answers — the oracle is H10's verbatim.
    "q_stats_skipping" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 97 = 0) AS n_purged,
        |  CAST(0 AS BIGINT) AS residual
        |FROM documents
        |WHERE doc_id % 97 <> 0
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // H17: the feed-maintained aggregate must equal a from-scratch
    // recompute of the post-change table (q_vacuum's g2 — the H8
    // merge minus the ≡5 takedown slice).
    "q_cdc_consume" ->
      """WITH mx AS (SELECT MAX(o_orderkey)//2 AS s FROM orders),
        |g1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey <= (SELECT s FROM mx)
        |      AND o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    o_totalprice
        |  FROM orders),
        |g2 AS (
        |  SELECT * FROM g1
        |  WHERE NOT (o_orderkey <= (SELECT s FROM mx)
        |    AND o_orderkey % 10 = 5))
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor
        |FROM g2 GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // H21: the manifest's statistics must BE the table's statistics
    // — the oracle scans what the metadata claims without scanning.
    "q_meta_agg" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM documents
        |WHERE doc_id % 97 <> 0""".stripMargin,
    // H22: index time travel — the pre-advance leg equals the base
    // id half EXACTLY (the advance never touched committed history),
    // the post-advance leg is the full corpus with the upper half
    // marked appended; `advanced` is the literal one generation.
    "q_index_history" ->
      """WITH v AS (SELECT vec_id AS doc_id FROM embeddings),
        |s AS (SELECT CAST(FLOOR(MAX(doc_id)/2.0) AS BIGINT) AS m FROM v)
        |SELECT CAST(0 AS BIGINT) AS igen,
        |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(0 AS BIGINT) AS n_appended,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  CAST(1 AS BIGINT) AS advanced
        |FROM v WHERE doc_id <= (SELECT m FROM s)
        |UNION ALL
        |SELECT CAST(1 AS BIGINT),
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN doc_id > (SELECT m FROM s) THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(bit_xor(doc_id) AS BIGINT),
        |  CAST(1 AS BIGINT)
        |FROM v
        |ORDER BY igen""".stripMargin,
    // H23: the bulk scoped merge IS the latest-wins merge — interval
    // over-touch is invisible to the result; carried_files is the
    // literal TRUE (the upper id half's files never rewrote) and
    // n_files the store's literal 16-file layout.
    "q_merge_bulk" ->
      """WITH s AS (SELECT CAST(FLOOR(MAX(doc_id)/2.0) AS BIGINT) AS m
        |  FROM documents)
        |SELECT
        |  CASE WHEN doc_id % 2 = 0 AND doc_id <= (SELECT m FROM s)
        |    THEN 'bulk' ELSE source END AS source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  TRUE AS carried_files,
        |  CAST(16 AS BIGINT) AS n_files
        |FROM documents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // H24: the Bloom-pruned point lookup must answer exactly what
    // the raw IN filter answers — the sketch only decides which
    // files PLAN; bloom_pruned is the oracle's literal 1 (the
    // hash-clustered layout guarantees range stats alone would read
    // every file, so any pruning at all is the sketch's).
    "q_bloom_read" ->
      """SELECT doc_id, lang, source,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(1 AS BIGINT) AS bloom_pruned
        |FROM documents
        |WHERE doc_id IN (11, 137, 423)
        |ORDER BY doc_id""".stripMargin,
    // H18: the stats-pruned read must answer exactly what the raw
    // filtered aggregate answers — pruning is invisible to the
    // result; leaked is the oracle's literal 0.
    "q_skip_read" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  CAST(0 AS BIGINT) AS leaked
        |FROM documents
        |WHERE source = 'src7' AND doc_id BETWEEN 100 AND 400
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // H19: OPTIMIZE is a logical no-op — the oracle is the plain
    // union of the corpus and the three shifted insert slices, with
    // no trace of how the files were packed.
    "q_optimize_table" ->
      """WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
        |aug AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT m FROM mx) * 1, text, source
        |  FROM documents WHERE doc_id % 211 = 1
        |  UNION ALL
        |  SELECT doc_id + (SELECT m FROM mx) * 2, text, source
        |  FROM documents WHERE doc_id % 211 = 2
        |  UNION ALL
        |  SELECT doc_id + (SELECT m FROM mx) * 3, text, source
        |  FROM documents WHERE doc_id % 211 = 3
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor
        |FROM aug GROUP BY source
        |ORDER BY source""".stripMargin,
    // H20: the evolved table = the corpus with the ≡1 (mod 211)
    // slice gaining the two new columns in place and the ≡0 slice
    // re-inserted shifted with them; legacy rows surface NULLs.
    "q_schema_evolve_versioned" ->
      """WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
        |aug AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 211 = 1 THEN (doc_id % 100) * 10000 END AS quality,
        |    CASE WHEN doc_id % 211 = 1 THEN 2 END AS rev
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT m FROM mx) AS doc_id, source,
        |    ((doc_id + (SELECT m FROM mx)) % 100) * 10000 AS quality,
        |    2 AS rev
        |  FROM documents WHERE doc_id % 211 = 0
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN rev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
        |  CAST(COALESCE(SUM(quality), 0) AS BIGINT) AS q_sum,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  CAST(5 AS BIGINT) AS gen0_width,
        |  CAST(7 AS BIGINT) AS gen1_width,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 211 = 0) AS n_feed_inserts,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 211 = 1) AS n_feed_updates
        |FROM aug GROUP BY source
        |ORDER BY source""".stripMargin,
    // H9: the oracle reconstructs the SCD-2 history table — closed
    // versions (updated keys at their ORIGINAL status, valid_to 1),
    // survivors and current versions — and aggregates identically.
    "q_scd2" ->
      """WITH mx AS (SELECT MAX(o_orderkey)//2 AS s FROM orders),
        |hist AS (
        |  -- closed: updated keys' original version, valid_to = 1
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, FALSE AS is_current
        |  FROM orders
        |  WHERE o_orderkey <= (SELECT s FROM mx) AND o_orderkey % 10 = 0
        |  UNION ALL
        |  -- survivors: untouched state rows stay current
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE
        |  FROM orders
        |  WHERE o_orderkey <= (SELECT s FROM mx) AND o_orderkey % 10 <> 0
        |  UNION ALL
        |  -- arrivals: the update slice at status X + the inserts
        |  SELECT o_orderkey, 'X', o_totalprice, TRUE
        |  FROM orders
        |  WHERE o_orderkey <= (SELECT s FROM mx) AND o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE
        |  FROM orders WHERE o_orderkey > (SELECT s FROM mx))
        |SELECT o_orderstatus, is_current, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor
        |FROM hist
        |GROUP BY o_orderstatus, is_current
        |ORDER BY o_orderstatus, is_current""".stripMargin,
    "q_join_skew" ->
      """SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // D-family. The exploded-embedding CTE re-derives the same cosine
    // the Spark CosineSimilarity expression computes; both sides round
    // to 6 dp BEFORE threshold/ordering so they select identical rows.
    // Every division is zero-norm-guarded (COALESCE/NULLIF -> 0) to
    // mirror CosineSimilarity's guard — unguarded 0/0 would be NaN,
    // which DuckDB sorts above all values and passes >= thresholds.
    "q_search_bruteforce" ->
      s"""$embCte
         |SELECT vec_id, label, score FROM (
         |  SELECT vec_id, label,
         |    ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score FROM s)
         |WHERE score >= 0.1
         |ORDER BY score DESC, vec_id
         |LIMIT 30""".stripMargin,
    "q_search_filtered" ->
      s"""$embCte
         |SELECT vec_id, label, score FROM (
         |  SELECT vec_id, label,
         |    ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score FROM s
         |  WHERE label IN (1,2,3))
         |WHERE score >= 0.05
         |ORDER BY score DESC, vec_id
         |LIMIT 20""".stripMargin,
    // D6: the D1 hits joined to their prev/next message context (hit
    // ids map to event ids; same windowed-neighbor SQL as C2).
    "q_search_context" ->
      s"""$embCte,
         |hits AS (
         |  SELECT vec_id, score FROM (
         |    SELECT vec_id,
         |      ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score FROM s)
         |  WHERE score >= 0.1
         |  ORDER BY score DESC, vec_id
         |  LIMIT 30),
         |ctx AS (
         |  SELECT event_id, user_id, ts,
         |    COALESCE(lag(props) OVER (PARTITION BY user_id ORDER BY ts, event_id), '') AS prev_msg,
         |    COALESCE(lead(props) OVER (PARTITION BY user_id ORDER BY ts, event_id), '') AS next_msg
         |  FROM events)
         |SELECT h.vec_id, h.score, c.user_id, c.ts, c.prev_msg, c.next_msg
         |FROM hits h JOIN ctx c ON h.vec_id = c.event_id
         |ORDER BY h.score DESC, h.vec_id""".stripMargin,
    // D10: replays the fixed refresh episode end-to-end. The store
    // the four-search sequence builds is exactly the lowest
    // LEAST(n, 450) vec_ids (three bounded 150-vector updates walk
    // the backlog in id order; the t=1030 search sits inside the
    // cooldown and appends nothing), so every stat is a pure
    // function of the corpus count and the final search is plain
    // cosine top-k over that slice.
    "q_search_refresh" ->
      """WITH st AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  ORDER BY vec_id LIMIT LEAST((SELECT COUNT(*) FROM embeddings), 450)),
        |stats AS (
        |  SELECT CAST(4 AS BIGINT) AS n_searches,
        |    CAST(CEIL(LEAST(n.n, 450) / 150.0) AS BIGINT) AS n_updates,
        |    CAST(LEAST(n.n, 450) AS BIGINT) AS total_processed,
        |    (SELECT MAX(vec_id) FROM st) AS final_watermark
        |  FROM (SELECT COUNT(*) AS n FROM embeddings) n),
        |ev AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM st),
        |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
        |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
        |s AS (
        |  SELECT ev.vec_id, SUM(ev.v*q.qv) AS dot, SQRT(SUM(ev.v*ev.v)) AS en
        |  FROM ev JOIN q ON ev.i = q.i
        |  WHERE ev.vec_id <> 0
        |  GROUP BY ev.vec_id),
        |topk AS (
        |  SELECT vec_id AS doc_id,
        |    ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score
        |  FROM s
        |  ORDER BY score DESC, doc_id
        |  LIMIT 10)
        |SELECT t.doc_id, t.score, x.n_searches, x.n_updates,
        |  x.total_processed, x.final_watermark
        |FROM topk t, stats x
        |ORDER BY t.score DESC, t.doc_id""".stripMargin,
    // D11: sparse replay of the raw 384-bucket hash-vote embedding
    // (G4's technique at the reference width): the C1 clean chain,
    // whitespace tokens, md5 bucket = first-6-hex value % 384 parsed
    // positionally, ±1 votes; cosine from integer vote sums is
    // float/double-exact, so the 6dp scores agree bit-for-bit.
    "q_search_dim384" -> {
      val hex = "strpos('0123456789abcdef', substr(md5(w),%d,1)) - 1"
      val value = (1 to 6).map(i => s"(${hex.format(i)}) * ${1L << (4 * (6 - i))}")
        .mkString(" + ")
      s"""WITH cl AS (
         |  SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
         |    text, '\\s+', ' ', 'g'), 'https?://\\S+', '', 'g'),
         |    '[^\\w\\s.,!?;:\\-''"]', '', 'g')) AS cleaned
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(cleaned)), '\\s+')) AS w
         |  FROM cl),
         |v0 AS (
         |  SELECT doc_id, CAST(($value) % 384 AS INT) AS bucket,
         |    CASE WHEN substr(md5(w),7,1) <= '7' THEN 1.0 ELSE -1.0 END AS sign
         |  FROM tk),
         |s AS (SELECT doc_id, bucket, SUM(sign) AS v FROM v0 GROUP BY doc_id, bucket),
         |q AS (SELECT bucket, v AS qv FROM s WHERE doc_id = 0),
         |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
         |d AS (
         |  SELECT s.doc_id, SUM(s.v * q.qv) AS dot
         |  FROM s JOIN q ON s.bucket = q.bucket
         |  WHERE s.doc_id <> 0
         |  GROUP BY s.doc_id),
         |nm AS (SELECT doc_id, SQRT(SUM(v*v)) AS nrm FROM s WHERE doc_id <> 0 GROUP BY doc_id)
         |SELECT nm.doc_id,
         |  ROUND(COALESCE(COALESCE(d.dot, 0)/NULLIF(nm.nrm*qn.qnorm,0),0),6) AS score
         |FROM nm LEFT JOIN d ON nm.doc_id = d.doc_id, qn
         |WHERE qn.qnorm IS NOT NULL
         |ORDER BY score DESC, nm.doc_id
         |LIMIT 10""".stripMargin
    },
    // D21: the dim384 embed replay at the store width (64) with the
    // query leg built from the LITERAL query string — cleaned,
    // tokenized and hash-voted through the identical rule chain, no
    // self-exclusion (the query is external to the corpus).
    "q_search_text" -> {
      val hex = "strpos('0123456789abcdef', substr(md5(w),%d,1)) - 1"
      val value = (1 to 6).map(i => s"(${hex.format(i)}) * ${1L << (4 * (6 - i))}")
        .mkString(" + ")
      val clean = "trim(regexp_replace(regexp_replace(regexp_replace(" +
        "%s, '\\s+', ' ', 'g'), 'https?://\\S+', '', 'g'), " +
        "'[^\\w\\s.,!?;:\\-''\"]', '', 'g'))"
      s"""WITH cl AS (
         |  SELECT doc_id, ${clean.format("text")} AS cleaned
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(cleaned)), '\\s+')) AS w
         |  FROM cl),
         |v0 AS (
         |  SELECT doc_id, CAST(($value) % 64 AS INT) AS bucket,
         |    CASE WHEN substr(md5(w),7,1) <= '7' THEN 1.0 ELSE -1.0 END AS sign
         |  FROM tk),
         |s AS (SELECT doc_id, bucket, SUM(sign) AS v FROM v0 GROUP BY doc_id, bucket),
         |qtk AS (
         |  SELECT unnest(string_split_regex(lower(trim(
         |    ${clean.format(s"'${operators.EmbeddingStore.textQueryString}'")}
         |  )), '\\s+')) AS w),
         |qv0 AS (
         |  SELECT CAST(($value) % 64 AS INT) AS bucket,
         |    CASE WHEN substr(md5(w),7,1) <= '7' THEN 1.0 ELSE -1.0 END AS sign
         |  FROM qtk),
         |q AS (SELECT bucket, SUM(sign) AS qv FROM qv0 GROUP BY bucket),
         |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
         |d AS (
         |  SELECT s.doc_id, SUM(s.v * q.qv) AS dot
         |  FROM s JOIN q ON s.bucket = q.bucket
         |  GROUP BY s.doc_id),
         |nm AS (SELECT doc_id, SQRT(SUM(v*v)) AS nrm FROM s GROUP BY doc_id)
         |SELECT nm.doc_id,
         |  ROUND(COALESCE(COALESCE(d.dot, 0)/NULLIF(nm.nrm*qn.qnorm,0),0),6) AS score
         |FROM nm LEFT JOIN d ON nm.doc_id = d.doc_id, qn
         |WHERE qn.qnorm IS NOT NULL
         |ORDER BY score DESC, nm.doc_id
         |LIMIT 10""".stripMargin
    },
    "q_knn_join" ->
      """WITH ev AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, i, v AS qv FROM ev WHERE vec_id < 5),
        |qn AS (SELECT query_id, SQRT(SUM(qv*qv)) AS qnorm FROM q GROUP BY query_id),
        |s AS (
        |  SELECT q.query_id, ev.vec_id AS neighbor_id,
        |         SUM(ev.v*q.qv) AS dot, SQRT(SUM(ev.v*ev.v)) AS en
        |  FROM ev JOIN q ON ev.i = q.i
        |  WHERE ev.vec_id >= 5
        |  GROUP BY q.query_id, ev.vec_id),
        |r AS (
        |  SELECT s.query_id, s.neighbor_id,
        |         ROUND(COALESCE(s.dot/NULLIF(s.en*qn.qnorm,0),0),6) AS score,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY s.query_id
        |           ORDER BY ROUND(COALESCE(s.dot/NULLIF(s.en*qn.qnorm,0),0),6) DESC,
        |             s.neighbor_id) AS BIGINT) AS rnk
        |  FROM s JOIN qn ON s.query_id = qn.query_id)
        |SELECT query_id, neighbor_id, score, rnk FROM r
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    // D4: probes the SAME seeded two-level IVF cells as E5/D7 (one
    // shared numCellsFor rule, one shared replay scaffold) — score
    // the query against the cell centroids, prune to the 2 nearest
    // cells, exact cosine only inside those cells.
    "q_ann_ivf" ->
      s"""$ivfAssignCte,
         |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
         |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
         |prs AS (
         |  SELECT c.cell,
         |    ROUND(COALESCE(SUM(c.v*q.qv)
         |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(q.qv*q.qv)),0),0),6) AS cs
         |  FROM cent c JOIN q ON c.i = q.i GROUP BY c.cell),
         |probe AS (SELECT cell FROM prs ORDER BY cs DESC, cell LIMIT 2),
         |s AS (
         |  SELECT e.vec_id, a.cell, SUM(e.v*q.qv) AS dot, SQRT(SUM(e.v*e.v)) AS en
         |  FROM ev e JOIN asg a ON e.vec_id = a.vec_id JOIN q ON e.i = q.i
         |  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)
         |  GROUP BY e.vec_id, a.cell)
         |SELECT vec_id, cell,
         |  ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score
         |FROM s
         |ORDER BY score DESC, vec_id
         |LIMIT 10""".stripMargin,
    // D8: replays the PERSISTED index build end-to-end — first-round
    // assignment (shared scaffold), one Lloyd step (per-cell mean,
    // components 6dp-rounded), a SECOND two-level assignment against
    // the refined centroids (cells may be non-contiguous after the
    // Lloyd reassignment, so the coarse seeds are the rank-relabeled
    // kc lowest surviving cells, exactly like assignCells' zipWithIndex
    // relabel), then the probe: top-2 refined centroids by 6dp cosine,
    // exact top-10 inside only those cells.
    "q_search_ivf" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
         |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
         |prs AS (
         |  SELECT c.cell,
         |    ROUND(COALESCE(SUM(c.v*q.qv)
         |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(q.qv*q.qv)),0),0),6) AS cs
         |  FROM rc c JOIN q ON c.i = q.i GROUP BY c.cell),
         |probe AS (SELECT cell FROM prs ORDER BY cs DESC, cell LIMIT 2),
         |s AS (
         |  SELECT e.vec_id, a.cell, SUM(e.v*q.qv) AS dot, SQRT(SUM(e.v*e.v)) AS en
         |  FROM ev e JOIN asg2 a ON e.vec_id = a.vec_id JOIN q ON e.i = q.i
         |  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)
         |  GROUP BY e.vec_id, a.cell)
         |SELECT vec_id AS doc_id, cell,
         |  ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score
         |FROM s
         |ORDER BY score DESC, doc_id
         |LIMIT 10""".stripMargin,
    // D25: D8's persisted-index replay with the probe widened to 4
    // cells and the top-k LIMIT replaced by the θ predicate on the
    // SAME 6dp-rounded score — the boundary is engine-exact because
    // both engines compare the identical rounded double to the
    // identical literal.
    "q_search_radius" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
         |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
         |prs AS (
         |  SELECT c.cell,
         |    ROUND(COALESCE(SUM(c.v*q.qv)
         |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(q.qv*q.qv)),0),0),6) AS cs
         |  FROM rc c JOIN q ON c.i = q.i GROUP BY c.cell),
         |probe AS (SELECT cell FROM prs ORDER BY cs DESC, cell LIMIT 4),
         |s AS (
         |  SELECT e.vec_id, a.cell, SUM(e.v*q.qv) AS dot, SQRT(SUM(e.v*e.v)) AS en
         |  FROM ev e JOIN asg2 a ON e.vec_id = a.vec_id JOIN q ON e.i = q.i
         |  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)
         |  GROUP BY e.vec_id, a.cell),
         |sc AS (
         |  SELECT vec_id AS doc_id, cell,
         |    ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score
         |  FROM s)
         |SELECT doc_id, cell, score FROM sc
         |WHERE score >= 0.12
         |ORDER BY score DESC, doc_id""".stripMargin,
    // D28: D25's probe replay with the θ filter swapped for a label
    // equi-join (embeddings.label = 3) + LIMIT k under the total
    // order — the filtered-ANN plan's exact result.
    "q_search_ivf_filtered" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
         |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
         |prs AS (
         |  SELECT c.cell,
         |    ROUND(COALESCE(SUM(c.v*q.qv)
         |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(q.qv*q.qv)),0),0),6) AS cs
         |  FROM rc c JOIN q ON c.i = q.i GROUP BY c.cell),
         |probe AS (SELECT cell FROM prs ORDER BY cs DESC, cell LIMIT 4),
         |s AS (
         |  SELECT e.vec_id, a.cell, SUM(e.v*q.qv) AS dot, SQRT(SUM(e.v*e.v)) AS en
         |  FROM ev e JOIN asg2 a ON e.vec_id = a.vec_id JOIN q ON e.i = q.i
         |  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)
         |  GROUP BY e.vec_id, a.cell),
         |sc AS (
         |  SELECT s.vec_id AS doc_id, s.cell, m.label,
         |    ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score
         |  FROM s JOIN embeddings m ON s.vec_id = m.vec_id
         |  WHERE m.label = 3)
         |SELECT doc_id, cell, label, score FROM sc
         |ORDER BY score DESC, doc_id
         |LIMIT 10""".stripMargin,
    // D26: the shared seeded assignment (asg) split at the id
    // midpoint; shares are single exact-long divisions, the per-cell
    // |Δ| quantizes to micro-units BEFORE the TVD sum (order-exact).
    "q_corpus_drift" ->
      s"""$ivfAssignCte,
         |mid AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS m FROM embeddings),
         |cc AS (
         |  SELECT a.cell,
         |    CAST(SUM(CASE WHEN a.vec_id < t.m THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_base,
         |    CAST(SUM(CASE WHEN a.vec_id >= t.m THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_delta
         |  FROM asg a, mid t GROUP BY a.cell),
         |tt AS (
         |  SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
         |    CAST(SUM(n_delta) AS BIGINT) AS td
         |  FROM cc),
         |shr AS (
         |  SELECT cell, n_base, n_delta,
         |    CAST(n_base AS DOUBLE) / t.tb AS sb,
         |    CAST(n_delta AS DOUBLE) / t.td AS sd
         |  FROM cc, tt t),
         |mu AS (
         |  SELECT cell, n_base, n_delta, sb, sd,
         |    CAST(ROUND(ABS(sb - sd) * 1000000.0, 0) AS BIGINT) AS shift_mu
         |  FROM shr),
         |tv AS (SELECT CAST(SUM(shift_mu) AS BIGINT) AS s FROM mu)
         |SELECT cell, n_base, n_delta,
         |  ROUND(sb, 6) AS share_base, ROUND(sd, 6) AS share_delta, shift_mu,
         |  ROUND(CAST(tv.s AS DOUBLE) / 2000000.0, 6) AS tvd
         |FROM mu, tv
         |ORDER BY shift_mu DESC, cell""".stripMargin,
    // D19: D8's persisted-index replay generalized PER QUERY — the
    // probe choice, candidate scan and top-k all carry query_id, so
    // the oracle checks the per-query pruning/ranking (not just a
    // union of scores); queries are the D3 sample (vec_id < 5).
    "q_search_batch" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |$batchExactCtes
         |SELECT query_id, doc_id, cell, score, rnk FROM rr
         |WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,
    // D22: both legs over the IDENTICAL per-query probe choice — the
    // exact leg is D19's replay (shared batchExactCtes), the
    // compressed leg assigns candidates against the REFINED codebook
    // and ranks by per-query ADC (D12's rule per query); recall =
    // overlap of the two top-10s.
    "q_pq_recall" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |$pqCodebookCtes,
         |$batchExactCtes,
         |ex AS (SELECT query_id, doc_id FROM rr WHERE rnk <= 10),
         |cand2 AS (
         |  SELECT p.query_id, a.vec_id, a.cell FROM asg2 a
         |  JOIN probe p ON a.cell = p.cell
         |  WHERE a.vec_id <> p.query_id),
         |dsr AS (
         |  SELECT d.vec_id, d.sub, c.cid,
         |    CAST(SUM((d.zv - c.cv)*(d.zv - c.cv)) AS BIGINT) AS dist
         |  FROM z d JOIN cbk c ON c.sub = d.sub AND c.j = d.j
         |  WHERE d.vec_id IN (SELECT DISTINCT vec_id FROM cand2)
         |  GROUP BY d.vec_id, d.sub, c.cid),
         |codesr AS (
         |  SELECT vec_id, sub, cid FROM dsr
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) = 1),
         |qdr AS (
         |  SELECT d.vec_id AS query_id, d.sub, c.cid,
         |    CAST(SUM((d.zv - c.cv)*(d.zv - c.cv)) AS BIGINT) AS qdist
         |  FROM z d JOIN cbk c ON c.sub = d.sub AND c.j = d.j
         |  WHERE d.vec_id < 5
         |  GROUP BY d.vec_id, d.sub, c.cid),
         |ad AS (
         |  SELECT ca.query_id, ca.vec_id AS doc_id,
         |    CAST(SUM(qd.qdist) AS BIGINT) AS adist
         |  FROM cand2 ca
         |  JOIN codesr co ON co.vec_id = ca.vec_id
         |  JOIN qdr qd ON qd.query_id = ca.query_id
         |    AND qd.sub = co.sub AND qd.cid = co.cid
         |  GROUP BY ca.query_id, ca.vec_id),
         |pqr AS (
         |  SELECT query_id, doc_id FROM ad
         |  QUALIFY ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY adist, doc_id) <= 10),
         |he AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
         |       FROM ex GROUP BY query_id),
         |hh AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |       FROM ex JOIN pqr ON ex.query_id = pqr.query_id
         |         AND ex.doc_id = pqr.doc_id
         |       GROUP BY ex.query_id)
         |SELECT he.query_id, he.n_exact,
         |  CAST(COALESCE(hh.n_hit, 0) AS BIGINT) AS n_hit,
         |  ROUND(CAST(COALESCE(hh.n_hit, 0) AS DOUBLE)
         |    / CAST(he.n_exact AS DOUBLE), 6) AS recall
         |FROM he LEFT JOIN hh ON he.query_id = hh.query_id
         |ORDER BY he.query_id""".stripMargin,
    // D14: stage 1 replays D8's oracle (build CTEs + probe choice)
    // widened to 50 candidates; stage 2 is lexical Jaccard over
    // distinct word sets vs the query doc's text, blended with the
    // cosine in integer micro-units (both addends round from exact
    // integer-ratio doubles, so the sum is engine-exact).
    "q_search_rerank" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
         |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
         |prs AS (
         |  SELECT c.cell,
         |    ROUND(COALESCE(SUM(c.v*q.qv)
         |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(q.qv*q.qv)),0),0),6) AS cs
         |  FROM rc c JOIN q ON c.i = q.i GROUP BY c.cell),
         |probe AS (SELECT cell FROM prs ORDER BY cs DESC, cell LIMIT 2),
         |s AS (
         |  SELECT e.vec_id, SUM(e.v*q.qv) AS dot, SQRT(SUM(e.v*e.v)) AS en
         |  FROM ev e JOIN asg2 a ON e.vec_id = a.vec_id JOIN q ON e.i = q.i
         |  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)
         |  GROUP BY e.vec_id),
         |cand AS (
         |  SELECT vec_id AS doc_id,
         |    ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score
         |  FROM s ORDER BY score DESC, doc_id LIMIT 50),
         |wq AS (SELECT list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS wq
         |       FROM documents WHERE doc_id = 0),
         |lx AS (
         |  SELECT c.doc_id, c.score,
         |    len(list_intersect(list_distinct(string_split_regex(lower(trim(d.text)), '\\s+')), wq.wq)) AS common,
         |    len(list_distinct(string_split_regex(lower(trim(d.text)), '\\s+'))) AS nd,
         |    len(wq.wq) AS nq
         |  FROM cand c JOIN documents d ON d.doc_id = c.doc_id, wq)
         |SELECT doc_id, score,
         |  ROUND(CAST(common AS DOUBLE)/CAST(nd + nq - common AS DOUBLE), 6) AS lex_score,
         |  CAST(ROUND(score*1000000) AS BIGINT)
         |    + CAST(ROUND(CAST(common AS DOUBLE)/CAST(nd + nq - common AS DOUBLE)*1000000) AS BIGINT) AS rerank_mu
         |FROM lx
         |ORDER BY rerank_mu DESC, doc_id
         |LIMIT 10""".stripMargin,
    // D12: compressed-domain probe through the persisted IVF-PQ
    // index. Replays the build (shared CTEs) and D8's probe choice,
    // then the PQ layer: integer micro-unit quantization
    // (ROUND(v*1e6) AS BIGINT), seeded codebooks = the 16 lowest
    // vec_ids' subvectors (8 dims per subspace), code assignment =
    // argmin of EXACT integer squared L2 (ties to the lowest code
    // id), ADC = the sum of the query's integer subspace distances at
    // each candidate's codes. All-integer end to end, so the hash
    // matches bit-for-bit with no rounding contract needed.
    // D23: replays the int8 quantization in exact integer form
    // (micro-units → per-vector max-abs scale → half-up codes via
    // the same floor identity), the compressed integer-sum scoring
    // with its one 6dp division, the top-40 candidate cut, and the
    // exact rerank reusing the D1 cosine CTEs (embCte's s + qn).
    "q_search_sq8" ->
      s"""$embCte,
         |zq AS (SELECT i, CAST(ROUND(qv*1000000) AS BIGINT) AS zq FROM q),
         |zc AS (SELECT vec_id, i, CAST(ROUND(v*1000000) AS BIGINT) AS z
         |       FROM ev WHERE vec_id <> 0),
         |$sq8CtesBody,
         |cand AS (
         |  SELECT vec_id,
         |    ROUND(COALESCE(dotc/NULLIF(SQRT(nq2)*SQRT(nc2),0),0),6) AS sq8_score
         |  FROM sq1
         |  ORDER BY sq8_score DESC, vec_id
         |  LIMIT ${10 * operators.ScalarQuantizer.candidateFactor}),
         |exr AS (
         |  SELECT ca.vec_id, ca.sq8_score,
         |    ROUND(COALESCE(s.dot/NULLIF(s.en*(SELECT qnorm FROM qn),0),0),6) AS score
         |  FROM cand ca JOIN s ON s.vec_id = ca.vec_id)
         |SELECT vec_id, sq8_score, score FROM exr
         |ORDER BY score DESC, vec_id
         |LIMIT 10""".stripMargin,
    // D24: D12's probe replay (refined centroids, top-2 cells,
    // asg2 membership) with the shared sq8 code/scoring CTEs ranking
    // ONLY the probed cells' vectors.
    "q_search_ivfsq8" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
         |prs AS (
         |  SELECT c.cell,
         |    ROUND(COALESCE(SUM(c.v*q.qv)
         |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(q.qv*q.qv)),0),0),6) AS cs
         |  FROM rc c JOIN q ON c.i = q.i GROUP BY c.cell),
         |probe AS (SELECT cell FROM prs ORDER BY cs DESC, cell LIMIT 2),
         |zq AS (SELECT i, CAST(ROUND(qv*1000000) AS BIGINT) AS zq FROM q),
         |cand AS (
         |  SELECT a.vec_id, a.cell FROM asg2 a
         |  WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0),
         |zc AS (
         |  SELECT e.vec_id, e.i, CAST(ROUND(e.v*1000000) AS BIGINT) AS z
         |  FROM ev e WHERE e.vec_id IN (SELECT vec_id FROM cand)),
         |$sq8CtesBody
         |SELECT s1.vec_id AS doc_id, cd.cell,
         |  ROUND(COALESCE(dotc/NULLIF(SQRT(nq2)*SQRT(nc2),0),0),6) AS sq8_score
         |FROM sq1 s1 JOIN cand cd ON cd.vec_id = s1.vec_id
         |ORDER BY sq8_score DESC, s1.vec_id
         |LIMIT 10""".stripMargin,
    "q_search_ivfpq" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
         |prs AS (
         |  SELECT c.cell,
         |    ROUND(COALESCE(SUM(c.v*q.qv)
         |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(q.qv*q.qv)),0),0),6) AS cs
         |  FROM rc c JOIN q ON c.i = q.i GROUP BY c.cell),
         |probe AS (SELECT cell FROM prs ORDER BY cs DESC, cell LIMIT 2),
         |$pqCodebookCtes,
         |cand AS (
         |  SELECT a.vec_id, a.cell FROM asg2 a
         |  WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0),
         |ds AS (
         |  SELECT d.vec_id, d.sub, c.cid,
         |    CAST(SUM((d.zv - c.cv)*(d.zv - c.cv)) AS BIGINT) AS dist
         |  FROM z d JOIN cbk c ON c.sub = d.sub AND c.j = d.j
         |  WHERE d.vec_id IN (SELECT vec_id FROM cand)
         |  GROUP BY d.vec_id, d.sub, c.cid),
         |codes AS (
         |  SELECT vec_id, sub, cid FROM ds
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) = 1),
         |qd AS (
         |  SELECT d.sub, c.cid,
         |    CAST(SUM((d.zv - c.cv)*(d.zv - c.cv)) AS BIGINT) AS qdist
         |  FROM z d JOIN cbk c ON c.sub = d.sub AND c.j = d.j
         |  WHERE d.vec_id = 0
         |  GROUP BY d.sub, c.cid)
         |SELECT co.vec_id AS doc_id, ca.cell,
         |  CAST(SUM(q2.qdist) AS BIGINT) AS adist
         |FROM codes co
         |JOIN qd q2 ON q2.sub = co.sub AND q2.cid = co.cid
         |JOIN cand ca ON ca.vec_id = co.vec_id
         |GROUP BY co.vec_id, ca.cell
         |ORDER BY adist, doc_id
         |LIMIT 10""".stripMargin,
    // D13/q_advance_day: the daily-loop episode. The dedup half
    // replays as pure corpus facts (advanced watermark = MAX(doc_id);
    // state rows = shingle-bearing docs; delta = the upper half). The
    // index half: the ~half-corpus delta trips the 0.2 drift gate, so
    // the reported index is a REBUILT full-corpus index — identical
    // by construction to a fresh build (same seed rule, same 6dp
    // Lloyd step, gen reset to 0), i.e. exactly what the D9 oracle
    // replays with appended_frac = 0.
    "q_advance_day" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |$ivfStatsCtes,
         |$pqCodebookCtes,
         |$pqDistortionCtes,
         |dw AS (SELECT CAST(FLOOR(MAX(doc_id)/2.0) AS BIGINT) AS w0,
         |              MAX(doc_id) AS w1 FROM documents),
         |dws AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
         |        FROM documents),
         |dsh AS (SELECT doc_id,
         |    CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(
         |      range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
         |    ELSE [] END AS s FROM dws),
         |sdocs AS (SELECT doc_id FROM dsh WHERE len(s) > 0),
         |es AS (SELECT CAST(FLOOR(MAX(vec_id)/2.0) AS BIGINT) AS sp,
         |              CAST(COUNT(*) AS BIGINT) AS ne FROM embeddings)
         |SELECT
         |  (SELECT w1 FROM dw) AS dedup_watermark,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sdocs) AS state_docs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sdocs
         |     WHERE doc_id > (SELECT w0 FROM dw)) AS delta_docs,
         |  (SELECT CAST(COUNT(*) > 0.2 * (SELECT ne FROM es) AS BOOLEAN)
         |     FROM embeddings WHERE vec_id > (SELECT sp FROM es)) AS rebuild_ran,
         |  $ivfStatsCols
         |FROM agg""".stripMargin,
    // D9: replays build (shared ivfAssignCte + ivfRefinedCte), then
    // the stats row. rcf casts the refined centroids through FLOAT —
    // the engine STORES centroids as array<float>, so the oracle must
    // score against the float-quantized values or ~0.5% of per-vector
    // cosines would round differently in the 6th decimal and perturb
    // the micro-unit mean. The built index has no appended rows, so
    // appended_frac replays as 0.
    "q_ivf_stats" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |$ivfStatsCtes,
         |$pqCodebookCtes,
         |$pqDistortionCtes
         |SELECT $ivfStatsCols
         |FROM agg""".stripMargin,
    // D20/q_bootstrap: the COLD-START episode — the backlog walk is
    // pure arithmetic over the corpus size (ceil(n/batch) bounded
    // updates, watermark = max id), the store count replays as n, and
    // the freshly-built index is exactly what the D9 stats machinery
    // already replays.
    "q_bootstrap" ->
      s"""$ivfAssignCte,
         |$ivfRefinedCte,
         |$ivfStatsCtes,
         |$pqCodebookCtes,
         |$pqDistortionCtes,
         |eb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |              CAST(MAX(vec_id) AS BIGINT) AS mx FROM embeddings)
         |SELECT
         |  (SELECT CAST(CEIL(CAST(n AS DOUBLE) / ${operators.Bootstrap.batchSize}.0) AS BIGINT) FROM eb) AS n_updates,
         |  (SELECT n FROM eb) AS total_processed,
         |  (SELECT mx FROM eb) AS final_watermark,
         |  (SELECT n FROM eb) AS store_rows,
         |  $ivfStatsCols
         |FROM agg""".stripMargin,
    // Store-coverage stat (reference get_database_stats, engine.py:228):
    // embeddings.vec_id keys events.event_id as in D6.
    "q_embedding_coverage" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS total_events,
        |  CAST(COUNT(em.vec_id) AS BIGINT) AS embedded,
        |  ROUND(CAST(COUNT(em.vec_id) AS DOUBLE) * 100 / COUNT(*), 1) AS coverage_pct
        |FROM events ev LEFT JOIN embeddings em ON ev.event_id = em.vec_id""".stripMargin,
    "q_vector_norms" ->
      """WITH ev AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v, len(embedding) AS d
        |  FROM embeddings)
        |SELECT vec_id, CAST(MIN(d) AS BIGINT) AS dim,
        |  ROUND(SQRT(SUM(v*v)),6) AS norm,
        |  ROUND(MAX(ABS(v)),6) AS max_abs
        |FROM ev GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin,
    // B + C families over events. Session numbering uses ROWS frames on
    // a unique (ts, event_id) order so running sums agree; DuckDB window
    // SUM(int) returns HUGEINT, hence the explicit BIGINT casts.
    "q_time_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY hour_start, event_type""".stripMargin,
    "q_sessionize" ->
      s"""WITH $sessionCtesBody
        |SELECT user_id, sess_id, COUNT(*) AS n_events,
        |  MIN(ts) AS sess_start, MAX(ts) AS sess_end,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s
        |GROUP BY user_id, sess_id""".stripMargin,
    // B17: the SAME session CTE chain (one gap rule), then per-session
    // ordered type concatenation truncated at the engine's depth cap.
    "q_session_paths" ->
      s"""WITH $sessionCtesBody,
        |p0 AS (
        |  SELECT user_id, sess_id, event_type, ts, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, sess_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM s),
        |p1 AS (
        |  SELECT user_id, sess_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM p0 WHERE rn <= ${operators.EventOps.pathDepth}
        |  GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n
        |FROM p1 GROUP BY path
        |ORDER BY n DESC, path
        |LIMIT 10""".stripMargin,
    // B18: identical stats expression — exact decimal sums cast to
    // double once, variance clamped at 0, z rounded 6dp pre-threshold.
    "q_anomaly" ->
      s"""WITH st AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))
        |      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
        |  FROM events GROUP BY 1
        |  HAVING COUNT(*) >= ${operators.EventOps.anomalyMinEvents}),
        |sd AS (
        |  SELECT user_id, s / n AS mean,
        |    SQRT(GREATEST(ss / n - (s / n) * (s / n), 0.0)) AS std
        |  FROM st),
        |z AS (
        |  SELECT e.user_id, e.event_id, e.ts, e.value,
        |    ROUND((e.value - sd.mean) / sd.std, 6) AS z
        |  FROM events e JOIN sd ON e.user_id = sd.user_id
        |  WHERE sd.std > 0.0)
        |SELECT * FROM z WHERE ABS(z) > ${operators.EventOps.anomalyZ}
        |ORDER BY user_id, event_id""".stripMargin,
    // B16: the same lead window; probabilities divide the pair count
    // by the prev type's outgoing total, both exact longs.
    "q_event_transitions" ->
      """WITH o AS (
        |  SELECT event_type AS prev_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (
        |  SELECT prev_type, next_type, COUNT(*) AS n
        |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS tot
        |       FROM c GROUP BY 1)
        |SELECT c.prev_type, c.next_type, c.n,
        |  ROUND(CAST(c.n AS DOUBLE) / CAST(tt.tot AS DOUBLE), 6) AS p
        |FROM c JOIN tt ON c.prev_type = tt.prev_type
        |ORDER BY c.prev_type, c.next_type""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  ROUND(CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS k_avg
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_event_stats" ->
      """SELECT COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events""".stripMargin,
    "q_incremental" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events
        |WHERE ts > TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,
    // B5b reads the date-partitioned rewrite of the SAME rows, so the
    // oracle is B5's flat-table scan verbatim (the partition predicate
    // is implied by the watermark and drops nothing).
    "q_incremental_pruned" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events
        |WHERE ts > TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,
    // B7: DuckDB's native ASOF JOIN — an independent implementation of
    // the as-of operator (the Spark side is union-tag + running last),
    // so the check is cross-engine, not a plan replay. B8's oracle is
    // the plain inequality join the Spark side's binning must equal.
    "q_asof_join" ->
      """SELECT e.event_id AS error_id, e.user_id AS user_id,
        |  e.ts AS error_ts, c.event_id AS click_id, c.ts AS click_ts,
        |  c.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,
    "q_range_join" ->
      """SELECT v.event_id AS view_id, e.event_id AS error_id,
        |  v.user_id AS user_id, v.ts AS view_ts, e.ts AS error_ts
        |FROM events v JOIN events e
        |  ON v.user_id = e.user_id
        | AND v.event_type = 'view' AND e.event_type = 'error'
        | AND e.ts >= v.ts AND e.ts <= v.ts + INTERVAL 1 DAY""".stripMargin,
    // B12: replays Spark's native session_window semantics by hand —
    // new session at gap >= 30min (native merging is on STRICT window
    // overlap), end bound = last event + gap.
    "q_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM o),
        |s AS (
        |  SELECT *, SUM(new_sess) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts) AS sess_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS sess_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s
        |GROUP BY user_id, sid
        |ORDER BY user_id, sess_start""".stripMargin,
    // B10/B11: floor-of-IEEE-division binning is engine-identical;
    // the resample oracle replays the same grid (generate_series is
    // inclusive like Spark's sequence) with an explicit ROWS frame so
    // last_value IGNORE NULLS matches the Spark running fill.
    "q_histogram" ->
      """SELECT event_type, CAST(FLOOR(value / 5.0) AS BIGINT) AS bin, COUNT(*) AS n
        |FROM events
        |GROUP BY event_type, CAST(FLOOR(value / 5.0) AS BIGINT)
        |ORDER BY event_type, bin""".stripMargin,
    // B13: CAST(ts AS DATE) per the resample convention; date_diff
    // day offsets as BIGINT to match the engine's long cast.
    "q_retention" ->
      """WITH d AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, day FROM d),
        |j AS (
        |  SELECT f.cohort_day,
        |    CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset
        |  FROM a JOIN f ON a.user_id = f.user_id),
        |c AS (
        |  SELECT cohort_day, day_offset, COUNT(*) AS n_active
        |  FROM j GROUP BY cohort_day, day_offset),
        |s AS (SELECT cohort_day, COUNT(*) AS cohort_n FROM f GROUP BY cohort_day)
        |SELECT c.cohort_day, c.day_offset, c.n_active, s.cohort_n,
        |  ROUND(CAST(c.n_active AS DOUBLE) / CAST(s.cohort_n AS DOUBLE), 6)
        |    AS retention
        |FROM c JOIN s ON c.cohort_day = s.cohort_day
        |ORDER BY c.cohort_day, c.day_offset""".stripMargin,
    // B14: the same reverse cumulative min — "next purchase" = min
    // purchase ts at-or-after the click in the (ts, event_id) order.
    "q_sequence_match" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |m AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |    ROWS UNBOUNDED PRECEDING) AS next_purchase
        |  FROM ev),
        |c AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CASE WHEN next_purchase IS NOT NULL
        |      AND next_purchase <= ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS conv
        |  FROM m WHERE event_type = 'click')
        |SELECT day, COUNT(*) AS n_clicks,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  ROUND(CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS conversion_rate
        |FROM c GROUP BY day ORDER BY day""".stripMargin,
    // B15: the same interval RANGE frame — timestamp-minus-interval
    // is exact microsecond arithmetic on both engines.
    "q_rolling_stats" ->
      """SELECT event_id, user_id, ts, value,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    // B19: the oracle replays the deterministic history derivation
    // (first order + 365 days opens the UPGRADED version) and the
    // literal half-open-window join; money totals per the DECIMAL
    // convention.
    "q_pit_lookup" ->
      """WITH upg AS (
        |  SELECT o_custkey AS ck,
        |    MIN(o_orderdate) + INTERVAL 365 DAY AS upg
        |  FROM orders GROUP BY o_custkey),
        |dim AS (
        |  SELECT c_custkey AS k, c_mktsegment, upg
        |  FROM customer JOIN upg ON c_custkey = ck),
        |hist AS (
        |  SELECT k, c_mktsegment AS segment,
        |    CAST(NULL AS TIMESTAMP) AS valid_from, upg AS valid_to FROM dim
        |  UNION ALL
        |  SELECT k, 'UPGRADED' AS segment,
        |    upg AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to FROM dim)
        |SELECT segment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN hist ON o_custkey = k
        |  AND (valid_from IS NULL OR valid_from <= o_orderdate)
        |  AND (valid_to IS NULL OR o_orderdate < valid_to)
        |GROUP BY segment
        |ORDER BY segment""".stripMargin,
    "q_resample" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
        |spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM spans)
        |SELECT s.user_id, s.day,
        |  CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
        |  last_value(d.day_value IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY s.user_id, s.day""".stripMargin,
    // B9: both engines interpolate linearly on sorted values; 6-dp
    // rounding absorbs the differing FP evaluation order.
    "q_percentiles" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(value, 0.95), 6) AS p95
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // B9b: the oracle pins the group sizes and the literal 1s for
    // the in-row rank audit — the only cross-engine-checkable facts
    // about an engine-seeded quantile sketch.
    "q_percentiles_approx" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(1 AS BIGINT) AS p50_ok,
        |  CAST(1 AS BIGINT) AS p90_ok,
        |  CAST(1 AS BIGINT) AS p95_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_msg_context" ->
      """SELECT event_id, user_id, ts,
        |  COALESCE(lag(props) OVER (PARTITION BY user_id ORDER BY ts, event_id), '') AS prev_msg,
        |  COALESCE(lead(props) OVER (PARTITION BY user_id ORDER BY ts, event_id), '') AS next_msg
        |FROM events""".stripMargin,
    // C3: candidate names are deterministic synthetics shaped to trip
    // the reference's _is_file_name rules (user_mapper.py:235), which
    // the WHERE below replays rule-for-rule.
    "q_user_names" ->
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |$validNamesCte
         |SELECT u.user_id,
         |  COALESCE(n.name, 'User ' || CAST(u.user_id AS VARCHAR)) AS display_name
         |FROM u LEFT JOIN named n ON u.user_id = n.uid
         |ORDER BY u.user_id""".stripMargin,
    // C5: content synthesized per event to cover all four reference
    // shapes + the non-type-1 gate (processor.py:117,133); the CASE
    // chain replays the reference's decision order. json_valid guards
    // first — DuckDB's json_extract_string THROWS on malformed JSON.
    "q_extract_text" ->
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 5 = 0 THEN 2 ELSE 1 END AS mt,
        |    CASE WHEN event_id % 4 = 0
        |           THEN '{"text": "t' || CAST(event_id AS VARCHAR) || '"}'
        |         WHEN event_id % 4 = 1
        |           THEN '[{"text": "a' || CAST(event_id AS VARCHAR)
        |             || '"}, {"k": 1}, {"text": "b' || CAST(event_id AS VARCHAR) || '"}]'
        |         WHEN event_id % 4 = 2 THEN 'plain ' || CAST(event_id AS VARCHAR)
        |         ELSE props END AS content
        |  FROM events)
        |SELECT event_id, CAST(mt AS BIGINT) AS msg_type,
        |  COALESCE(CASE
        |    WHEN mt <> 1 THEN content
        |    WHEN NOT json_valid(content) THEN content
        |    WHEN json_type(content) = 'OBJECT'
        |         AND json_extract_string(content, '$.text') IS NOT NULL
        |      THEN json_extract_string(content, '$.text')
        |    WHEN json_type(content) = 'ARRAY'
        |      THEN array_to_string(json_extract_string(content, '$[*].text'), ' ')
        |    ELSE content END, '') AS extracted
        |FROM e
        |ORDER BY event_id""".stripMargin,
    // C6: session ids synthesized per user to cover every branch of the
    // reference's conversation naming (processor.py:192-255): type is
    // 'group' iff the id starts with 'group-'; private ids resolve
    // through the user directory ('User {sid}' when the raw id misses);
    // group names try 'n' (with the <100-char guard), then
    // 'gn'/'group_name', then the session id.
    "q_conversation_name" ->
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |$validNamesCte,
         |dir AS (
         |  SELECT u.user_id,
         |    COALESCE(n.name, 'User ' || CAST(u.user_id AS VARCHAR)) AS display_name
         |  FROM u LEFT JOIN named n ON u.user_id = n.uid),
         |c AS (
         |  SELECT user_id, display_name,
         |    CASE WHEN user_id % 4 = 0 THEN 'buddy-' || CAST(user_id AS VARCHAR)
         |         WHEN user_id % 4 = 1 THEN CAST(user_id AS VARCHAR)
         |         WHEN user_id % 4 = 2 THEN 'group-' || CAST(user_id AS VARCHAR)
         |         ELSE 'room-' || CAST(user_id AS VARCHAR) END AS session_id,
         |    CASE WHEN user_id % 3 = 0 THEN
         |      CASE WHEN user_id % 6 = 0 THEN '{"n": "' || repeat('x', 120) || '"}'
         |           ELSE '{"n": "Team ' || CAST(user_id AS VARCHAR) || '"}' END
         |    END AS nmsg,
         |    CASE WHEN user_id % 3 = 1
         |           THEN '{"gn": "G' || CAST(user_id AS VARCHAR) || '"}'
         |         WHEN user_id % 3 = 2
         |           THEN '{"group_name": "GN' || CAST(user_id AS VARCHAR) || '"}'
         |    END AS cjson
         |  FROM dir)
         |SELECT user_id, session_id,
         |  CASE WHEN starts_with(session_id, 'group-') THEN 'group'
         |       ELSE 'private' END AS conv_type,
         |  CASE WHEN NOT starts_with(session_id, 'group-') THEN
         |      CASE WHEN starts_with(session_id, 'buddy-')
         |             OR session_id = CAST(user_id AS VARCHAR)
         |           THEN display_name
         |           ELSE 'User ' || session_id END
         |    ELSE COALESCE(
         |      CASE WHEN length(regexp_replace(json_extract_string(nmsg, '$$.n'), '$stripRe', '', 'g')) > 0
         |            AND length(regexp_replace(json_extract_string(nmsg, '$$.n'), '$stripRe', '', 'g')) < 100
         |           THEN regexp_replace(json_extract_string(nmsg, '$$.n'), '$stripRe', '', 'g') END,
         |      CASE WHEN length(regexp_replace(COALESCE(
         |              json_extract_string(cjson, '$$.gn'),
         |              json_extract_string(cjson, '$$.group_name')), '$stripRe', '', 'g')) > 0
         |           THEN regexp_replace(COALESCE(
         |              json_extract_string(cjson, '$$.gn'),
         |              json_extract_string(cjson, '$$.group_name')), '$stripRe', '', 'g') END,
         |      session_id) END AS conv_name
         |FROM c
         |ORDER BY user_id""".stripMargin,
    "q_conversation_agg" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // G1. Spark hashes/measures the binary payload; DuckDB the VARCHAR
    // (same UTF-8 bytes, so md5/strlen agree). Window/height stubs are
    // integer arithmetic, exact on both sides.
    "q_multimodal_meta" ->
      """WITH m AS (
        |  SELECT doc_id, source,
        |    CAST(strlen(text) AS BIGINT) AS n_bytes,
        |    md5(text) AS payload_md5,
        |    CAST(strlen(text) % 640 AS BIGINT) AS stub_width,
        |    CAST((strlen(text) * 7) % 480 AS BIGINT) AS stub_height
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  COUNT(DISTINCT payload_md5) AS n_uniq_payloads,
        |  MIN(n_bytes) AS min_bytes, MAX(n_bytes) AS max_bytes,
        |  CAST(SUM(stub_width * stub_height) AS BIGINT) AS stub_pixels
        |FROM m
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // G2/G3: the payload is ASCII text cast to binary, so DuckDB's
    // char-indexed substr over the VARCHAR slices the same bytes the
    // Spark binary substr does (same equivalence G1 relies on).
    "q_media_chunks" ->
      """WITH c AS (
        |  SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS nb,
        |    LEAST(CAST(CEIL(strlen(text)/64.0) AS BIGINT), 33554430) AS nchunks
        |  FROM documents WHERE strlen(text) > 0),
        |e AS (SELECT doc_id, text, nb, unnest(range(0, nchunks)) AS ci FROM c)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  CAST(LEAST(64, nb - ci*64) AS BIGINT) AS chunk_bytes,
        |  md5(substr(text, CAST(ci*64 + 1 AS BIGINT), 64)) AS chunk_md5
        |FROM e
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text, CAST(strlen(text) // 16 AS BIGINT) AS n_frames
        |  FROM documents WHERE strlen(text) >= 16),
        |s AS (SELECT doc_id, text, n_frames,
        |        unnest(range(0, LEAST(n_frames, 134217726), 4)) AS fi FROM f),
        |h AS (
        |  SELECT doc_id, n_frames,
        |    md5(substr(text, CAST(fi*16 + 1 AS BIGINT), 16)) AS fmd5
        |  FROM s)
        |SELECT doc_id, n_frames, COUNT(*) AS n_sampled,
        |  MIN(fmd5) AS min_frame_md5
        |FROM h
        |GROUP BY doc_id, n_frames
        |ORDER BY doc_id""".stripMargin,
    // G4: the oracle recomputes the chunk votes (2 hex chars parsed
    // positionally → bucket, 3rd char → sign) and takes the cosine
    // SPARSELY (bucket equi-join) — the dense zero components the
    // Spark side materializes contribute nothing to dot or norms, and
    // the vote sums are small integers, exact in float and double
    // alike, so the 6dp scores agree bit-for-bit.
    // ASCII-corpus assumption (G2-G5 ORACLES ONLY): the Spark side
    // slices the BINARY payload by bytes; DuckDB 1.0 has no BLOB
    // substr/md5 (probed), so this replay slices VARCHAR
    // (character-indexed) while counting with strlen (bytes). On
    // ASCII the two agree exactly — every shipped corpus is ASCII.
    // The limit is STRUCTURAL in DuckDB 1.0, not fixable here: a
    // byte slice can split a multi-byte char, and the invalid-UTF-8
    // fragment is not even representable as VARCHAR for md5().
    // The ENGINE side is proven byte-correct on non-ASCII corpora
    // (2/3/4-byte chars straddling chunk/frame/stride boundaries)
    // against independent JVM ground truth — MultimodalSpec's
    // "non-ASCII:" cases. F10/q_text_chunks is CHARACTER-sliced on
    // both engines (code points both sides) and its oracle verified
    // non-ASCII-exact against DuckDB directly; it carries no such
    // assumption.
    "q_media_embedding" ->
      """WITH c AS (
        |  SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS nb,
        |    LEAST(CAST(CEIL(strlen(text)/64.0) AS BIGINT), 33554430) AS nchunks
        |  FROM documents WHERE strlen(text) > 0),
        |e AS (
        |  SELECT doc_id, md5(substr(text, CAST(ci*64 + 1 AS BIGINT), 64)) AS h
        |  FROM (SELECT doc_id, text, unnest(range(0, nchunks)) AS ci FROM c)),
        |v0 AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(h,1,1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(h,2,1)) - 1)) % 32 AS bucket,
        |    CASE WHEN substr(h,3,1) <= '7' THEN 1.0 ELSE -1.0 END AS sign
        |  FROM e),
        |s AS (SELECT doc_id, bucket, SUM(sign) AS v FROM v0 GROUP BY doc_id, bucket),
        |q AS (SELECT bucket, v AS qv FROM s WHERE doc_id = 0),
        |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
        |d AS (
        |  SELECT s.doc_id, SUM(s.v * q.qv) AS dot
        |  FROM s JOIN q ON s.bucket = q.bucket
        |  WHERE s.doc_id <> 0
        |  GROUP BY s.doc_id),
        |nm AS (SELECT doc_id, SQRT(SUM(v*v)) AS nrm FROM s WHERE doc_id <> 0 GROUP BY doc_id)
        |SELECT nm.doc_id,
        |  ROUND(COALESCE(COALESCE(d.dot, 0)/NULLIF(nm.nrm*(SELECT qnorm FROM qn),0),0),6) AS score
        |FROM nm LEFT JOIN d ON nm.doc_id = d.doc_id
        |ORDER BY score DESC, nm.doc_id
        |LIMIT 10""".stripMargin,
    // G5: the oracle replays the stride rule and the kept-block fold
    // per row (list_transform + array_to_string — DuckDB's analogue of
    // the Spark transform+array_join); 134217725 = Int.MaxValue/16 - 2,
    // the Int-addressable offset cap both engines apply.
    "q_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS nb
        |  FROM documents WHERE strlen(text) > 0),
        |d AS (
        |  SELECT doc_id, text, nb, nb % 640 AS w, (nb * 7) % 480 AS h,
        |    GREATEST(1, CAST(CEIL(GREATEST(nb % 640, (nb * 7) % 480) / 224.0) AS BIGINT)) AS stride,
        |    CAST(CEIL(nb / 16.0) AS BIGINT) AS nblocks
        |  FROM m),
        |k AS (
        |  SELECT *, LEAST(CAST(FLOOR((nblocks - 1) / stride) AS BIGINT) + 1,
        |                  CAST(FLOOR(134217725 / stride) AS BIGINT) + 1) AS kept
        |  FROM d),
        |r AS (
        |  SELECT doc_id, w, h, stride,
        |    array_to_string(list_transform(range(0, kept),
        |      i -> substr(text, CAST(i * stride * 16 + 1 AS BIGINT), 16)), '') AS rp
        |  FROM k)
        |SELECT doc_id, w AS stub_width, h AS stub_height, stride,
        |  CAST(CEIL(w / stride) AS BIGINT) AS new_w,
        |  CAST(CEIL(h / stride) AS BIGINT) AS new_h,
        |  CAST(strlen(rp) AS BIGINT) AS resized_bytes, md5(rp) AS resized_md5
        |FROM r""".stripMargin,
    // F12: the oracle replays the two-level prefix sum as the
    // semantically identical single-level window cumsum (shard order
    // is doc_id order). Window/agg SUM(BIGINT) is HUGEINT in DuckDB —
    // cast back so schemas match.
    "q_pack_sequences" ->
      """WITH tok AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (
        |  SELECT source, nt,
        |    CAST(SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - nt AS start
        |  FROM tok),
        |b AS (
        |  SELECT source, nt, CAST(FLOOR(start / 2048.0) AS BIGINT) AS bin,
        |    (nt > 0 AND FLOOR((start + nt - 1) / 2048.0) > FLOOR(start / 2048.0)) AS spanning
        |  FROM c),
        |p AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |    CAST(SUM(CASE WHEN spanning THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
        |  FROM b GROUP BY source),
        |mx AS (
        |  SELECT source, MAX(c) AS max_docs_per_seq FROM (
        |    SELECT source, bin, COUNT(*) AS c FROM b GROUP BY source, bin)
        |  GROUP BY source)
        |SELECT p.source, n_docs, total_tokens,
        |  CAST(CEIL(total_tokens / 2048.0) AS BIGINT) AS n_seqs,
        |  max_docs_per_seq, n_spanning,
        |  ROUND(total_tokens / NULLIF(CEIL(total_tokens / 2048.0) * 2048.0, 0.0), 6) AS fill
        |FROM p JOIN mx ON p.source = mx.source
        |ORDER BY p.source""".stripMargin,
    // F13: p^alpha quantized to integer micro-units before the
    // normalization sum (order-independent, engine-exact); every
    // output double then derives from exact BIGINTs via identical
    // IEEE division, so 6dp rounding agrees.
    "q_mix_temperature" ->
      s"""WITH $tempMicroCtesBody
        |SELECT source, n_docs, n_tokens,
        |  ROUND(p, 6) AS p_natural,
        |  ROUND(micro / (SELECT mtot FROM mt), 6) AS w_temp,
        |  ROUND((micro / (SELECT mtot FROM mt)) / p, 6) AS boost
        |FROM m
        |ORDER BY source""".stripMargin,
    // F31: F13's weight CTEs verbatim (shared tempMicroCtesBody);
    // target = exact HUGEINT (budget·micro)//mtot, cap/deficit in
    // exact longs, one 6dp division for the display epochs.
    "q_epoch_plan" ->
      s"""WITH $tempMicroCtesBody,
        |pl AS (
        |  SELECT source, n_tokens,
        |    CAST(ROUND(micro / (SELECT mtot FROM mt), 6) AS DOUBLE) AS w_temp,
        |    CAST((CAST(${graft.operators.TextAnalysis.epochBudgetMult}
        |        * (SELECT tot FROM tot) AS HUGEINT) * micro)
        |      // (SELECT mtot FROM mt) AS BIGINT) AS target_tokens
        |  FROM m)
        |SELECT source, n_tokens AS unique_tokens, w_temp, target_tokens,
        |  LEAST(target_tokens,
        |    ${graft.operators.TextAnalysis.epochCap} * n_tokens) AS alloc_tokens,
        |  ROUND(CAST(LEAST(target_tokens,
        |      ${graft.operators.TextAnalysis.epochCap} * n_tokens) AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE), 6) AS epochs,
        |  target_tokens - LEAST(target_tokens,
        |    ${graft.operators.TextAnalysis.epochCap} * n_tokens) AS deficit_tokens
        |FROM pl
        |ORDER BY source""".stripMargin,
    // C1 + F-family. DuckDB regexp_replace needs the explicit 'g' flag
    // (Spark replaces all matches by default); token lists agree because
    // both sides trim before splitting.
    "q_text_clean" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(
        |    text, '\s+', ' ', 'g'), 'https?://\S+', '', 'g'),
        |    '[^\w\s.,!?;:\-''"]', '', 'g')) AS cleaned
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // F1: four stopword profiles + the CJK script-range count (code
    // points U+4E00–U+9FFF; length/regexp_replace are code-point-
    // based on both engines), argmax with zh LAST in the tie chain.
    "q_lang_id" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS c_en,
        |    CAST(len(list_filter(ws, x -> x IN ('el','la','de','y','en'))) AS BIGINT) AS c_es,
        |    CAST(len(list_filter(ws, x -> x IN ('der','die','und','das','mit'))) AS BIGINT) AS c_de,
        |    CAST(len(list_filter(ws, x -> x IN ('le','les','une','et','dans'))) AS BIGINT) AS c_fr,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS c_zh
        |  FROM w)
        |SELECT doc_id, c_en, c_es, c_de, c_fr, c_zh,
        |  CASE WHEN c_en = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'en'
        |       WHEN c_es = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'es'
        |       WHEN c_de = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'de'
        |       WHEN c_fr = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS BIGINT) AS n_chars_m,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_words, n_chars_m,
        |  ROUND(CAST(n_punct AS DOUBLE)/NULLIF(CAST(n_chars_m AS DOUBLE), 0.0), 6) AS punct_ratio,
        |  ROUND(CAST(n_stop AS DOUBLE)/NULLIF(CAST(n_words AS DOUBLE), 0.0), 6) AS stop_ratio,
        |  ROUND(0.4*least(1.0, CAST(n_words AS DOUBLE)/50.0)
        |      + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/NULLIF(CAST(n_chars_m AS DOUBLE), 0.0))
        |      + 0.3*least(1.0, CAST(n_stop AS DOUBLE)/NULLIF(CAST(n_words AS DOUBLE), 0.0)*5.0), 6) AS quality
        |FROM b
        |ORDER BY doc_id""".stripMargin,
    // F17: per-row mirror of the Gopher gates; `kept` compares the
    // UNROUNDED exact-integer ratios like the engine (display columns
    // round to 6dp); Spark's regex split and DuckDB's string_split
    // both keep trailing empty lines, so the line stats agree.
    "q_gopher_rules" -> gopherOracle,
    // D16: the Okapi formula with every double chain in ONE fixed
    // association on both engines (explicit parens around the norm
    // factor — a*(b/c), never (a*b)/c); per-(doc,term) contribution
    // quantized to micro before the per-doc sum (F15 technique).
    "q_search_bm25" ->
      s"""WITH $bm25CtesBody
         |SELECT doc_id, n_terms, ROUND(CAST(mu AS DOUBLE) / 1e6, 6) AS score
         |FROM bmd
         |ORDER BY mu DESC, doc_id
         |LIMIT 10""".stripMargin,
    // D17: both legs replayed with their own total orders, ranks
    // via ROW_NUMBER subqueries (cast to BIGINT like the engine),
    // rrf = the exact IEEE two-term sum, 6dp display round; fusion
    // over the FULL OUTER of the two top-50s.
    "q_search_hybrid" ->
      s"""$embCte,
         |semall AS (
         |  SELECT vec_id AS doc_id,
         |    ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS cs
         |  FROM s),
         |sem AS (SELECT doc_id, sem_rank FROM (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id) AS sem_rank
         |  FROM semall) WHERE sem_rank <= 50),
         |$bm25CtesBody,
         |lex AS (SELECT doc_id, lex_rank FROM (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY mu DESC, doc_id) AS lex_rank
         |  FROM bmd) WHERE lex_rank <= 50),
         |f AS (
         |  SELECT COALESCE(sem.doc_id, lex.doc_id) AS doc_id,
         |    sem_rank, lex_rank,
         |    COALESCE(1.0 / (sem_rank + 60), 0.0)
         |      + COALESCE(1.0 / (lex_rank + 60), 0.0) AS rrf
         |  FROM sem FULL OUTER JOIN lex ON sem.doc_id = lex.doc_id)
         |SELECT doc_id,
         |  CAST(COALESCE(sem_rank, 0) AS BIGINT) AS sem_rank,
         |  CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
         |  ROUND(rrf, 6) AS rrf
         |FROM f
         |ORDER BY f.rrf DESC, doc_id
         |LIMIT 10""".stripMargin,
    // F18: unigram+bigram features hashed to 256 md5-prefix buckets
    // (the F5 bucket technique); per-bucket target/raw log-ratio
    // quantized to integer micro-units BEFORE the per-doc weighted
    // mean (the F15 technique), so both engines replay the weight
    // bit-for-bit; bigrams via the positional self-join (Spark uses
    // one lead window — same consecutive pairs).
    "q_dsir_weights" -> dsirOracle,
    // F19: the F4 shingle rule (1-based stop-exclusive range == the
    // engine's 0-based transform), doc-frequency count, total order
    // on (df DESC, ngram ASC) — the LIMIT boundary is deterministic
    // on both engines.
    "q_ngram_topk" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
        |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
        |    ELSE [] END) AS ngram
        |  FROM w),
        |dfq AS (SELECT ngram, COUNT(*) AS df FROM sh GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT ngram, df,
        |  ROUND(CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS df_share
        |FROM dfq, n
        |ORDER BY df DESC, ngram
        |LIMIT 50""".stripMargin,
    // F26: nests pipelineKeptCtesBody for its `q` quality CTE (the
    // ONE quality definition — unreferenced CTEs are free) and
    // replays the SIMPLE per-source PERCENT_RANK window; the engine's
    // two-level bin rank is provably the same function, which is what
    // the row checks. doc_id in the ORDER BY makes RANK ≡ ROW_NUMBER
    // (no ties), so PERCENT_RANK matches the engine's (rnk−1)/(n−1).
    "q_quality_buckets" ->
      s"""WITH $pipelineKeptCtesBody,
         |qq AS (
         |  SELECT doc_id, source, quality FROM q WHERE quality IS NOT NULL),
         |prr AS (
         |  SELECT doc_id, source, quality,
         |    PERCENT_RANK() OVER (
         |      PARTITION BY source ORDER BY quality DESC, doc_id) AS p
         |  FROM qq)
         |SELECT doc_id, source, quality, ROUND(p, 6) AS pct_rank,
         |  CASE WHEN p <= 1.0/3 THEN 'head'
         |       WHEN p <= 2.0/3 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM prr
         |ORDER BY source, doc_id""".stripMargin,
    // F25: the funnel counts read off pipelineKeptCtesBody's OWN
    // intermediate CTEs (kept0 / flagged / kept / canon — the exact
    // strings F9/H1/H2 replay, no re-derivation), unioned into the
    // 4 stage rows.
    "q_pipeline_funnel" ->
      s"""WITH $pipelineKeptCtesBody,
         |counts AS (
         |  SELECT
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n0,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM kept0) AS n1,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM kept0
         |     WHERE doc_id NOT IN (SELECT doc_id FROM flagged)) AS n2,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n3,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM canon) AS n4),
         |stages AS (
         |  SELECT 1 AS stage, 'quality_gate' AS stage_name,
         |    n0 AS n_in, n1 AS n_out FROM counts
         |  UNION ALL SELECT 2, 'repetition_gate', n1, n2 FROM counts
         |  UNION ALL SELECT 3, 'decontaminate', n2, n3 FROM counts
         |  UNION ALL SELECT 4, 'exact_dedup', n3, n4 FROM counts)
         |SELECT stage, stage_name, n_in, n_out,
         |  n_in - n_out AS dropped,
         |  ROUND(COALESCE(CAST(n_in - n_out AS DOUBLE)
         |    / NULLIF(CAST(n_in AS DOUBLE), 0.0), 0.0), 6) AS drop_share
         |FROM stages
         |ORDER BY stage""".stripMargin,
    // F24: bucket via length(bin(n))-1 — integer string logic on
    // both engines (DuckDB bin() is unpadded, probed), POWER(2,k)
    // exact for every feasible k; the cumulative window sums exact
    // longs in its own CTE (DuckDB LATERAL-window quirk).
    "q_token_histogram" ->
      """WITH nt AS (
        |  SELECT len(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS nt
        |  FROM documents),
        |b AS (
        |  SELECT CASE WHEN nt = 0 THEN -1
        |    ELSE CAST(length(bin(nt)) - 1 AS INT) END AS bucket, nt
        |  FROM nt),
        |a AS (
        |  SELECT bucket, COUNT(*) AS n_docs,
        |    CAST(SUM(nt) AS BIGINT) AS tokens_total
        |  FROM b GROUP BY bucket),
        |t AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
        |    CAST(SUM(tokens_total) AS BIGINT) AS tot_tokens
        |  FROM a),
        |c AS (
        |  SELECT bucket, n_docs, tokens_total,
        |    CAST(SUM(tokens_total) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM a)
        |SELECT c.bucket,
        |  CASE WHEN c.bucket < 0 THEN 0
        |    ELSE CAST(POWER(2, c.bucket) AS BIGINT) END AS lo,
        |  CASE WHEN c.bucket < 0 THEN 0
        |    ELSE CAST(POWER(2, c.bucket + 1) - 1 AS BIGINT) END AS hi,
        |  c.n_docs, c.tokens_total,
        |  ROUND(CAST(c.n_docs AS DOUBLE) / CAST(t.tot_docs AS DOUBLE), 6)
        |    AS doc_share,
        |  ROUND(CAST(c.tokens_total AS DOUBLE) / CAST(t.tot_tokens AS DOUBLE), 6)
        |    AS token_share,
        |  ROUND(CAST(c.cum_tokens AS DOUBLE) / CAST(t.tot_tokens AS DOUBLE), 6)
        |    AS cum_token_share
        |FROM c, t
        |ORDER BY c.bucket""".stripMargin,
    // F23: the word2vec phrase score replayed with the same fixed
    // association — (double)(c_ab-5)·(double)N / ((double)c_a·(double)c_b),
    // all inputs exact integers, so the 6dp round is engine-exact;
    // tokens are whitespace-split, so ' ' is a safe pair separator.
    "q_collocations" ->
      """WITH wl AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT unnest(ws) AS w FROM wl),
        |uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
        |bg0 AS (
        |  SELECT CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1]) ELSE [] END AS bgs
        |  FROM wl),
        |bgp AS (SELECT unnest(bgs) AS pr FROM bg0),
        |bg AS (
        |  SELECT string_split(pr, ' ')[1] AS w1, string_split(pr, ' ')[2] AS w2
        |  FROM bgp),
        |pc AS (
        |  SELECT w1, w2, COUNT(*) AS pair_c FROM bg GROUP BY w1, w2
        |  HAVING COUNT(*) > 5)
        |SELECT pc.w1, pc.w2, pc.pair_c, u1.c AS w1_c, u2.c AS w2_c,
        |  ROUND((CAST(pc.pair_c - 5 AS DOUBLE) * CAST(t.n_tokens AS DOUBLE)) /
        |    (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)), 6) AS score
        |FROM pc JOIN uni u1 ON pc.w1 = u1.w JOIN uni u2 ON pc.w2 = u2.w, tot t
        |ORDER BY score DESC, pc.w1, pc.w2
        |LIMIT 30""".stripMargin,
    // F22: each gate's FULL oracle body nested as a subquery (the
    // exact strings the standalone rows replay — no re-derivation),
    // joined on doc_id, collapsed to the joint distribution.
    "q_gate_matrix" ->
      s"""WITH g AS (
         |  SELECT doc_id, kept AS gopher_kept FROM ($gopherOracle)),
         |rr AS (
         |  SELECT doc_id, NOT flagged AS rep_ok FROM ($repetitionOracle)),
         |dd AS (
         |  SELECT doc_id, kept AS dsir_kept FROM ($dsirOracle)),
         |j AS (
         |  SELECT gopher_kept, rep_ok, dsir_kept
         |  FROM g JOIN rr USING (doc_id) JOIN dd USING (doc_id)),
         |jc AS (
         |  SELECT gopher_kept, rep_ok, dsir_kept, COUNT(*) AS n
         |  FROM j GROUP BY 1, 2, 3),
         |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM jc)
         |SELECT gopher_kept, rep_ok, dsir_kept, CAST(n AS BIGINT) AS n,
         |  ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
         |FROM jc, tt
         |ORDER BY gopher_kept, rep_ok, dsir_kept""".stripMargin,
    // F21: the F1 CASE chain verbatim with the ground-truth label
    // carried through; rate = n over the per-true-language total.
    "q_lang_confusion" ->
      """WITH w AS (
        |  SELECT lang, text, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT lang,
        |    CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS c_en,
        |    CAST(len(list_filter(ws, x -> x IN ('el','la','de','y','en'))) AS BIGINT) AS c_es,
        |    CAST(len(list_filter(ws, x -> x IN ('der','die','und','das','mit'))) AS BIGINT) AS c_de,
        |    CAST(len(list_filter(ws, x -> x IN ('le','les','une','et','dans'))) AS BIGINT) AS c_fr,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS c_zh
        |  FROM w),
        |p AS (
        |  SELECT lang AS lang_true,
        |    CASE WHEN c_en = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'en'
        |         WHEN c_es = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'es'
        |         WHEN c_de = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'de'
        |         WHEN c_fr = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'fr'
        |         ELSE 'zh' END AS lang_pred
        |  FROM c),
        |pc AS (
        |  SELECT lang_true, lang_pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |tt AS (SELECT lang_true, CAST(SUM(n) AS BIGINT) AS tot FROM pc GROUP BY 1)
        |SELECT pc.lang_true, lang_pred, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS rate
        |FROM pc JOIN tt ON pc.lang_true = tt.lang_true
        |ORDER BY 1, 2""".stripMargin,
    // F20: word-frequency table first (GROUP BY w), then char pairs
    // via 1-based substr over a stop-exclusive range — both engines
    // substr by code point; totals weight by the word's corpus count.
    "q_bpe_pairs" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |wf AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
        |pairs AS (
        |  SELECT w, c,
        |    unnest(list_transform(range(1, length(w)),
        |      i -> substr(w, i, 2))) AS pair
        |  FROM wf WHERE length(w) >= 2),
        |agg AS (
        |  SELECT pair, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words,
        |    CAST(SUM(c) AS BIGINT) AS total
        |  FROM pairs GROUP BY 1)
        |SELECT pair, n_words, total
        |FROM agg
        |ORDER BY total DESC, pair
        |LIMIT 20""".stripMargin,
    // F29: the 8-step BPE loop unrolled — per step: pair stats over
    // the current segmentation (v{k-1}), the 1-row argmax (b{k}), the
    // left-to-right non-overlapping merge as a list_reduce fold over
    // a space-delimited accumulator (symbols never contain spaces —
    // words are whitespace-split — so ' '||l suffix-matching the
    // accumulator tests the FULL last symbol; a merged symbol is
    // strictly longer than its left part, so it never re-triggers).
    "q_bpe_train" -> bpeTrainOracle,
    "q_bpe_apply" -> bpeApplyOracle,
    // E13: distinct (source, shingle) sets per the F4 rule; the pair
    // intersection self-joins on the shingle (upper triangle via
    // s1 < s2); Jaccard from exact integer counts, rounded at 6dp.
    "q_source_overlap" ->
      """WITH w AS (
        |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |ss AS (
        |  SELECT DISTINCT source, sh FROM (
        |    SELECT source, unnest(CASE WHEN len(ws) >= 3
        |      THEN list_distinct(list_transform(range(1, len(ws) - 1),
        |        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
        |      ELSE [] END) AS sh
        |    FROM w)),
        |sizes AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_common
        |  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, x.n AS n1, y.n AS n2, n_common,
        |  ROUND(CAST(n_common AS DOUBLE)
        |    / CAST(x.n + y.n - n_common AS DOUBLE), 6) AS jaccard
        |FROM pairs
        |JOIN sizes x ON pairs.s1 = x.source
        |JOIN sizes y ON pairs.s2 = y.source
        |ORDER BY s1, s2""".stripMargin,
    // F16: one doc-level CTE reusing the F2 quality formula (rounded
    // to 6dp, then integer micro-units — NULLs for empty text drop
    // from SUM and COUNT on both engines), F1's CASE-chain language
    // pred, and E1's normalized-text md5; dup = corpus-wide hash
    // group > 1; majority language ties to the lexicographically
    // first (ROW_NUMBER cnt DESC, lang == the engine's min-struct).
    "q_source_profile" ->
      """WITH b AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS toks,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x IN ('el','la','de','y','en'))) AS BIGINT) AS c_es,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x IN ('der','die','und','das','mit'))) AS BIGINT) AS c_de,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x IN ('le','les','une','et','dans'))) AS BIGINT) AS c_fr,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS c_zh,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |  FROM documents),
        |d AS (
        |  SELECT source, toks, h,
        |    CAST(ROUND(ROUND(0.4*least(1.0, CAST(toks AS DOUBLE)/50.0)
        |      + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/NULLIF(CAST(n_chars AS DOUBLE), 0.0))
        |      + 0.3*least(1.0, CAST(n_stop AS DOUBLE)/NULLIF(CAST(toks AS DOUBLE), 0.0)*5.0), 6)
        |      * 1000000) AS BIGINT) AS q_mu,
        |    CASE WHEN n_stop = greatest(n_stop,c_es,c_de,c_fr,c_zh) THEN 'en'
        |         WHEN c_es = greatest(n_stop,c_es,c_de,c_fr,c_zh) THEN 'es'
        |         WHEN c_de = greatest(n_stop,c_es,c_de,c_fr,c_zh) THEN 'de'
        |         WHEN c_fr = greatest(n_stop,c_es,c_de,c_fr,c_zh) THEN 'fr'
        |         ELSE 'zh' END AS lang
        |  FROM b),
        |c AS (SELECT *, COUNT(*) OVER (PARTITION BY h) AS nh FROM d),
        |base AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |    CAST(SUM(q_mu) AS BIGINT) AS q_sum,
        |    COUNT(q_mu) AS q_n,
        |    CAST(SUM(CASE WHEN nh > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
        |  FROM c GROUP BY source),
        |lc AS (SELECT source, lang, COUNT(*) AS cnt FROM d GROUP BY source, lang),
        |nl AS (SELECT source, COUNT(*) AS n_langs FROM lc GROUP BY source),
        |lp AS (
        |  SELECT source, lang AS top_lang FROM lc
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, lang) = 1)
        |SELECT b2.source, b2.n_docs, b2.n_tokens,
        |  ROUND(CAST(b2.n_tokens AS DOUBLE)/CAST(b2.n_docs AS DOUBLE), 6) AS mean_tokens,
        |  ROUND(CAST(b2.q_sum AS DOUBLE)/CAST(b2.q_n AS DOUBLE)/1000000.0, 6) AS mean_quality,
        |  b2.dup_docs,
        |  ROUND(CAST(b2.dup_docs AS DOUBLE)/CAST(b2.n_docs AS DOUBLE), 6) AS dup_rate,
        |  nl.n_langs, lp.top_lang
        |FROM base b2 JOIN nl ON b2.source = nl.source JOIN lp ON b2.source = lp.source
        |ORDER BY b2.source""".stripMargin,
    // F14: replays the F2 quality formula and F3's regex lexer, then
    // the running token sum in (quality desc, doc_id) order as one
    // window cumsum — semantically identical to the engine's
    // two-level distributed prefix sum. NULL-quality docs excluded
    // BEFORE ranking on both sides (their null sort position is the
    // one cross-engine ordering difference).
    "q_select_budget" ->
      s"""WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_words,
        |    CAST(length(text) AS BIGINT) AS n_chars_m,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
        |      x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
        |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS nt
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, nt,
        |    ROUND(0.4*least(1.0, CAST(n_words AS DOUBLE)/50.0)
        |        + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/NULLIF(CAST(n_chars_m AS DOUBLE), 0.0))
        |        + 0.3*least(1.0, CAST(n_stop AS DOUBLE)/NULLIF(CAST(n_words AS DOUBLE), 0.0)*5.0), 6) AS quality
        |  FROM b),
        |c AS (
        |  SELECT doc_id, quality, nt,
        |    CAST(SUM(nt) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM q WHERE quality IS NOT NULL)
        |SELECT doc_id, quality, nt, cum_tokens FROM c
        |WHERE cum_tokens <= ${operators.TextAnalysis.selectBudgetTokens}
        |ORDER BY cum_tokens""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS re_tokens,
        |  ROUND(CAST(length(text) AS DOUBLE)
        |    / NULLIF(CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS DOUBLE), 0.0), 6) AS chars_per_token
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // F28: exact integer totals per (source, lang) — strlen is
    // DuckDB's UTF-8 byte length (Spark octet_length), length is
    // code points on both engines; each ratio is ONE division of two
    // exact longs, 6dp, so the rounding is engine-exact.
    "q_token_fertility" ->
      """WITH m AS (
        |  SELECT source, lang,
        |    strlen(text) AS nb, length(text) AS nc,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS nw,
        |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS nt
        |  FROM documents),
        |a AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(nb) AS BIGINT) AS bytes, CAST(SUM(nc) AS BIGINT) AS chars,
        |    CAST(SUM(nw) AS BIGINT) AS ws_tokens,
        |    CAST(SUM(nt) AS BIGINT) AS re_tokens
        |  FROM m GROUP BY source, lang)
        |SELECT source, lang, n_docs, bytes, chars, ws_tokens, re_tokens,
        |  ROUND(CAST(bytes AS DOUBLE)/NULLIF(CAST(re_tokens AS DOUBLE),0.0),6) AS bytes_per_token,
        |  ROUND(CAST(chars AS DOUBLE)/NULLIF(CAST(re_tokens AS DOUBLE),0.0),6) AS chars_per_token,
        |  ROUND(CAST(re_tokens AS DOUBLE)/NULLIF(CAST(ws_tokens AS DOUBLE),0.0),6) AS fertility
        |FROM a
        |ORDER BY source, lang""".stripMargin,
    // E-family. Shingle/minhash/simhash pipelines are md5-derived on
    // both sides (string-lexicographic MIN over hex digests), so the
    // oracle reproduces candidate generation exactly, not just the
    // verified output.
    // F5: md5-bucketed deterministic split — hex-string comparison is
    // engine-identical, so assignment replays exactly.
    "q_sample_split" ->
      """SELECT source,
        |  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
        |       THEN 'train' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY source, split""".stripMargin,
    // F30: the FLAT per-source ROW_NUMBER the engine's two-level
    // (shard-local top-k → global rank over survivors) plan must
    // equal — the row proves the decomposition every run.
    "q_sample_stratified" ->
      s"""WITH h AS (
         |  SELECT source, doc_id,
         |    md5('eval:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, ROW_NUMBER() OVER
         |    (PARTITION BY source ORDER BY h, doc_id) AS rk
         |  FROM h)
         |SELECT source, CAST(rk AS INTEGER) AS rk, doc_id
         |FROM r WHERE rk <= ${graft.operators.TextAnalysis.stratifiedK}
         |ORDER BY source, rk""".stripMargin,
    // F32: A-ES weighted sampling — u from the first 12 md5 hex
    // digits parsed a nibble at a time (the F16/G4 strpos idiom),
    // key = LN((v + 0.5)/2^48)/weight rounded to 9dp (absorbs LN's
    // 1-ulp cross-engine drift; ties cut by doc_id).
    "q_sample_weighted" -> {
      val nib = "strpos('0123456789abcdef', substr(hx,%d,1)) - 1"
      val hv = (1 to 12)
        .map(i => s"(${nib.format(i)}) * ${1L << (4 * (12 - i))}")
        .mkString("\n        |    + ")
      s"""WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |    md5('wsample:' || CAST(doc_id AS VARCHAR)) AS hx
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, source, n_chars,
        |    $hv AS hv
        |  FROM h)
        |SELECT doc_id, source, n_chars AS weight,
        |  ROUND(LN((CAST(hv AS DOUBLE) + 0.5) / 281474976710656.0)
        |    / CAST(GREATEST(n_chars, 1) AS DOUBLE), 9) AS sample_key
        |FROM v
        |ORDER BY sample_key DESC, doc_id
        |LIMIT ${graft.operators.TextAnalysis.weightedK}""".stripMargin
    },
    // F7: the same salted-md5 bucket test as F5; target rates derive
    // from the source's numeric suffix so both engines replay the mix.
    "q_mix_sources" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(COALESCE(NULLIF(regexp_extract(source, '([0-9]+)$', 1), ''), '3') AS BIGINT) % 4 AS ri,
        |    substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) AS b
        |  FROM documents),
        |k AS (
        |  SELECT source, ri, COUNT(*) AS n_total,
        |    CAST(SUM(CASE WHEN ri = 3 OR b < (CASE ri WHEN 0 THEN '40'
        |      WHEN 1 THEN '80' ELSE 'c0' END) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |  FROM d GROUP BY source, ri)
        |SELECT source, n_total, n_kept,
        |  ROUND(CAST(n_kept AS DOUBLE)/CAST(n_total AS DOUBLE), 6) AS achieved_rate,
        |  CAST(ri + 1 AS DOUBLE)/4.0 AS target_rate
        |FROM k
        |ORDER BY source""".stripMargin,
    // F8: tf rows are already distinct (doc, term) pairs, so df is a
    // plain count over them; ROUND(tf * LN(n/df), 6) absorbs 1-ulp
    // libm-vs-JVM log differences.
    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        |nn AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT t.doc_id, t.w, t.tf, d.df,
        |  ROUND(t.tf * LN(CAST(nn.n AS DOUBLE)/CAST(d.df AS DOUBLE)), 6) AS tfidf
        |FROM tf t JOIN df d ON t.w = d.w, nn
        |ORDER BY t.doc_id, t.w""".stripMargin,
    // F10: char-indexed on both engines (DuckDB length/substr count
    // CHARACTERS like Spark's; strlen would count bytes).
    "q_text_chunks" ->
      """WITH c AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
        |    (CAST(CEIL(length(text)/192.0) AS BIGINT) - 1) * 192 AS last_start
        |  FROM documents WHERE length(text) > 0),
        |e AS (SELECT doc_id, text, n_chars,
        |        unnest(range(0, last_start + 1, 192)) AS start FROM c)
        |SELECT doc_id, CAST(start AS BIGINT) AS start,
        |  substr(text, CAST(start + 1 AS BIGINT), 256) AS chunk,
        |  CAST(LEAST(256, n_chars - start) AS BIGINT) AS chunk_chars
        |FROM e
        |ORDER BY doc_id, start""".stripMargin,
    // F11: the repetition counts replayed with DuckDB list algebra
    // over the same token list (top counts via per-distinct-value
    // filter lengths — O(distinct·n) per row is fine at oracle
    // scale); the flag thresholds compare the ROUNDED fractions on
    // both engines.
    "q_repetition" -> repetitionOracle,
    // F9: every stage of the composed pipeline replayed in SQL —
    // F2's rounded quality gate, E1's normalization hash with
    // min-doc_id canonicalization, F5's salted-md5 split.
    // F9 replays every composed stage: quality score → F11
    // repetition flags (list algebra, as in q_repetition) → E7b
    // 13-gram cross-corpus contamination (as in q_ngram_overlap,
    // same DF cap) → exact dedup canonical → split → audit.
    "q_pipeline_e2e" ->
      s"""WITH $pipelineKeptCtesBody
         |SELECT k.source,
         |  CASE WHEN substr(md5('split:' || CAST(k.doc_id AS VARCHAR)), 1, 2) < 'cd'
         |       THEN 'train' ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs
         |FROM kept k JOIN canon c ON k.doc_id = c.doc_id
         |GROUP BY 1, 2
         |ORDER BY source, split""".stripMargin,
    // H1: the pipeline's kept/canon CTEs verbatim, the F5 split rule,
    // token counts recomputed from the documents the export wrote,
    // order-insensitive bit_xor id checksum.
    "q_export_manifest" ->
      s"""WITH $pipelineKeptCtesBody,
         |$exportTkCtesBody
         |SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor
         |FROM tk
         |GROUP BY 1, 2
         |ORDER BY split, source""".stripMargin,
    // H6: the oracle runs the box predicate over the RAW events
    // table — the z-ordered layout must be row-for-row invisible in
    // the result (the pruning it buys is ZorderSpec's metric check).
    "q_zorder_scan" ->
      """SELECT event_id, user_id, ts, event_type, value
        |FROM events
        |WHERE user_id BETWEEN 3 AND 7
        |  AND ts >= TIMESTAMP '2024-01-08'
        |  AND ts < TIMESTAMP '2024-01-15'""".stripMargin,
    // H5: the oracle manifests the ORIGINAL table — a compaction
    // that drops, duplicates or mangles any row shows up in n_docs /
    // n_tokens / id_xor of the compacted read-back.
    "q_compact_shards" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // H7: replays the MAINTAINED index's logical state — base build
    // from the lower vec_id half (D8's CTEs with the build population
    // restricted), append assignment of the upper half against those
    // refined centroids (asg2 spans all of ev by construction), then
    // D8's probe. Compaction is INVISIBLE to this replay by design:
    // that invisibility, plus the engine's own pre-vs-post probe
    // comparison surfacing as probe_stable against the literal TRUE,
    // is the lossless-rewrite proof. File counts are filesystem facts
    // (IndexMaintenanceSpec pins them).
    "q_index_maintain" -> {
      val basePred = "vec_id <= (SELECT MAX(vec_id)//2 FROM embeddings)"
      s"""${ivfAssignCteOn(basePred)},
         |$ivfRefinedCte,
         |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
         |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
         |prs AS (
         |  SELECT c.cell,
         |    ROUND(COALESCE(SUM(c.v*q.qv)
         |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(q.qv*q.qv)),0),0),6) AS cs
         |  FROM rc c JOIN q ON c.i = q.i GROUP BY c.cell),
         |probe AS (SELECT cell FROM prs ORDER BY cs DESC, cell LIMIT 2),
         |s AS (
         |  SELECT e.vec_id, a.cell, SUM(e.v*q.qv) AS dot, SQRT(SUM(e.v*e.v)) AS en
         |  FROM ev e JOIN asg2 a ON e.vec_id = a.vec_id JOIN q ON e.i = q.i
         |  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)
         |  GROUP BY e.vec_id, a.cell),
         |nn AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |    CAST(SUM(CASE WHEN NOT ($basePred) THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_appended
         |  FROM embeddings)
         |SELECT vec_id AS doc_id, cell,
         |  ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score,
         |  nn.n_vectors, nn.n_appended, TRUE AS probe_stable
         |FROM s, nn
         |ORDER BY score DESC, doc_id
         |LIMIT 10""".stripMargin
    },
    // H4: the same kept/split/token chain collapsed per split —
    // the JSON framing/escaping itself is proved by the engine's
    // parse-back manifest matching these parquet-derived numbers.
    "q_export_jsonl" ->
      s"""WITH $pipelineKeptCtesBody,
         |$exportTkCtesBody
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor
         |FROM tk
         |GROUP BY 1
         |ORDER BY split""".stripMargin,
    // H2: the same kept/split/token chain, collapsed per (split,
    // doc_id mod shard-count) instead of (split, source).
    "q_export_shards" ->
      s"""WITH $pipelineKeptCtesBody,
         |$exportTkCtesBody
         |SELECT split, doc_id % ${graft.sources.Export.exportShardCount} AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor
         |FROM tk
         |GROUP BY 1, 2
         |ORDER BY split, shard""".stripMargin,
    // H3: the same kept/split/token chain restricted to train, the
    // F26 PERCENT_RANK bucket replay mapped to phases (head = 3,
    // annealed last), micro-unit quality sums (q comes from
    // pipelineKeptCtesBody — the ONE quality definition) divided
    // once per manifest row.
    "q_export_curriculum" ->
      s"""WITH $pipelineKeptCtesBody,
         |$exportTkCtesBody,
         |qq AS (
         |  SELECT doc_id, source, quality FROM q WHERE quality IS NOT NULL),
         |prr AS (
         |  SELECT doc_id, quality,
         |    PERCENT_RANK() OVER (
         |      PARTITION BY source ORDER BY quality DESC, doc_id) AS p
         |  FROM qq),
         |ph AS (
         |  SELECT doc_id, quality,
         |    CASE WHEN p <= 1.0/3 THEN 3
         |         WHEN p <= 2.0/3 THEN 2 ELSE 1 END AS phase
         |  FROM prr),
         |ct AS (
         |  SELECT ph.phase,
         |    t.doc_id % ${graft.sources.Export.exportShardCount} AS shard,
         |    t.doc_id, t.toks,
         |    CAST(ROUND(ph.quality*1000000, 0) AS BIGINT) AS q_u
         |  FROM tk t JOIN ph ON ph.doc_id = t.doc_id
         |  WHERE t.split = 'train')
         |SELECT CAST(phase AS INTEGER) AS phase, shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
         |  ROUND(CAST(SUM(q_u) AS DOUBLE)
         |    / CAST(COUNT(*) * 1000000 AS DOUBLE), 6) AS avg_quality
         |FROM ct
         |GROUP BY phase, shard
         |ORDER BY phase, shard""".stripMargin,
    // F6: both engines append the same synthetic contact suffixes and
    // then apply identical redaction regexes (RE2 and Java agree on
    // these patterns; DuckDB needs the explicit 'g' flag).
    "q_redact_pii" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' contact user'
        |           || CAST(doc_id AS VARCHAR) || '@example.com or +1 (555) 010-'
        |           || CAST(doc_id AS VARCHAR)
        |         WHEN doc_id % 5 = 2 THEN text || ' mail to a.b+c'
        |           || CAST(doc_id AS VARCHAR) || '@mail.co'
        |         ELSE text END AS wp
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(wp,
        |    '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+[0-9][0-9()\-\s]{7,}[0-9]', '[PHONE]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(wp,
        |    '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(wp,
        |    '\+[0-9][0-9()\-\s]{7,}[0-9]')) AS BIGINT) AS n_phones
        |FROM p
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash
        |FROM documents
        |GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |ORDER BY keep_id""".stripMargin,
    "q_dedup_minhash" -> minhashOracle,
    // E11: the incremental path must equal FULL E2 restricted to
    // pairs with at least one side above the watermark (highest
    // decile of ids) — so the oracle is exactly that: the E2 pair
    // CTEs plus the delta-touching filter.
    "q_dedup_incremental" ->
      s"""$minhashPairsCtes,
         |wm AS (SELECT CAST(FLOOR(MAX(doc_id) * 0.9) AS BIGINT) AS w FROM documents)
         |SELECT doc_a, doc_b, jaccard FROM pairs, wm
         |WHERE doc_a > w OR doc_b > w
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_lsh_recall" -> lshRecallOracle,
    // E18: nests E12's exact gram-occurrence CTEs (occ — one gram
    // definition for the audit and the cut; the unused flag/cov tail
    // prunes away), collapses to the (gh, source) mid level, derives
    // corpus gram stats OVER mid, and reads every per-source rate
    // off exact longs (single 6dp divisions).
    "q_gram_novelty" ->
      s"""$spanCovCtes,
         |mid AS (
         |  SELECT d.source, o.gh, COUNT(*) AS c
         |  FROM occ o JOIN documents d ON o.doc_id = d.doc_id
         |  GROUP BY d.source, o.gh),
         |gs AS (SELECT gh, CAST(SUM(c) AS BIGINT) AS cnt, COUNT(*) AS nsrc
         |       FROM mid GROUP BY gh)
         |SELECT m.source,
         |  CAST(SUM(m.c) AS BIGINT) AS n_occurrences,
         |  COUNT(*) AS n_distinct,
         |  CAST(SUM(CASE WHEN g.cnt >= 2 THEN m.c ELSE 0 END) AS BIGINT)
         |    AS dup_occurrences,
         |  ROUND(CAST(SUM(CASE WHEN g.cnt >= 2 THEN m.c ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(m.c) AS DOUBLE), 6) AS dup_share,
         |  CAST(SUM(CASE WHEN g.nsrc >= 2 THEN m.c ELSE 0 END) AS BIGINT)
         |    AS cross_occurrences,
         |  ROUND(CAST(SUM(CASE WHEN g.nsrc >= 2 THEN m.c ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(m.c) AS DOUBLE), 6) AS cross_share
         |FROM mid m JOIN gs g ON m.gh = g.gh
         |GROUP BY m.source
         |ORDER BY m.source""".stripMargin,
    // E19: the CORPUS-WIDE side of the equivalence the engine's
    // state-membership rule must equal — full occ CTEs, cnt ≥ 2
    // decides dup, base membership = any occurrence at or below the
    // 0.9 watermark (E14's replayed rule); restricted to delta
    // occurrences, collapsed through the same (gh, source) mid level.
    "q_novelty_incremental" ->
      s"""$spanCovCtes,
         |wm AS (SELECT CAST(FLOOR(MAX(doc_id) * 0.9) AS BIGINT) AS wmk FROM documents),
         |gall AS (SELECT gh, COUNT(*) AS cnt FROM occ GROUP BY gh),
         |gbase AS (
         |  SELECT DISTINCT gh FROM occ, wm WHERE doc_id <= wm.wmk),
         |mid AS (
         |  SELECT d.source, o.gh, COUNT(*) AS c
         |  FROM occ o JOIN documents d ON o.doc_id = d.doc_id, wm
         |  WHERE o.doc_id > wm.wmk
         |  GROUP BY d.source, o.gh)
         |SELECT m.source,
         |  CAST(SUM(m.c) AS BIGINT) AS n_occurrences,
         |  COUNT(*) AS n_distinct,
         |  CAST(SUM(CASE WHEN m.gh IN (SELECT gh FROM gbase)
         |    THEN m.c ELSE 0 END) AS BIGINT) AS seen_base_occurrences,
         |  ROUND(CAST(SUM(CASE WHEN m.gh IN (SELECT gh FROM gbase)
         |      THEN m.c ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(m.c) AS DOUBLE), 6) AS seen_base_share,
         |  CAST(SUM(CASE WHEN g.cnt >= 2 THEN m.c ELSE 0 END) AS BIGINT)
         |    AS dup_occurrences,
         |  ROUND(CAST(SUM(CASE WHEN g.cnt >= 2 THEN m.c ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(m.c) AS DOUBLE), 6) AS dup_share
         |FROM mid m JOIN gall g ON m.gh = g.gh
         |GROUP BY m.source
         |ORDER BY m.source""".stripMargin,
    // E20: positional 5-grams, trailing-window MIN (full windows
    // only: pos >= w-1), then a following-window MAX of those mins —
    // a position is selected iff some full window's min equals its
    // hash. Window functions live in their own CTEs (DuckDB quirk).
    "q_winnow" ->
      s"""$winnowSelCtes,
        |occ AS (
        |  SELECT d.source, COUNT(DISTINCT s.doc_id) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
        |  FROM s JOIN documents d ON s.doc_id = d.doc_id GROUP BY 1),
        |sd AS (SELECT DISTINCT doc_id, gh FROM s WHERE sel),
        |gd AS (SELECT gh, COUNT(*) AS nd FROM sd GROUP BY 1),
        |sh AS (
        |  SELECT d.source, COUNT(DISTINCT sd.gh) AS n_fp_distinct,
        |    COUNT(DISTINCT CASE WHEN nd >= 2 THEN sd.gh END) AS n_fp_shared
        |  FROM sd JOIN gd ON sd.gh = gd.gh
        |  JOIN documents d ON sd.doc_id = d.doc_id
        |  GROUP BY 1)
        |SELECT occ.source, n_docs, n_grams, n_fp,
        |  ROUND(CAST(n_fp AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
        |    AS density,
        |  COALESCE(n_fp_distinct, 0) AS n_fp_distinct,
        |  COALESCE(n_fp_shared, 0) AS n_fp_shared
        |FROM occ LEFT JOIN sh ON occ.source = sh.source
        |ORDER BY occ.source""".stripMargin,
    // E21: E20's selection CTEs verbatim (the shared winnowSelCtes
    // val), then the capped-bucket pair self-join + the top-30 under
    // the (n_shared DESC, d1, d2) total order.
    "q_winnow_overlap" ->
      s"""$winnowSelCtes,
        |sd AS (SELECT DISTINCT doc_id, gh FROM s WHERE sel),
        |gd AS (SELECT gh, COUNT(*) AS nd FROM sd GROUP BY 1),
        |cap AS (
        |  SELECT sd.doc_id, sd.gh FROM sd JOIN gd ON sd.gh = gd.gh
        |  WHERE nd <= ${graft.operators.Dedup.maxBucketSize}),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp
        |       FROM cap GROUP BY 1),
        |pr AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM cap a JOIN cap b
        |    ON a.gh = b.gh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, x.nfp AS n1, y.nfp AS n2, n_shared,
        |  ROUND(CAST(n_shared AS DOUBLE)
        |    / CAST(LEAST(x.nfp, y.nfp) AS DOUBLE), 6) AS containment
        |FROM pr JOIN sz x ON pr.d1 = x.doc_id
        |JOIN sz y ON pr.d2 = y.doc_id
        |ORDER BY n_shared DESC, d1, d2
        |LIMIT 30""".stripMargin,
    // E12: gram OCCURRENCES are positional (unnest + 1-based range;
    // the Spark side is 0-based — pos never leaves either query, so
    // only its ordering matters and each side stays self-consistent).
    // Survivor rule = row_number over the gram hash ordered by
    // (doc_id, pos); coverage = sliding MAX over the previous 12
    // positions (RANGE, integer pos); kept text reassembles in pos
    // order (string_agg skips the NULLed covered words) and hashes.
    "q_dedup_spans" ->
      s"""$spanCovCtes
         |SELECT doc_id,
         |  COUNT(*) AS n_tokens,
         |  CAST(SUM(covered) AS BIGINT) AS n_removed,
         |  md5(COALESCE(string_agg(CASE WHEN covered = 0 THEN w END, ' ' ORDER BY pos), '')) AS kept_hash
         |FROM cov
         |GROUP BY doc_id
         |HAVING SUM(covered) > 0
         |ORDER BY doc_id""".stripMargin,
    // E14: full E12's CTEs verbatim (the shared spanCovCtes val)
    // restricted to delta docs — the E11 restriction pattern. The
    // engine's per-delta-doc result must equal the full corpus-wide
    // pass for those docs, which is exactly what this oracle states.
    "q_dedup_spans_incremental" ->
      s"""$spanCovCtes,
         |wm AS (SELECT CAST(FLOOR(MAX(doc_id) * 0.9) AS BIGINT) AS wmk FROM documents)
         |SELECT doc_id,
         |  COUNT(*) AS n_tokens,
         |  CAST(SUM(covered) AS BIGINT) AS n_removed,
         |  md5(COALESCE(string_agg(CASE WHEN covered = 0 THEN cov.w END, ' ' ORDER BY pos), '')) AS kept_hash
         |FROM cov, wm
         |WHERE doc_id > wm.wmk
         |GROUP BY doc_id
         |HAVING SUM(covered) > 0
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_clusters" -> dedupClustersOracle,
    "q_dedup_canonical" -> dedupCanonicalOracle,
    "q_decontaminate" -> decontaminateOracle,
    "q_dedup_family" -> dedupFamilyOracle,
    // E7b: 13-gram list construction in DuckDB (1-based inclusive
    // slices; list_aggregate string_agg preserves list order), the
    // same whole-bucket DF cap via QUALIFY, opposite-tag equi-join.
    "q_ngram_overlap" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    (CAST(COALESCE(NULLIF(regexp_extract(source, '([0-9]+)$$', 1), ''), '1') AS BIGINT) % 5 = 0) AS is_eval,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |sh0 AS (
         |  SELECT doc_id, is_eval,
         |    unnest(CASE WHEN len(ws) >= 13 THEN list_distinct(list_transform(
         |      range(1, len(ws) - 11),
         |      i -> list_aggregate(ws[i:i+12], 'string_agg', ' ')))
         |    ELSE [] END) AS g
         |  FROM w),
         |sh AS (
         |  SELECT doc_id, is_eval, g FROM sh0
         |  QUALIFY COUNT(*) OVER (PARTITION BY g) <= ${operators.Dedup.maxBucketSize})
         |SELECT a.doc_id AS eval_id, b.doc_id AS train_id,
         |  COUNT(*) AS n_shared
         |FROM sh a JOIN sh b ON a.g = b.g AND a.is_eval AND NOT b.is_eval
         |GROUP BY a.doc_id, b.doc_id
         |ORDER BY eval_id, train_id""".stripMargin,
    "q_dedup_simhash" -> simhashOracle,
    "q_media_phash" -> mediaPhashOracle,
    // G7: G3's frame geometry (16-char frames at stride-64 offsets,
    // first 8 sampled), per-pair 16-position Hamming, keep-first
    // unique rule — all VARCHAR/ASCII per the G-family byte contract.
    "q_frame_dedup" ->
      """WITH e AS (
        |  SELECT doc_id, text,
        |    LEAST((length(text) // 16 + 3) // 4, 8) AS n_sampled
        |  FROM documents WHERE length(text) >= 16),
        |fr AS (
        |  SELECT doc_id, i, substr(text, CAST(i * 64 + 1 AS BIGINT), 16) AS f
        |  FROM (SELECT doc_id, text, unnest(range(0, n_sampled)) AS i FROM e)),
        |hp AS (
        |  SELECT doc_id, i, j,
        |    CAST(SUM(CASE WHEN substr(fa, k, 1) <> substr(fb, k, 1)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS ham
        |  FROM (
        |    SELECT a.doc_id, a.i AS i, b.i AS j, a.f AS fa, b.f AS fb,
        |      unnest(range(1, 17)) AS k
        |    FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.i > a.i)
        |  GROUP BY 1, 2, 3),
        |ag AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN ham <= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_pairs,
        |    CAST(COUNT(DISTINCT CASE WHEN ham <= 3 THEN j END) AS BIGINT)
        |      AS n_dup_frames
        |  FROM hp GROUP BY 1)
        |SELECT e.doc_id, CAST(e.n_sampled AS BIGINT) AS n_sampled,
        |  CAST(COALESCE(ag.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
        |  CAST(e.n_sampled - COALESCE(ag.n_dup_frames, 0) AS BIGINT) AS n_unique
        |FROM e LEFT JOIN ag ON e.doc_id = ag.doc_id
        |ORDER BY e.doc_id""".stripMargin,
    "q_search_mmr" -> mmrOracle,
    // E4/E8 replay the Spark side's shingle DOCUMENT-FREQUENCY cap
    // (drop shingles in > maxBucketSize docs before pairing; sizes
    // count the same capped shingle space) with the same QUALIFY
    // shape as the LSH bucket caps.
    "q_ngram_jaccard" ->
      s"""$shingleCte,
         |ex0 AS (SELECT doc_id, unnest(s) AS sh FROM shl),
         |ex AS (SELECT doc_id, sh FROM ex0
         |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= ${operators.Dedup.maxBucketSize}),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
         |cm AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
         |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |j AS (
         |  SELECT cm.doc_a, cm.doc_b,
         |    CAST(cm.common AS DOUBLE)/CAST(x.n + y.n - cm.common AS DOUBLE) AS jaccard
         |  FROM cm JOIN sz x ON cm.doc_a = x.doc_id JOIN sz y ON cm.doc_b = y.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM j
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // E8: same shingle scaffold as E4; ratio on the smaller set, ties
    // orient the lower doc_id as the contained side (na <= nb keeps
    // doc_a, which is the smaller id by the join's a < b).
    "q_containment" ->
      s"""$shingleCte,
         |ex0 AS (SELECT doc_id, unnest(s) AS sh FROM shl),
         |ex AS (SELECT doc_id, sh FROM ex0
         |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= ${operators.Dedup.maxBucketSize}),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
         |cm AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
         |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |j AS (
         |  SELECT cm.doc_a, cm.doc_b, x.n AS na, y.n AS nb, cm.common
         |  FROM cm JOIN sz x ON cm.doc_a = x.doc_id JOIN sz y ON cm.doc_b = y.doc_id)
         |SELECT
         |  CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS inner_id,
         |  CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS outer_id,
         |  ROUND(CAST(common AS DOUBLE) / CAST(LEAST(na, nb) AS DOUBLE), 6) AS containment
         |FROM j
         |WHERE ROUND(CAST(common AS DOUBLE) / CAST(LEAST(na, nb) AS DOUBLE), 6) >= 0.9
         |ORDER BY inner_id, outer_id""".stripMargin,
    // E5: the oracle re-derives the deterministic IVF cells (seeds =
    // ceil(sqrt(n)) lowest vec_ids) and replays the TWO-LEVEL
    // assignment exactly as EmbeddingStore.assignCells runs it:
    // coarse seeds = the ceil(sqrt(k)) lowest cells; fine cells group
    // under their argmax coarse centroid with each coarse seed pinned
    // to its own group; every vector argmaxes the coarse level then
    // only its group's fine centroids. All argmaxes on 6dp-rounded
    // cosine with lowest-key tie-break; zero-norm divisions guarded
    // to 0 like CosineSimilarity. Pairs then form within cells.
    "q_dedup_embedding" ->
      s"""$cellPairCtes
        |SELECT vec_a, vec_b, cell, score FROM cp
        |WHERE score >= 0.35
        |ORDER BY score DESC, vec_a, vec_b""".stripMargin,
    // E15: the E5 pair CTEs verbatim at the tighter SemDeDup
    // threshold, the E6 recursive-closure pattern over them, one
    // per-cell mean pass (the Lloyd-step replay: ROUND(AVG,6) per
    // component CAST THROUGH FLOAT — lloydStep stores centroids as
    // array<float>, and unlike the index oracles where rounded
    // scores only feed a ranking, centroid_sim is an exact-compared
    // OUTPUT column, so the ~1e-8 float truncation must be replayed
    // or a near-boundary cosine rounds differently at 6dp), each
    // member's 6dp cosine to its own cell's centroid, and the
    // keeper window (min centroid_sim, lowest id).
    "q_semdedup" ->
      s"""${cellPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |$semClosureCtesBody,
        |$centroidSimCtesBody,
        |$semKeeperKtCte
        |SELECT vec_id, cluster_id, cell, centroid_sim,
        |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM kt ORDER BY vec_id""".stripMargin,
    // E16: the E15 assignment + centroid-similarity CTEs verbatim
    // (shared bodies — one definition), then the ONE FLAT global
    // ROW_NUMBER the engine's two-level (bin-window + broadcast
    // suffix-sum offsets) rank must equal; the rank lives in its own
    // CTE (the DuckDB window-in-final-select quirk). Keep verdict
    // replays floor(n·frac) from the shared constant.
    "q_prototypes" ->
      s"""$ivfAssignCte,
        |$centroidSimCtesBody,
        |$protoRankCtesBody
        |SELECT rk.vec_id, rk.cell, rk.centroid_sim, rk.proto_rank,
        |  CAST(CASE WHEN rk.proto_rank >
        |      FLOOR(nt.n * ${operators.Dedup.protoPruneFrac})
        |    THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM rk, nt
        |ORDER BY rk.vec_id""".stripMargin,
    // E17: BOTH rows' shared CTE stacks nested verbatim (the pair
    // scaffold + closure + keeper for E15, the flat global rank for
    // E16 — one definition each), LEFT-joined per vector; non-group
    // members default sem_kept = 1, the final verdict is the AND.
    "q_prune_compose" ->
      s"""${cellPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |$semClosureCtesBody,
        |$centroidSimCtesBody,
        |$semKeeperKtCte,
        |$protoRankCtesBody
        |SELECT rk.vec_id, rk.cell, rk.centroid_sim, rk.proto_rank,
        |  CAST(CASE WHEN COALESCE(kt.rn, 1) = 1 THEN 1 ELSE 0 END
        |    AS INTEGER) AS sem_kept,
        |  CAST(CASE WHEN rk.proto_rank >
        |      FLOOR(nt.n * ${operators.Dedup.protoPruneFrac})
        |    THEN 1 ELSE 0 END AS INTEGER) AS proto_kept,
        |  CAST(CASE WHEN COALESCE(kt.rn, 1) = 1 AND rk.proto_rank >
        |      FLOOR(nt.n * ${operators.Dedup.protoPruneFrac})
        |    THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM rk LEFT JOIN kt ON kt.vec_id = rk.vec_id, nt
        |ORDER BY rk.vec_id""".stripMargin,
    // D15: E5's within-cell pair scaffold, but DIRECTED (both
    // orientations) and top-3 per vector instead of thresholded
    // canonical pairs.
    "q_knn_graph" ->
      s"""$knnGraphCtes
        |SELECT vec_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, score
        |FROM r WHERE rnk <= 3
        |ORDER BY vec_id, rank""".stripMargin,
    // D30: the D15 graph CTEs verbatim, majority vote with the
    // (count DESC, label ASC) argmax replayed as a window rank in
    // its own CTE, per-class exact counts + one 6dp division.
    "q_knn_classify" ->
      s"""$knnGraphCtes,
         |e AS (SELECT vec_id, neighbor_id FROM r WHERE rnk <= 3),
         |v AS (
         |  SELECT e.vec_id, m.label AS nl, COUNT(*) AS c
         |  FROM e JOIN embeddings m ON e.neighbor_id = m.vec_id
         |  GROUP BY 1, 2),
         |p0 AS (
         |  SELECT vec_id, nl,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, nl) AS rnk
         |  FROM v),
         |p AS (SELECT vec_id, nl AS pred FROM p0 WHERE rnk = 1)
         |SELECT m.label, CAST(COUNT(*) AS BIGINT) AS n_voted,
         |  CAST(SUM(CASE WHEN p.pred = m.label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  ROUND(CAST(SUM(CASE WHEN p.pred = m.label THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
         |FROM p JOIN embeddings m ON p.vec_id = m.vec_id
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,
    // D29: the D15 graph CTEs verbatim, then 3 unrolled integer
    // power-iteration steps — (r*85)//(100*outdeg) per edge + the
    // 150000 micro-unit restart; all-longs, bit-exact by construction.
    "q_graph_pagerank" -> {
      val iters = operators.VectorSearch.pagerankIters
      val steps = (1 to iters).map { k =>
        s"""c$k AS (
           |  SELECT e.dst AS vec_id,
           |    CAST(SUM((p.ru * 85) // (100 * od.outdeg)) AS BIGINT) AS s
           |  FROM e JOIN od ON e.src = od.src
           |  JOIN r${k - 1} p ON p.vec_id = e.src
           |  GROUP BY 1),
           |r$k AS (
           |  SELECT n.vec_id,
           |    CAST(150000 + COALESCE(c$k.s, 0) AS BIGINT) AS ru
           |  FROM n LEFT JOIN c$k ON n.vec_id = c$k.vec_id)""".stripMargin
      }.mkString(",\n")
      s"""$knnGraphCtes,
         |e AS (SELECT vec_id AS src, neighbor_id AS dst FROM r WHERE rnk <= 3),
         |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |n AS (SELECT vec_id FROM embeddings),
         |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS ru FROM n),
         |$steps,
         |ind AS (SELECT dst AS vec_id, CAST(COUNT(*) AS BIGINT) AS in_deg
         |        FROM e GROUP BY 1)
         |SELECT f.vec_id, f.ru AS rank_u, COALESCE(ind.in_deg, 0) AS in_deg
         |FROM r$iters f LEFT JOIN ind ON f.vec_id = ind.vec_id
         |ORDER BY rank_u DESC, f.vec_id
         |LIMIT 20""".stripMargin
    },
    // D18: the D15 graph CTEs verbatim (same cell blocking, scoring
    // and ranking), edges thresholded and symmetrized, then the E6
    // recursive-closure pattern; components labeled by min member id.
    "q_semantic_clusters" ->
      s"""${knnGraphCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |edges0 AS (
        |  SELECT vec_id AS s, neighbor_id AS d FROM r
        |  WHERE rnk <= 3
        |    AND score >= ${operators.VectorSearch.semanticClusterThreshold}),
        |edges AS (
        |  SELECT s, d FROM edges0
        |  UNION
        |  SELECT d AS s, s AS d FROM edges0),
        |reach AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT rc.s, e.d FROM reach rc JOIN edges e ON rc.d = e.s)
        |SELECT s AS vec_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
        |FROM reach
        |GROUP BY s
        |ORDER BY vec_id""".stripMargin,
    // D7: replays the E5 assignment scaffold verbatim (same seeded
    // two-level quantizer), then the BOUNDED query sample (the
    // recallQueryCount lowest ids matching the rule — same
    // TakeOrdered semantics as the Spark side), probe ranking, exact
    // brute-force top-k, cell-pruned ANN top-k, and the recall ratio
    // per probe count — all on 6dp-rounded scores with id tie-breaks.
    "q_ivf_recall" ->
      s"""$ivfAssignCte,
        |qids AS (
        |  SELECT vec_id FROM embeddings WHERE vec_id % 100 = 0
        |  ORDER BY vec_id LIMIT ${operators.VectorSearch.recallQueryCount}),
        |qe AS (
        |  SELECT e.vec_id AS qid, e.i, e.v
        |  FROM ev e JOIN qids q ON e.vec_id = q.vec_id),
        |prs AS (
        |  SELECT qe.qid, c.cell,
        |    ROUND(COALESCE(SUM(qe.v*c.v)
        |      / NULLIF(SQRT(SUM(qe.v*qe.v))*SQRT(SUM(c.v*c.v)),0),0),6) AS cs
        |  FROM qe JOIN cent c ON c.i = qe.i
        |  GROUP BY qe.qid, c.cell),
        |pr AS (
        |  SELECT qid, cell,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, cell) AS prank
        |  FROM prs),
        |exs AS (
        |  SELECT qe.qid, b.vec_id,
        |    ROUND(COALESCE(SUM(qe.v*b.v)
        |      / NULLIF(SQRT(SUM(qe.v*qe.v))*SQRT(SUM(b.v*b.v)),0),0),6) AS s
        |  FROM qe JOIN ev b ON b.i = qe.i AND b.vec_id <> qe.qid
        |  GROUP BY qe.qid, b.vec_id),
        |ex AS (
        |  SELECT qid, vec_id FROM exs
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) <= 10),
        |ps AS (SELECT UNNEST([1, 2, 4]) AS probes),
        |cand AS (
        |  SELECT pr.qid, ps.probes, a.vec_id
        |  FROM pr JOIN ps ON pr.prank <= ps.probes
        |  JOIN asg a ON a.cell = pr.cell AND a.vec_id <> pr.qid),
        |anns AS (
        |  SELECT cand.qid, cand.probes, cand.vec_id,
        |    ROUND(COALESCE(SUM(qe.v*b.v)
        |      / NULLIF(SQRT(SUM(qe.v*qe.v))*SQRT(SUM(b.v*b.v)),0),0),6) AS s
        |  FROM cand
        |  JOIN qe ON qe.qid = cand.qid
        |  JOIN ev b ON b.vec_id = cand.vec_id AND b.i = qe.i
        |  GROUP BY cand.qid, cand.probes, cand.vec_id),
        |ann AS (
        |  SELECT qid, probes, vec_id FROM anns
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid, probes ORDER BY s DESC, vec_id) <= 10),
        |hits AS (
        |  SELECT ann.probes, COUNT(*) AS h
        |  FROM ann JOIN ex ON ann.qid = ex.qid AND ann.vec_id = ex.vec_id
        |  GROUP BY ann.probes),
        |total AS (SELECT COUNT(*) AS t FROM ex)
        |SELECT ps.probes, 10 AS k,
        |  ROUND(CAST(COALESCE(h, 0) AS DOUBLE) / CAST(t AS DOUBLE), 6) AS recall
        |FROM ps LEFT JOIN hits ON ps.probes = hits.probes, total
        |ORDER BY ps.probes""".stripMargin,
    // D32: the full Lloyd loop unrolled from the same kmeansIters
    // constant (the pagerank/bpe_train oracle-generation discipline):
    // per step, grouped-sum cosine vs the k-row centroid table,
    // argmax with lowest-cell ties, 6dp member-mean THROUGH FLOAT
    // (lloydStep's storage contract), micro-unit inertia.
    "q_kmeans" -> kmeansOracle,
    // D31: truncated cosine = the same grouped-sum cosine restricted
    // to components i <= dim (an inequality join against the width
    // table); ground truth is the full-width D7 brute-force block.
    "q_truncate_recall" ->
      s"""WITH ev AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |qids AS (
        |  SELECT vec_id FROM embeddings WHERE vec_id % 100 = 0
        |  ORDER BY vec_id LIMIT ${operators.VectorSearch.recallQueryCount}),
        |qe AS (
        |  SELECT e.vec_id AS qid, e.i, e.v
        |  FROM ev e JOIN qids q ON e.vec_id = q.vec_id),
        |exs AS (
        |  SELECT qe.qid, b.vec_id,
        |    ROUND(COALESCE(SUM(qe.v*b.v)
        |      / NULLIF(SQRT(SUM(qe.v*qe.v))*SQRT(SUM(b.v*b.v)),0),0),6) AS s
        |  FROM qe JOIN ev b ON b.i = qe.i AND b.vec_id <> qe.qid
        |  GROUP BY qe.qid, b.vec_id),
        |ex AS (
        |  SELECT qid, vec_id FROM exs
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) <= 10),
        |ds AS (SELECT UNNEST([${operators.VectorSearch.truncateDims.mkString(", ")}]) AS dim),
        |trs AS (
        |  SELECT qe.qid, ds.dim, b.vec_id,
        |    ROUND(COALESCE(SUM(qe.v*b.v)
        |      / NULLIF(SQRT(SUM(qe.v*qe.v))*SQRT(SUM(b.v*b.v)),0),0),6) AS s
        |  FROM qe JOIN ev b ON b.i = qe.i AND b.vec_id <> qe.qid
        |  JOIN ds ON qe.i <= ds.dim
        |  GROUP BY qe.qid, ds.dim, b.vec_id),
        |tr AS (
        |  SELECT qid, dim, vec_id FROM trs
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid, dim ORDER BY s DESC, vec_id) <= 10),
        |hits AS (
        |  SELECT tr.dim, COUNT(*) AS h
        |  FROM tr JOIN ex ON tr.qid = ex.qid AND tr.vec_id = ex.vec_id
        |  GROUP BY tr.dim),
        |total AS (SELECT COUNT(*) AS t FROM ex)
        |SELECT ds.dim, 10 AS k,
        |  ROUND(CAST(COALESCE(h, 0) AS DOUBLE) / CAST(t AS DOUBLE), 6) AS recall
        |FROM ds LEFT JOIN hits ON ds.dim = hits.dim, total
        |ORDER BY ds.dim""".stripMargin,
    // F15: bigrams via a positional self-join (Spark uses one lead
    // window — same consecutive pairs); per-pair logp quantized to
    // integer micro-units BEFORE the weighted doc sum, so summation
    // order cannot perturb the score on either engine; the mean
    // divides two exact integers in one fixed association.
    "q_lm_score" ->
      s"""WITH tk0 AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
         |  FROM tk0),
         |big AS (
         |  SELECT a.doc_id, a.w AS w1, b.w AS w2
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |pd AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM big GROUP BY 1, 2, 3),
         |bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
         |uc AS (SELECT w AS w1, COUNT(*) AS c1 FROM tok GROUP BY 1),
         |vv AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
         |sc AS (
         |  SELECT pd.doc_id, pd.k,
         |    CAST(ROUND(LN(CAST(bc.c2 + 1 AS DOUBLE)
         |      / CAST(uc.c1 + vv.v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS micro
         |  FROM pd
         |  JOIN bc ON pd.w1 = bc.w1 AND pd.w2 = bc.w2
         |  JOIN uc ON pd.w1 = uc.w1, vv),
         |d AS (
         |  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(k * micro) AS BIGINT) AS ms
         |  FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_bigrams,
         |  ROUND(CAST(ms AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1e6, 6) AS mean_logp,
         |  (ROUND(CAST(ms AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1e6, 6)
         |    >= ${operators.TextAnalysis.lmScoreThreshold}) AS kept
         |FROM d
         |ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(
        |      range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
        |    ELSE [] END AS s
        |  FROM w)
        |SELECT doc_id, CAST(len(s) AS BIGINT) AS n_shingles,
        |  list_aggregate(list_transform(s, x -> md5(x)), 'min') AS fingerprint
        |FROM sh
        |ORDER BY doc_id""".stripMargin,
  )

  /** The C3/C6 strip regex — EventOps.PY_WS_CLASS (C0 controls +
    * Python-`str.strip()` Unicode whitespace) verbatim, so the DuckDB
    * oracle strips the EXACT same code points as the engine. `\x{...}`
    * escapes parse identically in Java regex and DuckDB's RE2. */
  private val stripRe: String =
    s"^[${EventOps.PY_WS_CLASS}]+|[${EventOps.PY_WS_CLASS}]+$$"

  /** Shared C3/C6 scaffold: the signup-user candidate-name directory,
    * filtered by the reference's `_is_file_name` rejection rules
    * (user_mapper.py:235) replayed rule-for-rule in SQL — note the
    * extension/phrase checks run on lower(name) but the path/url
    * checks on the raw name, exactly as the reference does. */
  private val validNamesCte: String =
    s"""cand AS (
      |  SELECT uid,
      |    CASE WHEN uid % 7 = 0 THEN 'screenshot ' || CAST(uid AS VARCHAR) || '.png'
      |         WHEN uid % 7 = 3 THEN 'User ' || CAST(uid AS VARCHAR)
      |         ELSE 'u' || CAST(uid AS VARCHAR) || '_name' END AS name
      |  FROM (SELECT DISTINCT user_id AS uid FROM events WHERE event_type = 'signup')),
      |named AS (
      |  SELECT uid, name FROM cand WHERE NOT (
      |    name IS NULL OR length(regexp_replace(name, '$stripRe', '', 'g')) < 2
      |    OR regexp_matches(lower(name), '^user [0-9]+$$')
      |    OR length(name) > 100
      |    OR contains(lower(name), '.pdf') OR contains(lower(name), '.mov')
      |    OR contains(lower(name), '.mp4') OR contains(lower(name), '.jpg')
      |    OR contains(lower(name), '.png') OR contains(lower(name), '.doc')
      |    OR contains(lower(name), '.txt') OR contains(lower(name), '.zip')
      |    OR contains(lower(name), 'screen recording')
      |    OR contains(lower(name), 'screenshot')
      |    OR contains(lower(name), 'debug log')
      |    OR contains(name, '/') OR contains(name, '\\')
      |    OR starts_with(name, 'http') OR starts_with(name, 'www')))""".stripMargin

  /** Shared shingle scaffold: whitespace tokens → distinct word
    * 3-grams (1-based DuckDB lists, stop-exclusive range — same set as
    * Spark's 0-based `shingles3`). */
  private val shingleCte: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
      |shl AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform(
      |      range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [] END AS s
      |  FROM w)""".stripMargin

  /** E2 oracle scaffold, ending in a `pairs` CTE: 12 per-row
    * string-min minhashes, 4 band buckets (occupancy-capped like the
    * Spark side), bucket equi-join candidates, exact-Jaccard verify.
    * Shared verbatim by the E2 row and the E6 cluster closure. */
  private def minhashPairsCtes: String = {
    val sigs = (0 until 12)
      .map(k => s"    list_aggregate(list_transform(s, x -> md5('$k:' || x)), 'min') AS h$k")
      .mkString(",\n")
    val bands = (0 until 4).map { b =>
      s"  SELECT doc_id, md5('$b|' || h${3 * b} || h${3 * b + 1} || h${3 * b + 2}) AS bucket FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""$shingleCte,
       |sig AS (
       |  SELECT doc_id,
       |$sigs
       |  FROM shl),
       |bk0 AS (
       |$bands),
       |bk AS (
       |  SELECT doc_id, bucket FROM bk0
       |  QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= ${operators.Dedup.maxBucketSize}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |ver AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) AS jaccard
       |  FROM cand c
       |  JOIN shl x ON c.doc_a = x.doc_id
       |  JOIN shl y ON c.doc_b = y.doc_id),
       |pairs AS (SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= 0.8)""".stripMargin
  }

  private def minhashOracle: String =
    s"""$minhashPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** E2b oracle: generated from the SAME `Dedup.lshSettings` /
    * `recallSampleCount` constants as the Spark side. Replays the
    * 12-hash signatures, each layout's salted band buckets with the
    * per-layout occupancy cap, the BOUNDED capped-shingle
    * exact-Jaccard ≥ 0.5 ground truth (E4's rule restricted to pairs
    * touching the 100 lowest-id sample, canonical a-side-in-sample
    * orientation), and the per-layout candidate count + recall over
    * the same sampled pair space. */
  private def lshRecallOracle: String = {
    val sigs = (0 until 12)
      .map(k => s"    list_aggregate(list_transform(s, x -> md5('$k:' || x)), 'min') AS h$k")
      .mkString(",\n")
    val bands = operators.Dedup.lshSettings.flatMap { case (nb, nr) =>
      (0 until nb).map { bi =>
        val rows = (0 until nr).map(k => s"h${bi * nr + k}").mkString(" || ")
        s"  SELECT doc_id, $nb AS bands, $nr AS rows_per_band, md5('$nb/$nr:$bi|' || $rows) AS bucket FROM sig"
      }
    }.mkString("\n  UNION ALL\n")
    val settingsValues = operators.Dedup.lshSettings
      .map { case (nb, nr) => s"($nb, $nr)" }.mkString(", ")
    s"""$shingleCte,
       |sig AS (
       |  SELECT doc_id,
       |$sigs
       |  FROM shl),
       |qids AS (
       |  SELECT doc_id FROM documents ORDER BY doc_id
       |  LIMIT ${operators.Dedup.recallSampleCount}),
       |ex0 AS (SELECT doc_id, unnest(s) AS sh FROM shl),
       |ex AS (SELECT doc_id, sh FROM ex0
       |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= ${operators.Dedup.maxBucketSize}),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |cm AS (
       |  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
       |    GREATEST(a.doc_id, b.doc_id) AS doc_b, COUNT(*) AS common
       |  FROM ex a
       |  JOIN qids q ON a.doc_id = q.doc_id
       |  JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |    AND (a.doc_id < b.doc_id
       |      OR b.doc_id NOT IN (SELECT doc_id FROM qids))
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT cm.doc_a, cm.doc_b
       |  FROM cm JOIN sz x ON cm.doc_a = x.doc_id JOIN sz y ON cm.doc_b = y.doc_id
       |  WHERE CAST(cm.common AS DOUBLE)/CAST(x.n + y.n - cm.common AS DOUBLE) >= 0.5),
       |tot AS (SELECT COUNT(*) AS t FROM truth),
       |bk0 AS (
       |$bands),
       |bk AS (
       |  SELECT doc_id, bands, rows_per_band, bucket FROM bk0
       |  QUALIFY COUNT(*) OVER (PARTITION BY bands, rows_per_band, bucket)
       |    <= ${operators.Dedup.maxBucketSize}),
       |cand AS (
       |  SELECT DISTINCT a.bands, a.rows_per_band,
       |    LEAST(a.doc_id, b.doc_id) AS doc_a,
       |    GREATEST(a.doc_id, b.doc_id) AS doc_b
       |  FROM bk a
       |  JOIN qids q ON a.doc_id = q.doc_id
       |  JOIN bk b ON a.bands = b.bands
       |    AND a.rows_per_band = b.rows_per_band
       |    AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
       |    AND (a.doc_id < b.doc_id
       |      OR b.doc_id NOT IN (SELECT doc_id FROM qids))),
       |stats AS (
       |  SELECT bands, rows_per_band, COUNT(*) AS n_candidates
       |  FROM cand GROUP BY bands, rows_per_band),
       |hits AS (
       |  SELECT c.bands, c.rows_per_band, COUNT(*) AS h
       |  FROM cand c JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
       |  GROUP BY c.bands, c.rows_per_band),
       |ps AS (SELECT * FROM (VALUES $settingsValues) AS v(bands, rows_per_band))
       |SELECT ps.bands, ps.rows_per_band,
       |  COALESCE(s.n_candidates, 0) AS n_candidates,
       |  tot.t AS n_truth,
       |  ROUND(CAST(COALESCE(h.h, 0) AS DOUBLE) / CAST(tot.t AS DOUBLE), 6) AS recall
       |FROM ps
       |LEFT JOIN stats s ON ps.bands = s.bands AND ps.rows_per_band = s.rows_per_band
       |LEFT JOIN hits h ON ps.bands = h.bands AND ps.rows_per_band = h.rows_per_band, tot
       |ORDER BY ps.bands""".stripMargin
  }

  /** E7 oracle: the E2 pair CTEs (identical capping and
    * verification), then the cross-corpus filter — restricting
    * candidate generation to opposite tags (the Spark side) and
    * filtering the full pair set (here) select the same cross
    * pairs. */
  private def decontaminateOracle: String =
    s"""$minhashPairsCtes,
       |tags AS (
       |  SELECT doc_id,
       |    (CAST(COALESCE(NULLIF(regexp_extract(source, '([0-9]+)$$', 1), ''), '1') AS BIGINT) % 5 = 0) AS is_eval
       |  FROM documents)
       |SELECT CASE WHEN ta.is_eval THEN p.doc_a ELSE p.doc_b END AS eval_id,
       |  CASE WHEN ta.is_eval THEN p.doc_b ELSE p.doc_a END AS train_id,
       |  p.jaccard
       |FROM pairs p
       |JOIN tags ta ON p.doc_a = ta.doc_id
       |JOIN tags tb ON p.doc_b = tb.doc_id
       |WHERE ta.is_eval <> tb.is_eval
       |ORDER BY eval_id, train_id""".stripMargin

  /** E6 oracle: transitive closure over the SAME pair CTEs via a
    * recursive CTE (fixpoint UNION), each node mapped to the minimum
    * reachable id — an independent implementation of connected
    * components against which the Spark label propagation checks. */
  private def dedupClustersOracle: String =
    s"""${minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION
       |  SELECT doc_b AS s, doc_a AS d FROM pairs),
       |reach AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
       |SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
       |FROM reach
       |GROUP BY s
       |ORDER BY doc_id""".stripMargin

  /** E10 oracle: the E6 recursive closure over the same pair CTEs,
    * then the F2 quality formula per clustered doc and the
    * per-cluster keep-best argmax (quality desc, doc_id asc). */
  private def dedupCanonicalOracle: String =
    s"""${minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION
       |  SELECT doc_b AS s, doc_a AS d FROM pairs),
       |reach AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |clusters AS (
       |  SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY s),
       |qb AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_words,
       |    CAST(length(text) AS BIGINT) AS n_chars_m,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop
       |  FROM documents),
       |qd AS (
       |  SELECT doc_id,
       |    ROUND(0.4*least(1.0, CAST(n_words AS DOUBLE)/50.0)
       |        + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/NULLIF(CAST(n_chars_m AS DOUBLE), 0.0))
       |        + 0.3*least(1.0, CAST(n_stop AS DOUBLE)/NULLIF(CAST(n_words AS DOUBLE), 0.0)*5.0), 6) AS quality
       |  FROM qb),
       |sel AS (
       |  SELECT c.cluster_id, c.doc_id AS keep_id, q.quality,
       |    CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_members,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |      ORDER BY q.quality DESC, c.doc_id) AS rn
       |  FROM clusters c JOIN qd q ON c.doc_id = q.doc_id)
       |SELECT cluster_id, keep_id, quality, n_members,
       |  n_members - 1 AS n_dropped
       |FROM sel WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** Composed-family oracle: the E2/E6/E7 oracles over ONE shared
    * pair CTE (exactly how the Spark side shares one materialized
    * stage), union'd with aligned columns. */
  private def dedupFamilyOracle: String =
    s"""${minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION
       |  SELECT doc_b AS s, doc_a AS d FROM pairs),
       |reach AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |clusters AS (
       |  SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY s),
       |tags AS (
       |  SELECT doc_id,
       |    (CAST(COALESCE(NULLIF(regexp_extract(source, '([0-9]+)$$', 1), ''), '1') AS BIGINT) % 5 = 0) AS is_eval
       |  FROM documents)
       |SELECT 'pair' AS kind, doc_a AS id_a, doc_b AS id_b, jaccard AS score
       |FROM pairs
       |UNION ALL
       |SELECT 'cluster', doc_id, cluster_id, -1.0 FROM clusters
       |UNION ALL
       |SELECT 'contam',
       |  CASE WHEN ta.is_eval THEN p.doc_a ELSE p.doc_b END,
       |  CASE WHEN ta.is_eval THEN p.doc_b ELSE p.doc_a END,
       |  p.jaccard
       |FROM pairs p
       |JOIN tags ta ON p.doc_a = ta.doc_id
       |JOIN tags tb ON p.doc_b = tb.doc_id
       |WHERE ta.is_eval <> tb.is_eval
       |ORDER BY kind, id_a, id_b""".stripMargin

  /** E3 oracle: 64 bit-vote sums over tokens (bit k = high bit of hex
    * char (k mod 32)+1 of one of two salted md5s per token),
    * fingerprint assembly (bit 63's weight is the BIGINT min value —
    * the HUGEINT sum fits BIGINT and the cast reproduces the
    * two's-complement pattern), 4×16-bit band blocking with the same
    * occupancy cap as the Spark side, Hamming ≤ 3. */
  /** D27's replay: D1's scoring CTE → top-N candidate pool with
    * micro-unit relevance, the N² pairwise micro-unit cosines, then
    * the SAME k greedy MMR steps the engine folds — one CTE per
    * step, each restricted to the not-yet-selected pool, penalized
    * by a correlated MAX over the union of prior picks, tie to the
    * lowest vec_id. Integer micro-units end to end; the display
    * score is one exact-long division, 6dp. */
  private def mmrOracle: String = {
    val k = operators.VectorSearch.mmrK
    val n = operators.VectorSearch.mmrCandidates
    val lam = operators.VectorSearch.mmrLambdaNum
    val steps = (2 to k).map { i =>
      val selU = (1 until i).map(j => s"SELECT vec_id FROM s$j")
        .mkString(" UNION ALL ")
      s"""s$i AS (
         |  SELECT vec_id, rel, $i AS rank, mmr_u FROM (
         |    SELECT c.vec_id, c.rel,
         |      $lam*c.rel_u - ${10 - lam}*(SELECT MAX(p.sim_u) FROM p
         |        WHERE p.a = c.vec_id AND p.b IN ($selU)) AS mmr_u
         |    FROM cands c WHERE c.vec_id NOT IN ($selU))
         |  ORDER BY mmr_u DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val all = (1 to k).map(j => s"SELECT * FROM s$j").mkString(" UNION ALL ")
    s"""$embCte,
       |cands AS (
       |  SELECT vec_id, score AS rel,
       |    CAST(ROUND(score*1000000, 0) AS BIGINT) AS rel_u
       |  FROM (
       |    SELECT vec_id,
       |      ROUND(COALESCE(dot/NULLIF(en*(SELECT qnorm FROM qn),0),0),6) AS score
       |    FROM s)
       |  ORDER BY score DESC, vec_id LIMIT $n),
       |ce AS (
       |  SELECT ev.vec_id, ev.i, ev.v
       |  FROM ev JOIN cands ON ev.vec_id = cands.vec_id),
       |p AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    CAST(ROUND(ROUND(COALESCE(SUM(a.v*b.v)
       |      / NULLIF(SQRT(SUM(a.v*a.v))*SQRT(SUM(b.v*b.v)),0),0),6)*1000000, 0)
       |      AS BIGINT) AS sim_u
       |  FROM ce a JOIN ce b ON a.i = b.i AND a.vec_id <> b.vec_id
       |  GROUP BY a.vec_id, b.vec_id),
       |s1 AS (
       |  SELECT vec_id, rel, 1 AS rank, $lam*rel_u AS mmr_u FROM cands
       |  ORDER BY rel_u DESC, vec_id LIMIT 1),
       |$steps
       |SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel,
       |  ROUND(CAST(mmr_u AS DOUBLE)/10000000, 6) AS mmr_score
       |FROM ($all)
       |ORDER BY rank""".stripMargin
  }

  /** The E3/G6-shared band/QUALIFY/candidate SQL tail — the oracle
    * twin of `Dedup.hammingCandidates` (ONE definition, so a band-
    * geometry or occupancy-cap change in the shared engine helper
    * has exactly one oracle mirror): 4×16-bit band unpivot of a CTE
    * fp(doc_id, fp), the occupancy QUALIFY, distinct in-bucket pairs
    * with exact bit_count. Ends in cand(doc_a, doc_b, hamming). */
  private def hammingCandCtes: String = {
    val bands = (0 until 4)
      .map(b => s"  SELECT doc_id, fp, $b AS band, (fp >> ${16 * b}) & 65535 AS bv FROM fp")
      .mkString("\n  UNION ALL\n")
    s"""bands0 AS (
       |$bands),
       |bands AS (
       |  SELECT doc_id, fp, band, bv FROM bands0
       |  QUALIFY COUNT(*) OVER (PARTITION BY band, bv) <= ${operators.Dedup.maxBucketSize}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** G6's replay: the same 64 strided code-point samples (the
    * VARCHAR stand-in for byte offsets — the G-family's documented
    * ASCII-oracle constraint), the exact integer mean test, the
    * shared [[hammingCandCtes]] pairing. */
  private def mediaPhashOracle: String = {
    val nS = operators.Multimodal.phashSamples
    val vCols = (0 until nS).map(b =>
      s"    ascii(substr(text, CAST((CAST(length(text) AS BIGINT) * $b) // $nS AS INT) + 1, 1)) AS v$b")
      .mkString(",\n")
    val tot = (0 until nS).map(b => s"v$b").mkString(" + ")
    val fpSum = (0 until nS)
      .map(b => s"(CASE WHEN $nS * v$b > tot THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH s AS (
       |  SELECT doc_id,
       |$vCols
       |  FROM documents WHERE length(text) >= $nS),
       |st AS (SELECT *, ($tot) AS tot FROM s),
       |fp AS (SELECT doc_id, CAST($fpSum AS BIGINT) AS fp FROM st),
       |$hammingCandCtes,
       |sym AS (
       |  SELECT doc_a AS doc_id, hamming FROM cand
       |  UNION ALL
       |  SELECT doc_b AS doc_id, hamming FROM cand),
       |audit AS (
       |  SELECT doc_id, COUNT(*) AS n_candidates,
       |    CAST(SUM(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes
       |  FROM sym GROUP BY doc_id)
       |SELECT fp.doc_id, fp.fp,
       |  COALESCE(audit.n_candidates, 0) AS n_candidates,
       |  COALESCE(audit.n_dupes, 0) AS n_dupes
       |FROM fp LEFT JOIN audit ON audit.doc_id = fp.doc_id
       |ORDER BY fp.doc_id""".stripMargin
  }

  private def simhashOracle: String = {
    val sums = (0 until 64).map { k =>
      val src = if (k < 32) "md5('a:' || w)" else "md5('b:' || w)"
      s"    SUM(CASE WHEN substr($src,${(k % 32) + 1},1) <= '7' THEN 1 ELSE -1 END) AS s$k"
    }.mkString(",\n")
    val fpSum = (0 until 64)
      .map(k => s"(CASE WHEN s$k >= 0 THEN ${1L << k} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       |bs AS (
       |  SELECT doc_id,
       |$sums
       |  FROM tk GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fpSum AS BIGINT) AS fp FROM bs),
       |$hammingCandCtes
       |SELECT doc_a, doc_b, hamming
       |FROM cand
       |WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared DuckDB replay of the seeded two-level IVF assignment
    * (EmbeddingStore.seedCentroids + assignCells): cells = the
    * numCellsFor(n) lowest vec_ids in id order; coarse seeds = the
    * ceil(sqrt(k)) lowest cells; fine cells group under their argmax
    * coarse centroid with each coarse seed pinned to its own group;
    * every vector argmaxes the coarse level then only its group's
    * fine centroids — 6dp-rounded cosines, lowest-key tie-breaks,
    * zero-norm divisions guarded to 0 like CosineSimilarity.
    * Produces CTEs ev(vec_id,i,v), cent(cell,i,v) and asg(vec_id,
    * cell); shared verbatim by E5, D7 and D4 so all three rows
    * replay ONE rule. */
  /** E12's gram-occurrence → survivor-flag → coverage CTE chain (1-based
    * positional grams via unnest + inclusive slices; survivor rule =
    * row_number over the gram hash by (doc_id, pos); coverage = sliding
    * MAX over the previous spanGramLen-1 positions) — the ONE replay
    * both span rows nest: E12 consumes `cov` whole, E14 restricts it to
    * delta docs. Spark is 0-based positional — pos never leaves either
    * query, so only its ordering matters and each side stays
    * self-consistent. */
  /** F29's oracle, built by the same loop the engine runs: 8 unrolled
    * (pair-stats → 1-row argmax → fold-merge) CTE blocks. Kept as a
    * generator so the step count can never drift from
    * `TextAnalysis.bpeTrainMerges` — the engine and the oracle unroll
    * the SAME constant. */
  private def bpeStepCtesBody: String = {
    val n = graft.operators.TextAnalysis.bpeTrainMerges
    val steps = (1 to n).map { k =>
      s"""p$k AS (
         |  SELECT pair, CAST(SUM(c) AS BIGINT) AS total FROM (
         |    SELECT c, unnest(list_transform(range(1, len(seg)),
         |      i -> seg[i] || ' ' || seg[i + 1])) AS pair
         |    FROM v${k - 1}) GROUP BY 1),
         |b$k AS (
         |  SELECT total, string_split(pair, ' ')[1] AS l,
         |    string_split(pair, ' ')[2] AS r
         |  FROM p$k ORDER BY total DESC, pair LIMIT 1),
         |v$k AS (
         |  SELECT c, string_split(list_reduce(seg, (acc, x) ->
         |    CASE WHEN right(' ' || acc, length(l) + 1) = ' ' || l AND x = r
         |         THEN substr(acc, 1, length(acc) - length(l)) || l || r
         |         ELSE acc || ' ' || x END), ' ') AS seg
         |  FROM v${k - 1}, b$k)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       |v0 AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS c,
       |    regexp_split_to_array(w, '') AS seg
       |  FROM tok WHERE length(w) >= 1 GROUP BY w),
       |$steps""".stripMargin
  }

  private val bpeTrainOracle: String = {
    val n = graft.operators.TextAnalysis.bpeTrainMerges
    val finals = (1 to n).map { k =>
      s"""SELECT $k AS step, l AS lhs, r AS rhs, total AS pair_total,
         |  (SELECT CAST(SUM(c * len(seg)) AS BIGINT) FROM v$k)
         |    AS tokens_after
         |FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeStepCtesBody
       |$finals
       |ORDER BY step""".stripMargin
  }

  /** F33's oracle: the SAME unrolled trainer chain, then the final
    * vocabulary's segment lengths joined back to per-(source, word)
    * occurrence counts — a word spells back as the concatenation of
    * its segments, so the vocab chain needs no carried word column. */
  private val bpeApplyOracle: String = {
    val n = graft.operators.TextAnalysis.bpeTrainMerges
    s"""WITH $bpeStepCtesBody,
       |vf AS (
       |  SELECT array_to_string(seg, '') AS w,
       |    CAST(len(seg) AS BIGINT) AS bpe_len
       |  FROM v$n),
       |ps AS (
       |  SELECT source, w, COUNT(*) AS n FROM (
       |    SELECT source,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE length(w) >= 1 GROUP BY 1, 2)
       |SELECT ps.source,
       |  CAST(SUM(ps.n) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(ps.n * length(ps.w)) AS BIGINT) AS char_tokens,
       |  CAST(SUM(ps.n * vf.bpe_len) AS BIGINT) AS bpe_tokens,
       |  ROUND(CAST(SUM(ps.n * length(ps.w)) AS DOUBLE)
       |    / CAST(SUM(ps.n * vf.bpe_len) AS DOUBLE), 6) AS compression
       |FROM ps JOIN vf ON ps.w = vf.w
       |GROUP BY ps.source
       |ORDER BY ps.source""".stripMargin
  }

  /** F13/F31's shared temperature-weight replay (tok → per-source
    * totals → p^0.3 in integer micro-units + the two 1-row totals) —
    * both rows nest this ONE definition, so the mixing audit and the
    * epoch plan can never disagree about a weight. */
  private val tempMicroCtesBody: String =
    """tok AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS nt
      |  FROM documents),
      |per AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
      |  FROM tok GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per),
      |m AS (
      |  SELECT source, n_docs, n_tokens,
      |    n_tokens / (SELECT tot FROM tot) AS p,
      |    CAST(ROUND(POWER(n_tokens / (SELECT tot FROM tot), 0.3) * 1000000, 0) AS BIGINT) AS micro
      |  FROM per),
      |mt AS (SELECT CAST(SUM(micro) AS BIGINT) AS mtot FROM m)""".stripMargin

  /** E20/E21's shared selection replay (positional 5-grams, trailing
    * full-window MIN, following-window MAX existence test) — both
    * winnow rows nest this ONE definition, so the audit and the pair
    * report can never disagree about what a fingerprint is. */
  private val winnowSelCtes: String =
    """WITH wd AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    md5(array_to_string(ws[i:i + 4], ' ')) AS gh
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i
      |        FROM wd WHERE len(ws) >= 5)),
      |m AS (
      |  SELECT doc_id, pos, gh,
      |    CASE WHEN pos >= 7 THEN MIN(gh) OVER
      |      (PARTITION BY doc_id ORDER BY pos
      |       RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) END AS wmin
      |  FROM g),
      |s AS (
      |  SELECT doc_id, pos, gh,
      |    COALESCE(MAX(wmin) OVER
      |      (PARTITION BY doc_id ORDER BY pos
      |       RANGE BETWEEN CURRENT ROW AND 7 FOLLOWING) = gh, FALSE) AS sel
      |  FROM m)""".stripMargin

  private val spanCovCtes: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
       |  FROM w),
       |occ0 AS (
       |  SELECT doc_id, CAST(unnest(range(1, len(ws) - ${operators.Dedup.spanGramLen - 2})) AS INT) AS i, ws
       |  FROM w WHERE len(ws) >= ${operators.Dedup.spanGramLen}),
       |occ AS (
       |  SELECT doc_id, i AS pos,
       |    md5(list_aggregate(ws[i:i+${operators.Dedup.spanGramLen - 1}], 'string_agg', ' ')) AS gh
       |  FROM occ0),
       |flag AS (
       |  SELECT doc_id, pos,
       |    (row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) > 1) AS dup
       |  FROM occ),
       |cov AS (
       |  SELECT t.doc_id, t.pos, t.w,
       |    MAX(CASE WHEN COALESCE(f.dup, FALSE) THEN 1 ELSE 0 END) OVER
       |      (PARTITION BY t.doc_id ORDER BY t.pos
       |       RANGE BETWEEN ${operators.Dedup.spanGramLen - 1} PRECEDING AND CURRENT ROW) AS covered
       |  FROM tok t LEFT JOIN flag f ON t.doc_id = f.doc_id AND t.pos = f.pos)""".stripMargin

  /** The fresh-build index-stats CTE chain shared by D9, D13 and D20's
    * oracles (expects `ev`/`asg2`/`rc` from the assign/refine CTEs):
    * rcf casts the refined centroids through FLOAT — the engine STORES
    * centroids as array<float>, so the oracle must score against the
    * float-quantized values or ~0.5% of per-vector cosines would round
    * differently in the 6th decimal and perturb the micro-unit mean. */
  private val ivfStatsCtes: String =
    """rcf AS (SELECT cell, i, CAST(CAST(v AS FLOAT) AS DOUBLE) AS v FROM rc),
      |ics AS (
      |  SELECT a.vec_id,
      |    ROUND(COALESCE(SUM(e.v*c.v)
      |      / NULLIF(SQRT(SUM(e.v*e.v))*SQRT(SUM(c.v*c.v)),0),0),6) AS cs
      |  FROM ev e
      |  JOIN asg2 a ON e.vec_id = a.vec_id
      |  JOIN rcf c ON c.cell = a.cell AND c.i = e.i
      |  GROUP BY a.vec_id),
      |csz AS (SELECT cell, COUNT(*) AS n FROM asg2 GROUP BY cell),
      |agg AS (
      |  SELECT
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM asg2) AS n_vectors,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM csz) AS n_cells,
      |    (SELECT CAST(MAX(n) AS BIGINT) FROM csz) AS max_cell,
      |    (SELECT SUM(CAST(ROUND(cs*1000000) AS BIGINT)) FROM ics) AS s_micro)""".stripMargin

  /** The stat columns a fresh-built index reports (appended_frac
    * replays as 0 — a fresh build has no gen-1 rows; pq_distortion
    * comes from [[pqDistortionCtes]]'s pdt), selected FROM agg. */
  private val ivfStatsCols: String =
    """n_vectors, n_cells, max_cell,
      |  ROUND(CAST(max_cell AS DOUBLE) * CAST(n_cells AS DOUBLE)
      |    / CAST(n_vectors AS DOUBLE), 6) AS cell_skew,
      |  ROUND(CAST(0 AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) AS appended_frac,
      |  ROUND(CAST(s_micro AS DOUBLE) / CAST(n_vectors AS DOUBLE)
      |    / 1000000.0, 6) AS mean_intra_cosine,
      |  ROUND(CAST((SELECT d_sum FROM pdt) AS DOUBLE)
      |    / CAST(n_vectors AS DOUBLE) / 1000000.0, 6) AS pq_distortion""".stripMargin

  /** PQ codebook replay shared by D12 and the stats oracles (expects
    * `ev` from the assign CTEs): micro-unit corpus (z), the 16
    * lowest-id seeds (cbk0), a FULL-corpus assignment against the
    * seeds (codes0: exact integer argmin, ties lowest cid), and ONE
    * Lloyd mean step — new entry component = ROUND(AVG(member
    * component)), empty clusters keep the seed — matching
    * `ProductQuantizer.codebookRows(lloydIterations = 1)` exactly.
    * `cbk` is the refined codebook every consumer scores against. */
  private val pqCodebookCtes: String =
    """z AS (
      |  SELECT vec_id, CAST(FLOOR((i-1)/8.0) AS INT) AS sub,
      |         CAST((i-1)%8 AS INT) AS j,
      |         CAST(ROUND(v*1000000) AS BIGINT) AS zv
      |  FROM ev),
      |seeds AS (
      |  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id)-1 AS INT) AS cid
      |  FROM embeddings
      |  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 16),
      |cbk0 AS (SELECT s.cid, d.sub, d.j, d.zv AS cv
      |        FROM seeds s JOIN z d ON d.vec_id = s.vec_id),
      |ds0 AS (
      |  SELECT d.vec_id, d.sub, c.cid,
      |    CAST(SUM((d.zv - c.cv)*(d.zv - c.cv)) AS BIGINT) AS dist
      |  FROM z d JOIN cbk0 c ON c.sub = d.sub AND c.j = d.j
      |  GROUP BY d.vec_id, d.sub, c.cid),
      |codes0 AS (
      |  SELECT vec_id, sub, cid FROM ds0
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) = 1),
      |cmeans AS (
      |  SELECT c0.sub, c0.cid, d.j,
      |    CAST(ROUND(AVG(CAST(d.zv AS DOUBLE))) AS BIGINT) AS mv
      |  FROM codes0 c0 JOIN z d ON d.vec_id = c0.vec_id AND d.sub = c0.sub
      |  GROUP BY c0.sub, c0.cid, d.j),
      |cbk AS (
      |  SELECT b.cid, b.sub, b.j, COALESCE(m.mv, b.cv) AS cv
      |  FROM cbk0 b LEFT JOIN cmeans m
      |    ON m.sub = b.sub AND m.cid = b.cid AND m.j = b.j)""".stripMargin

  /** Corpus-wide PQ quantization error against the REFINED codebook
    * (expects z + cbk): per (vec, sub) min integer L2, summed per
    * vector (exact), scaled once to micro-units — pdt.d_sum is what
    * `pq_distortion` divides down. */
  private val pqDistortionCtes: String =
    """pd1 AS (
      |  SELECT d.vec_id, d.sub, c.cid,
      |    CAST(SUM((d.zv - c.cv)*(d.zv - c.cv)) AS BIGINT) AS dist
      |  FROM z d JOIN cbk c ON c.sub = d.sub AND c.j = d.j
      |  GROUP BY d.vec_id, d.sub, c.cid),
      |pd2 AS (SELECT vec_id, sub, MIN(dist) AS mdist FROM pd1 GROUP BY vec_id, sub),
      |pd3 AS (SELECT vec_id,
      |          CAST(ROUND(CAST(SUM(mdist) AS DOUBLE)/1000000.0) AS BIGINT) AS d_mu
      |        FROM pd2 GROUP BY vec_id),
      |pdt AS (SELECT CAST(SUM(d_mu) AS BIGINT) AS d_sum FROM pd3)""".stripMargin

  /** D19's per-query probe + exact-rank replay (expects ev/rc/asg2):
    * q = the 5-query sample, per-query probe choice (6dp + cell
    * tie-break), candidate scoring inside each query's probed cells,
    * per-query exact rank in `rr`. Shared by the batch-search and
    * PQ-recall oracles so both legs provably probe identically. */
  private val batchExactCtes: String =
    """q AS (SELECT vec_id AS query_id, i, v AS qv FROM ev WHERE vec_id < 5),
      |qn AS (SELECT query_id, SQRT(SUM(qv*qv)) AS qnorm FROM q GROUP BY query_id),
      |prs AS (
      |  SELECT q.query_id, c.cell,
      |    ROUND(COALESCE(SUM(c.v*q.qv)
      |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(q.qv*q.qv)),0),0),6) AS cs
      |  FROM rc c JOIN q ON c.i = q.i GROUP BY q.query_id, c.cell),
      |probe AS (
      |  SELECT query_id, cell FROM prs
      |  QUALIFY ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY cs DESC, cell) <= 2),
      |s AS (
      |  SELECT q.query_id, e.vec_id, a.cell,
      |         SUM(e.v*q.qv) AS dot, SQRT(SUM(e.v*e.v)) AS en
      |  FROM ev e
      |  JOIN asg2 a ON e.vec_id = a.vec_id
      |  JOIN probe p ON a.cell = p.cell
      |  JOIN q ON e.i = q.i AND q.query_id = p.query_id
      |  WHERE e.vec_id <> p.query_id
      |  GROUP BY q.query_id, e.vec_id, a.cell),
      |r AS (
      |  SELECT s.query_id, s.vec_id AS doc_id, s.cell,
      |    ROUND(COALESCE(s.dot/NULLIF(s.en*qn.qnorm,0),0),6) AS score
      |  FROM s JOIN qn ON s.query_id = qn.query_id),
      |rr AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
      |  FROM r)""".stripMargin

  private val ivfAssignCte: String = ivfAssignCteOn("TRUE")

  /** [[ivfAssignCte]] with the BUILD population restricted by a
    * vec_id predicate: seeds, the cell-count rule and the first-round
    * assignment (which feeds the Lloyd step's means) see only the
    * matching vectors, while `ev` still spans the whole corpus — the
    * replay shape of an index BUILT from a base and APPENDED to
    * afterwards (q_index_maintain). With the default TRUE this is
    * byte-for-byte the full-corpus build every other D oracle
    * nests. */
  private def ivfAssignCteOn(buildPred: String): String =
    s"""WITH ev AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |evb AS (SELECT * FROM ev WHERE $buildPred),
        |nc AS (
        |  SELECT GREATEST(2, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT),
        |                  CAST(CEIL(COUNT(*) / 1024.0) AS BIGINT)) AS k
        |  FROM embeddings WHERE $buildPred),
        |kcn AS (SELECT GREATEST(1, CAST(CEIL(SQRT(k)) AS BIGINT)) AS kc FROM nc),
        |seed AS (
        |  SELECT vec_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell
        |  FROM embeddings WHERE $buildPred
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM nc)),
        |cent AS (SELECT s.cell, e.i, e.v FROM seed s JOIN ev e ON e.vec_id = s.vec_id),
        |co AS (SELECT cell AS coarse, i, v FROM cent WHERE cell < (SELECT kc FROM kcn)),
        |fgs AS (
        |  SELECT c.cell, k.coarse,
        |    ROUND(COALESCE(SUM(c.v*k.v)
        |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(k.v*k.v)),0),0),6) AS cscore
        |  FROM cent c JOIN co k ON c.i = k.i
        |  GROUP BY c.cell, k.coarse),
        |fg AS (
        |  SELECT cell,
        |    CASE WHEN cell < (SELECT kc FROM kcn) THEN cell ELSE coarse END AS coarse
        |  FROM fgs
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cell ORDER BY cscore DESC, coarse) = 1),
        |l1s AS (
        |  SELECT e.vec_id, k.coarse,
        |    ROUND(COALESCE(SUM(e.v*k.v)
        |      / NULLIF(SQRT(SUM(e.v*e.v))*SQRT(SUM(k.v*k.v)),0),0),6) AS cscore
        |  FROM evb e JOIN co k ON e.i = k.i
        |  GROUP BY e.vec_id, k.coarse),
        |l1 AS (
        |  SELECT vec_id, coarse FROM l1s
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cscore DESC, coarse) = 1),
        |l2s AS (
        |  SELECT e.vec_id, f.cell,
        |    ROUND(COALESCE(SUM(e.v*c.v)
        |      / NULLIF(SQRT(SUM(e.v*e.v))*SQRT(SUM(c.v*c.v)),0),0),6) AS cscore
        |  FROM ev e
        |  JOIN l1 ON e.vec_id = l1.vec_id
        |  JOIN fg f ON f.coarse = l1.coarse
        |  JOIN cent c ON c.cell = f.cell AND c.i = e.i
        |  GROUP BY e.vec_id, f.cell),
        |asg AS (
        |  SELECT vec_id, cell FROM l2s
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cell) = 1)""".stripMargin

  /** Shared replay of the PERSISTED index build past the first-round
    * assignment (`ivfAssignCte`'s `asg`): one Lloyd step (per-cell
    * mean, components 6dp-rounded), then a SECOND two-level
    * assignment against the refined centroids — cells may be
    * non-contiguous after the Lloyd reassignment, so the coarse seeds
    * are the rank-relabeled kc lowest surviving cells, exactly like
    * assignCells' zipWithIndex relabel. Produces CTEs rc(cell,i,v)
    * (refined centroids, exact 6dp doubles) and asg2(vec_id,cell)
    * (the persisted assignment). Shared by D8's probe replay and
    * D9's index-stats replay. */
  private val ivfRefinedCte: String =
    """rc AS (
      |  SELECT a.cell, e.i, ROUND(AVG(e.v),6) AS v
      |  FROM ev e JOIN asg a ON e.vec_id = a.vec_id
      |  GROUP BY a.cell, e.i),
      |rk2 AS (
      |  SELECT GREATEST(1, CAST(CEIL(SQRT(COUNT(DISTINCT cell))) AS BIGINT)) AS kc
      |  FROM rc),
      |co2m AS (
      |  SELECT cell AS seed_cell,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cell) - 1 AS INTEGER) AS coarse
      |  FROM (SELECT DISTINCT cell FROM rc)
      |  QUALIFY ROW_NUMBER() OVER (ORDER BY cell) <= (SELECT kc FROM rk2)),
      |co2 AS (SELECT m.coarse, r.i, r.v FROM co2m m JOIN rc r ON r.cell = m.seed_cell),
      |fgs2 AS (
      |  SELECT c.cell, k.coarse,
      |    ROUND(COALESCE(SUM(c.v*k.v)
      |      / NULLIF(SQRT(SUM(c.v*c.v))*SQRT(SUM(k.v*k.v)),0),0),6) AS cscore
      |  FROM rc c JOIN co2 k ON c.i = k.i
      |  GROUP BY c.cell, k.coarse),
      |fg2 AS (
      |  SELECT f.cell, COALESCE(m.coarse, f.coarse) AS coarse
      |  FROM (SELECT cell, coarse FROM fgs2
      |        QUALIFY ROW_NUMBER() OVER (PARTITION BY cell ORDER BY cscore DESC, coarse) = 1) f
      |  LEFT JOIN co2m m ON m.seed_cell = f.cell),
      |l1s2 AS (
      |  SELECT e.vec_id, k.coarse,
      |    ROUND(COALESCE(SUM(e.v*k.v)
      |      / NULLIF(SQRT(SUM(e.v*e.v))*SQRT(SUM(k.v*k.v)),0),0),6) AS cscore
      |  FROM ev e JOIN co2 k ON e.i = k.i
      |  GROUP BY e.vec_id, k.coarse),
      |l12 AS (
      |  SELECT vec_id, coarse FROM l1s2
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cscore DESC, coarse) = 1),
      |l2s2 AS (
      |  SELECT e.vec_id, f.cell,
      |    ROUND(COALESCE(SUM(e.v*c.v)
      |      / NULLIF(SQRT(SUM(e.v*e.v))*SQRT(SUM(c.v*c.v)),0),0),6) AS cscore
      |  FROM ev e
      |  JOIN l12 ON e.vec_id = l12.vec_id
      |  JOIN fg2 f ON f.coarse = l12.coarse
      |  JOIN rc c ON c.cell = f.cell AND c.i = e.i
      |  GROUP BY e.vec_id, f.cell),
      |asg2 AS (
      |  SELECT vec_id, cell FROM l2s2
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cell) = 1)""".stripMargin

  /** D23/D24's shared int8 replay (expects zc(vec_id, i, z) micro-
    * unit candidate components and zq(i, zq) the micro-unit query):
    * per-vector max-abs scale, the exact half-up codes via the floor
    * identity, and the integer-sum scoring aggregates. ONE
    * definition for the flat scan (D23) and the probed sidecar
    * (D24), so the code rule can never drift between them. */
  private val sq8CtesBody: String =
    """scl AS (SELECT vec_id, MAX(ABS(z)) AS sv FROM zc GROUP BY vec_id),
      |cdz AS (
      |  SELECT c.vec_id, c.i,
      |    CASE WHEN l.sv = 0 THEN 0
      |         ELSE (CASE WHEN c.z < 0 THEN -1 ELSE 1 END) *
      |              CAST(FLOOR((2*127*ABS(c.z) + l.sv) / (2.0*l.sv)) AS BIGINT)
      |    END AS c
      |  FROM zc c JOIN scl l ON l.vec_id = c.vec_id),
      |sq1 AS (
      |  SELECT cdz.vec_id, SUM(cdz.c*zq.zq) AS dotc,
      |         SUM(zq.zq*zq.zq) AS nq2, SUM(cdz.c*cdz.c) AS nc2
      |  FROM cdz JOIN zq ON zq.i = cdz.i
      |  GROUP BY cdz.vec_id)""".stripMargin

  /** E5's within-cell pair CTEs (the assignment scaffold + the
    * unordered same-cell pair scoring, every pair once, 6dp-rounded
    * cosine, NO threshold), shared verbatim by the q_dedup_embedding
    * oracle (≥ 0.35) and q_semdedup's closure over the same pairs at
    * the tighter SemDeDup threshold — the one definition mirroring
    * Dedup.cellPairs. Ends in cp(vec_a, vec_b, cell, score). */
  private val cellPairCtes: String =
    s"""$ivfAssignCte,
       |ep AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ax.cell AS cell,
       |         SUM(a.v*b.v) AS dot, SQRT(SUM(a.v*a.v)) AS na, SQRT(SUM(b.v*b.v)) AS nb
       |  FROM ev a
       |  JOIN asg ax ON a.vec_id = ax.vec_id
       |  JOIN asg bx ON bx.cell = ax.cell AND a.vec_id < bx.vec_id
       |  JOIN ev b ON b.vec_id = bx.vec_id AND a.i = b.i
       |  GROUP BY a.vec_id, b.vec_id, ax.cell),
       |cp AS (
       |  SELECT vec_a, vec_b, cell,
       |         ROUND(COALESCE(dot/NULLIF(na*nb,0),0),6) AS score
       |  FROM ep)""".stripMargin

  /** B2/B17's shared session CTE chain (lag → gap flag → running
    * session id over the (ts, event_id) order) — the rollup and the
    * path report nest this ONE definition, so they can never disagree
    * about a session boundary. Ends in s(event_id, ts, user_id,
    * value, event_type, prev_ts, new_sess, sess_id). */
  private val sessionCtesBody: String =
    """o AS (
      |  SELECT event_id, ts, user_id, value, event_type,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
      |    THEN 1 ELSE 0 END AS new_sess
      |  FROM o),
      |s AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM m)""".stripMargin

  /** D32's oracle: the spherical k-means loop unrolled from the SAME
    * `kmeansK`/`kmeansIters` constants the engine runs (the
    * pagerank/bpe_train generation discipline — the oracle cannot
    * drift from the engine's iteration count or seed rule). Each
    * step: grouped-sum cosine vs the previous centroid table, argmax
    * per vector (s DESC, cell ASC), the stats row, then the 6dp
    * member-mean THROUGH FLOAT (lloydStep's storage contract). */
  private def kmeansOracle: String = {
    val k = operators.KMeans.kmeansK
    val n = operators.KMeans.kmeansIters
    val steps = (1 to n).map { i =>
      s"""s$i AS (
         |  SELECT e.vec_id, c.cell,
         |    ROUND(COALESCE(SUM(e.v*c.cv)
         |      / NULLIF(SQRT(SUM(e.v*e.v))*SQRT(SUM(c.cv*c.cv)),0),0),6) AS s
         |  FROM ev e JOIN ct${i - 1} c ON c.i = e.i
         |  GROUP BY e.vec_id, c.cell),
         |a$i AS (
         |  SELECT vec_id, cell, s FROM s$i
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) = 1),
         |r$i AS (
         |  SELECT $i AS iter, CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_cells,
         |    CAST(SUM(CAST(ROUND((1.0 - s) * 1e6, 0) AS BIGINT)) AS BIGINT)
         |      AS inertia_micro
         |  FROM a$i),
         |ct$i AS (
         |  SELECT a.cell, e.i, CAST(CAST(ROUND(AVG(e.v),6) AS FLOAT) AS DOUBLE) AS cv
         |  FROM ev e JOIN a$i a ON e.vec_id = a.vec_id
         |  GROUP BY a.cell, e.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |c0 AS (
       |  SELECT vec_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell
       |  FROM embeddings
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= $k),
       |ct0 AS (
       |  SELECT c.cell, e.i, e.v AS cv
       |  FROM c0 c JOIN ev e ON e.vec_id = c.vec_id),
       |$steps
       |SELECT * FROM (
       |  ${(1 to n).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")})
       |ORDER BY iter""".stripMargin
  }

  /** E15/E16's centroid-similarity CTEs (per-cell member-mean
    * centroids — 6dp components stored through FLOAT, exactly
    * lloydStep's contract — then every member's 6dp cosine to its
    * own cell's centroid), shared verbatim by q_semdedup's keeper
    * rule and q_prototypes' global ranking. BODY only (no WITH):
    * callers prepend the assignment scaffold. Needs ev + asg in
    * scope; ends in cs(vec_id, cell, centroid_sim). */
  private val centroidSimCtesBody: String =
    """ctr AS (
       |  SELECT a.cell, e.i,
       |    CAST(CAST(ROUND(AVG(e.v),6) AS FLOAT) AS DOUBLE) AS cv
       |  FROM ev e JOIN asg a ON e.vec_id = a.vec_id
       |  GROUP BY a.cell, e.i),
       |cs AS (
       |  SELECT e.vec_id, a.cell,
       |    ROUND(COALESCE(SUM(e.v*c.cv)
       |      / NULLIF(SQRT(SUM(e.v*e.v))*SQRT(SUM(c.cv*c.cv)),0),0),6) AS centroid_sim
       |  FROM ev e
       |  JOIN asg a ON e.vec_id = a.vec_id
       |  JOIN ctr c ON c.cell = a.cell AND c.i = e.i
       |  GROUP BY e.vec_id, a.cell)""".stripMargin

  /** E15/E17's ε-group closure (pairs above the SemDeDup threshold,
    * symmetrized, the E6 recursive-closure pattern, components
    * labeled by min member id). BODY only; needs cp in scope and a
    * WITH RECURSIVE header; ends in comp(vec_id, cluster_id). */
  private val semClosureCtesBody: String =
    s"""e0 AS (SELECT vec_a AS s, vec_b AS d FROM cp
       |       WHERE score >= ${operators.Dedup.semDedupThreshold}),
       |edges AS (SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0),
       |reach AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT rch.s, e.d FROM reach rch JOIN edges e ON rch.d = e.s),
       |comp AS (
       |  SELECT s AS vec_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY s)""".stripMargin

  /** E15/E17's keeper window over the group members (min 6dp
    * centroid-cosine, ties to the lowest vec_id). Needs comp + cs in
    * scope; ends in kt(vec_id, cluster_id, cell, centroid_sim, rn) —
    * rn = 1 is the keeper. */
  private val semKeeperKtCte: String =
    """kt AS (
      |  SELECT comp.vec_id AS vec_id, comp.cluster_id AS cluster_id,
      |         cs.cell AS cell, cs.centroid_sim AS centroid_sim,
      |    ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
      |      ORDER BY cs.centroid_sim ASC, comp.vec_id) AS rn
      |  FROM comp JOIN cs ON cs.vec_id = comp.vec_id)""".stripMargin

  /** E16/E17's ONE FLAT global easiest-first rank (the window the
    * engine's two-level bin-rank must equal) in its own CTE (the
    * DuckDB window-in-final-select quirk) + the 1-row corpus count.
    * Needs cs in scope; ends in nt(n), rk(vec_id, cell,
    * centroid_sim, proto_rank). */
  private val protoRankCtesBody: String =
    """nt AS (SELECT COUNT(*) AS n FROM embeddings),
      |rk AS (
      |  SELECT vec_id, cell, centroid_sim,
      |    ROW_NUMBER() OVER (ORDER BY centroid_sim DESC, vec_id)
      |      AS proto_rank
      |  FROM cs)""".stripMargin

  /** D15's graph CTEs (cell assignment scaffold + within-cell pair
    * scoring + per-vector ranking), shared verbatim by the
    * q_knn_graph oracle and D18's closure over the same edges. */
  private val knnGraphCtes: String =
    s"""$ivfAssignCte,
       |s AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |         SUM(a.v*b.v) AS dot, SQRT(SUM(a.v*a.v)) AS na, SQRT(SUM(b.v*b.v)) AS nb
       |  FROM ev a
       |  JOIN asg ax ON a.vec_id = ax.vec_id
       |  JOIN asg bx ON bx.cell = ax.cell AND bx.vec_id <> a.vec_id
       |  JOIN ev b ON b.vec_id = bx.vec_id AND a.i = b.i
       |  GROUP BY a.vec_id, b.vec_id),
       |r AS (
       |  SELECT vec_id, neighbor_id,
       |    ROUND(COALESCE(dot/NULLIF(na*nb,0),0),6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY ROUND(COALESCE(dot/NULLIF(na*nb,0),0),6) DESC, neighbor_id) AS rnk
       |  FROM s)""".stripMargin

  /** D16's BM25 CTE chain WITHOUT a leading `WITH`, so it composes
    * into other oracles (q_search_hybrid prepends the cosine
    * scaffold). Ends in `bmd` = (doc_id, n_terms, mu) — the
    * micro-unit BM25 score per matching doc. The ONE definition both
    * the standalone and the hybrid oracle replay, so they can never
    * drift (the knnGraphCtes rationale). Names avoid embCte's
    * ev/q/qn/s. */
  private val bm25CtesBody: String =
    """tk0 AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |qt AS (SELECT DISTINCT unnest(ws) AS w FROM tk0 WHERE doc_id = 0),
      |tok AS (SELECT doc_id, unnest(ws) AS w FROM tk0 WHERE doc_id <> 0),
      |dlt AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |  CAST(SUM(dl) AS DOUBLE) AS toks FROM dlt),
      |tfq AS (SELECT doc_id, w, COUNT(*) AS tf
      |  FROM tok JOIN qt USING (w) GROUP BY 1, 2),
      |dfq AS (SELECT w, COUNT(*) AS df FROM tfq GROUP BY 1),
      |sc AS (
      |  SELECT tfq.doc_id,
      |    CAST(ROUND(LN((n - df + 0.5) / (df + 0.5) + 1.0)
      |      * ((CAST(tf AS DOUBLE) * 2.2)
      |        / (CAST(tf AS DOUBLE)
      |          + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) * n / toks)))
      |      * 1e6, 0) AS BIGINT) AS c_mu
      |  FROM tfq
      |  JOIN dfq USING (w)
      |  JOIN dlt ON tfq.doc_id = dlt.doc_id, stats),
      |bmd AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |    CAST(SUM(c_mu) AS BIGINT) AS mu
      |  FROM sc GROUP BY 1)""".stripMargin

  /** F9's kept/canonical CTE chain WITHOUT a leading `WITH` (every
    * pipeline stage through `kept` and `canon`), shared verbatim by
    * the q_pipeline_e2e audit and H1's export manifest — the
    * bm25CtesBody no-drift rationale. */
  /** H1/H2's shared export chain (expects pipelineKeptCtesBody's
    * kept + canon): the F5 split rule over the kept docs, then the
    * whitespace token count per doc — tk(split, source, doc_id,
    * toks). ONE definition so the catalog manifest (per source) and
    * the shard manifest (per doc_id mod N) can never disagree on
    * what was exported. */
  private def exportTkCtesBody: String =
    s"""exp AS (
       |  SELECT k.doc_id, k.source,
       |    CASE WHEN substr(md5('split:' || CAST(k.doc_id AS VARCHAR)), 1, 2) < 'cd'
       |         THEN 'train' ELSE 'test' END AS split
       |  FROM kept k JOIN canon c ON k.doc_id = c.doc_id),
       |tk AS (
       |  SELECT e.split, e.source, e.doc_id,
       |    CAST(len(string_split_regex(lower(trim(d.text)), '\\s+')) AS BIGINT) AS toks
       |  FROM exp e JOIN documents d ON e.doc_id = d.doc_id)""".stripMargin

  private def pipelineKeptCtesBody: String =
    s"""b AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_words,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, source, h,
         |    ROUND(0.4*least(1.0, CAST(n_words AS DOUBLE)/50.0)
         |        + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/NULLIF(CAST(n_chars AS DOUBLE), 0.0))
         |        + 0.3*least(1.0, CAST(n_stop AS DOUBLE)/NULLIF(CAST(n_words AS DOUBLE), 0.0)*5.0), 6) AS quality
         |  FROM b),
         |kept0 AS (SELECT doc_id, source, h FROM q WHERE quality >= 0.5),
         |wl AS (
         |  SELECT doc_id,
         |    (CAST(COALESCE(NULLIF(regexp_extract(source, '([0-9]+)$$', 1), ''), '1') AS BIGINT) % 5 = 0) AS is_eval,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |st AS (
         |  SELECT doc_id,
         |    len(ws) AS n_words,
         |    len(list_distinct(ws)) AS n_distinct,
         |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
         |      i -> ws[i] || ' ' || ws[i+1]) ELSE [] END AS bgs
         |  FROM wl),
         |fr AS (
         |  SELECT doc_id,
         |    ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 6) AS dup_word_frac,
         |    ROUND(COALESCE(CAST(CASE WHEN len(bgs) > 0 THEN
         |      list_max(list_transform(list_distinct(bgs),
         |        x -> len(list_filter(bgs, y -> y = x)))) END AS DOUBLE)
         |      / len(bgs), 0.0), 6) AS top_bigram_frac
         |  FROM st),
         |flagged AS (
         |  SELECT doc_id FROM fr
         |  WHERE dup_word_frac > 0.85 OR top_bigram_frac > 0.18),
         |sh0 AS (
         |  SELECT doc_id, is_eval,
         |    unnest(CASE WHEN len(ws) >= 13 THEN list_distinct(list_transform(
         |      range(1, len(ws) - 11),
         |      i -> list_aggregate(ws[i:i+12], 'string_agg', ' ')))
         |    ELSE [] END) AS g
         |  FROM wl),
         |sh AS (
         |  SELECT doc_id, is_eval, g FROM sh0
         |  QUALIFY COUNT(*) OVER (PARTITION BY g) <= ${operators.Dedup.maxBucketSize}),
         |contaminated AS (
         |  SELECT DISTINCT b2.doc_id
         |  FROM sh a JOIN sh b2 ON a.g = b2.g AND a.is_eval AND NOT b2.is_eval),
         |kept AS (
         |  SELECT k.doc_id, k.source, k.h FROM kept0 k
         |  WHERE k.doc_id NOT IN (SELECT doc_id FROM flagged)
         |    AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |canon AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY h)""".stripMargin

  /** F17/F11/F18 oracle bodies as vals so F22's gate matrix can
    * replay the SAME definitions as nested subqueries — the
    * bm25CtesBody/knnGraphCtes no-drift rationale. */
  private def gopherOracle: String =
      """WITH b AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws,
        |    string_split(text, chr(10)) AS lines,
        |    CAST(length(regexp_replace(lower(trim(text)), '\s+', '', 'g')) AS BIGINT) AS charsw,
        |    CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS BIGINT) AS symbols
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(charsw AS DOUBLE)/CAST(len(ws) AS DOUBLE) AS mean_wlen,
        |    CAST(symbols AS DOUBLE)/CAST(len(ws) AS DOUBLE) AS symbol_ratio,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '^\s*[•\-\*]'))) AS DOUBLE)
        |      / CAST(len(lines) AS DOUBLE) AS bullet_ratio,
        |    CAST(len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE)
        |      / CAST(len(lines) AS DOUBLE) AS ellipsis_ratio,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |      / CAST(len(ws) AS DOUBLE) AS alpha_ratio,
        |    CAST(len(list_intersect(ws, ['the','a','of','and','to'])) AS BIGINT) AS n_stop_kinds
        |  FROM b)
        |SELECT doc_id, n_words,
        |  ROUND(mean_wlen, 6) AS mean_wlen,
        |  ROUND(symbol_ratio, 6) AS symbol_ratio,
        |  ROUND(bullet_ratio, 6) AS bullet_ratio,
        |  ROUND(ellipsis_ratio, 6) AS ellipsis_ratio,
        |  ROUND(alpha_ratio, 6) AS alpha_ratio,
        |  n_stop_kinds,
        |  (n_words BETWEEN 50 AND 100000 AND mean_wlen BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio <= 0.1 AND bullet_ratio < 0.9 AND ellipsis_ratio < 0.3
        |   AND alpha_ratio >= 0.8 AND n_stop_kinds >= 2) AS kept
        |FROM d
        |ORDER BY doc_id""".stripMargin

  private def repetitionOracle: String =
      """WITH wl AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |st AS (
        |  SELECT doc_id,
        |    len(ws) AS n_words,
        |    len(list_distinct(ws)) AS n_distinct,
        |    list_max(list_transform(list_distinct(ws),
        |      x -> len(list_filter(ws, y -> y = x)))) AS top_word_c,
        |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1]) ELSE [] END AS bgs
        |  FROM wl),
        |st2 AS (
        |  SELECT doc_id, n_words, n_distinct, top_word_c,
        |    len(bgs) AS n_bigrams,
        |    CASE WHEN len(bgs) > 0 THEN
        |      list_max(list_transform(list_distinct(bgs),
        |        x -> len(list_filter(bgs, y -> y = x)))) END AS top_bigram_c
        |  FROM st),
        |fr AS (
        |  SELECT doc_id,
        |    CAST(n_words AS BIGINT) AS n_words,
        |    CAST(n_distinct AS BIGINT) AS n_distinct,
        |    ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 6) AS dup_word_frac,
        |    ROUND(CAST(top_word_c AS DOUBLE) / n_words, 6) AS top_word_frac,
        |    ROUND(COALESCE(CAST(top_bigram_c AS DOUBLE) / n_bigrams, 0.0), 6)
        |      AS top_bigram_frac
        |  FROM st2)
        |SELECT doc_id, n_words, n_distinct, dup_word_frac, top_word_frac,
        |  top_bigram_frac,
        |  (dup_word_frac > 0.85 OR top_bigram_frac > 0.18) AS flagged
        |FROM fr
        |ORDER BY doc_id""".stripMargin

  private def dsirOracle: String =
      s"""WITH tk0 AS (
         |  SELECT doc_id, (lang = 'en') AS it,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, it, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
         |  FROM tk0),
         |feats AS (
         |  SELECT doc_id, it, substr(md5('dsir:' || f), 1, 2) AS b
         |  FROM (
         |    SELECT doc_id, it, w AS f FROM tok
         |    UNION ALL
         |    SELECT a.doc_id, a.it, a.w || ' ' || b.w AS f
         |    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)),
         |pdb AS (SELECT doc_id, it, b, COUNT(*) AS k FROM feats GROUP BY 1, 2, 3),
         |model AS (
         |  SELECT b, SUM(CASE WHEN it THEN k ELSE 0 END) AS ct, SUM(k) AS cr
         |  FROM pdb GROUP BY 1),
         |tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM model),
         |lam AS (
         |  SELECT b, CAST(ROUND((LN(CAST(ct + 1 AS DOUBLE) / CAST(nt + 256 AS DOUBLE))
         |    - LN(CAST(cr + 1 AS DOUBLE) / CAST(nr + 256 AS DOUBLE))) * 1e6, 0)
         |    AS BIGINT) AS lam_mu
         |  FROM model, tot),
         |d AS (
         |  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_feats,
         |    CAST(SUM(k * lam_mu) AS BIGINT) AS ms
         |  FROM pdb JOIN lam USING (b) GROUP BY 1)
         |SELECT doc_id, n_feats,
         |  ROUND(CAST(ms AS DOUBLE) / CAST(n_feats AS DOUBLE) / 1e6, 6) AS weight,
         |  (ROUND(CAST(ms AS DOUBLE) / CAST(n_feats AS DOUBLE) / 1e6, 6)
         |    >= ${operators.TextAnalysis.dsirThreshold}) AS kept
         |FROM d
         |ORDER BY doc_id""".stripMargin

  /** Shared oracle scaffold: explode embeddings to (vec_id,label,i,v),
    * take vec_id=0 as the query, join on position, aggregate dot and
    * norms per corpus vector. */
  private val embCte: String =
    """WITH ev AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |q AS (SELECT i, v AS qv FROM ev WHERE vec_id = 0),
      |qn AS (SELECT SQRT(SUM(qv*qv)) AS qnorm FROM q),
      |s AS (
      |  SELECT ev.vec_id, ev.label, SUM(ev.v*q.qv) AS dot, SQRT(SUM(ev.v*ev.v)) AS en
      |  FROM ev JOIN q ON ev.i = q.i
      |  WHERE ev.vec_id <> 0
      |  GROUP BY ev.vec_id, ev.label)""".stripMargin
}
