package graft

/** The query lists whose formatted physical plans make up PLANS.md
  * (`runMain graft.QueryRun plans <sfDir> headline,audit`) — the audit
  * trail for the scale review: broadcast placement, pushed filters, read
  * schemas, exchange count, codegen spans.
  */
object PlanDump {
  val headline: Seq[String] = Seq(
    "q1_agg", "q3_join_topk", "q5_star_join", "q_window_rank",
    "q_join_salted", "q_scalar_subquery",
    "sh_daily_top1", "tx_struct_slots", "dedup_minhash_pairs",
    "dedup_ngram_jaccard", "dedup_simhash_sig", "sim_topk_brute", "sim_topk_ivf",
    "sim_pairs_block", "evt_sessions", "evt_asof_join", "q_topk_grouped_agg", "txt_stats")

  /** Round-4 additions, plan-audited but NOT in the fixed bench headline
    * subset (headline stays frozen so headline_total remains comparable
    * across rounds). Audit focus per query: q6 — all three predicates in
    * PushedFilters; q4 — EXISTS decorrelated to a left-semi join;
    * evt_latest_by_key — partial aggregate (no window sort); q10/evt_
    * retention — broadcast placement; txt_tfidf/vocab_oov — bounded
    * top-k + broadcast, partial aggs.
    */
  val audit: Seq[String] = Seq(
    // the bucketed lake layout: lineitem/orders bucketed+sorted on the
    // join key, so the fact-fact join AND the per-orderkey aggregation
    // plan with NO Exchange on either join input (`Bucketed: true`,
    // `SelectedBucketsCount` in the scans); the only exchange-like node
    // left is the top-k gather
    "q3_join_bucketed",
    "q6_selective", "q4_exists", "q_histogram", "q_multi_distinct",
    "q10_returned", "evt_latest_by_key", "evt_retention",
    "evt_scd2_intervals", "evt_time_to_convert", "evt_daily_gapfill",
    "q_revenue_share", "q_join_full", "q_except_all", "q_not_in",
    "q_window_dense", "txt_stop_scrub", "txt_tfidf", "txt_vocab_oov",
    // round 6: the mergeable-sketch percentile path (ObjectHashAggregate
    // with constant ~8KB state — q_percentiles stays as the exact twin
    // whose SortAggregate holds all group values and is the first OOM at
    // 100x scale) and the co-grouped LSH verify (bounded row width —
    // no collect_set arrays through the pair join)
    "q_percentiles_sketch", "q_percentiles_rollup", "dedup_verify_candidates",
    // round-6 late adds: shared pair-counting engine (containment), the
    // event-side sketch, the one-pass profiler (single Expand for both
    // distincts), and the quantization projection (zero shuffles)
    "dedup_containment", "evt_value_sketch", "q_profile", "sim_quantize_int8",
    // round-6 session 2: constant-state sketch family (HLL registers +
    // rollup, Misra-Gries two-pass heavy hitters, Bloom ingest prefilter),
    // incremental batch-vs-corpus dedup (asymmetric band join), and the
    // corpus-cleaning projections (boilerplate scrub / chunking / PII)
    "q_hll_distinct", "q_hll_rollup", "txt_heavy_hitters",
    "dedup_incremental", "dedup_bloom_prefilter",
    "txt_boilerplate_scrub", "txt_chunk_overlap", "q_pii_mask",
    // round-6 session 3: decision-support reports (audit: dimension
    // predicates applied BEFORE joins, exact-integer correlated
    // comparisons decorrelated to one aggregate + join-back, Q18's
    // pre-join HAVING, Q19's disjunction not blocking pushdown) and
    // curation ops (audit: split/gate shuffle counts, MERGE's single
    // full-outer exchange, attribution's user-key equi-join)
    "q7_volume", "q8_market_share", "q9_profit", "q13_custdist",
    "q15_top_supplier", "q17_small_qty", "q18_large_orders",
    "q19_disjunctive", "q22_balance",
    "txt_split_assign", "txt_quality_topp", "q_fk_audit",
    "q_merge_upsert", "evt_locf", "evt_multi_touch",
    // session-3 later adds: PQ-ADC (codes-only ADC scan + broadcast
    // dtab), scalar-function surface suites (single partial-agg shuffle
    // each), exact-moment statistics (5-6 numbers per group shuffled)
    "sim_topk_pq", "q_datetime_functions", "q_string_functions",
    "q_group_regression", "q_corr_stats",
    // bigram LM scoring: audit that extraction is a shuffle-free HOF
    // projection and the count joins shuffle on the token key only
    "txt_bigram_lm",
    // Q21's double-correlated EXISTS/NOT EXISTS → semi + anti join;
    // MoM/YoY lags run over the ~30-row monthly aggregate
    "q21_waiting", "q_mom_yoy", "q_array_functions",
    // curation capstone: stage-fused quality->dedup->decontaminate->split
    "pipe_curation_e2e",
    // A/B readout (constant-state variant sums) + cohort triangle
    "evt_ab_test", "evt_cohort_triangle",
    // 2-D skyline: sort + running max, not the O(n^2) anti join
    "q_skyline",
    // round 7: SemDeDup keeper materialization (blocked pair join + CC
    // rounds + lake join-back) and integer PageRank (per-round Pregel
    // shape: one src-key shuffle + one dst partial agg)
    "sim_semantic_dedup", "dedup_pagerank",
    // round-7 session 2 continued: centrality keepers (CC + PageRank off
    // one checkpointed pair list), the count-of-counts skew audit
    // (histogram-sized window), and DSIR weights (vocab-sized count aggs,
    // token-key score join, 1-row totals broadcast)
    "dedup_keeper_centrality", "q_skew_report", "txt_dsir_weights",
    // recall audit (sample-bounded exhaustive side, label equi-join) and
    // robust MAD outliers (r11: medians off count-of-counts histograms —
    // cumulative windows over distinct-value rows, never event volume)
    "sim_recall_report", "evt_outliers_mad",
    // Simpson diversity: two-level partial agg, no global stage
    "txt_diversity",
    // SemDeDup capstone: graph drop-list anti-joined (broadcast) into the
    // fused gate + split + rollup scan
    "pipe_semantic_e2e",
    // retrieval capstone: broadcast queries -> graft_topk partial agg ->
    // broadcast winners into the documents join (lake scanned once)
    "pipe_ann_e2e",
    // threshold sweep: one blocked pair list, broadcast tau table
    "sim_threshold_sweep",
    // gopher gate: single codegen'd scan, zero shuffles
    "txt_gopher_rules",
    // z-order layout audit: shuffle-free key + one partial agg
    "q_zorder_layout",
    // BPE merge round: explode -> partial-agg'd pair count -> TakeOrdered
    "txt_bpe_merges",
    // two-stage ANN: codes-only ADC scan -> 50-id broadcast -> exact rerank
    "sim_topk_pq_rerank",
    // BPE inference: chained literal replace, shuffle-free scan
    "txt_bpe_apply",
    // retrieval eval: one scored scan, two null-gated graft_topk aggs
    "sim_eval_retrieval",
    // daily-ingest capstone: ingest-sized work throughout, drop lists broadcast
    "pipe_ingest_e2e",
    // multi-probe SRP: 9 broadcast probe codes, no extra bucket scans
    "sim_topk_srp_multiprobe",
    // per-domain cap: bounded-buffer graft_topk partial agg, no window sort
    "txt_domain_cap",
    // snapshot CDC: one key join on 16-byte hashes, never the text
    "pipe_snapshot_diff",
    // incremental IVF assign: centroids broadcast, work scales with ingest
    "sim_ivf_ingest",
    // winnowing: narrow array fingerprint extraction, hash-key self-join
    // with the too-common-fingerprint hub guard
    "dedup_winnow_pairs",
    // compaction plan: metadata-sized window cumsum, no data scan beyond
    // the file-inventory aggregation
    "pipe_compaction_plan",
    // k-anon ladder: two partial-agg'd group-bys over class counts
    "q_kanon_audit",
    // incremental MV refresh: algebraic merge of state + delta rollups
    "pipe_mv_refresh",
    // 2-core peeling: bounded per-round aggs + semi joins, shrinking edges
    "dedup_kcore",
    // mix-drift monitor: two lang-count aggs, 1-row totals broadcast
    "pipe_drift_report",
    // MMR re-rank: one scored scan + TakeOrdered(20); greedy on bounded state
    "sim_topk_mmr",
    // PPJoin prefix filter: rare-first prefixes bound the token self-join
    "dedup_prefix_join",
    // banding-recall eval: two pair pipelines + count-only recombination
    "dedup_lsh_recall",
    // CUSUM alerts: report-sized windows over gap-filled daily counts
    "evt_cusum_alerts",
    // band-tuning S-curve: cached pair list, three literal-arithmetic branches
    "dedup_band_tuning",
    // CMS audit: one constant-state sketch pass + probe-filtered exact agg
    "txt_cms_freq",
    // hybrid RRF: two scans into single-group bounded topk aggs, 40-row fusion
    "pipe_hybrid_rrf",
    // seasonal baseline: one partial-agg'd daily shuffle, report-sized windows
    "evt_seasonal_baseline",
    // expectations: one conditional-agg scan + partial-agg'd key count + semi
    "q_expectations_audit",
    // freshness: one per-type agg; watermark from the report, not a second scan
    "evt_freshness",
    // centroid drift: broadcast argmax assign + |cells|x|dims| partial agg
    "sim_centroid_drift",
    // vocab coverage: corpus-sized token count, then histogram re-aggregation
    "txt_vocab_coverage",
    // RFM: one per-user partial agg; tercile bounds from value histograms
    "evt_rfm_segments",
    // round 8: real PNG decode (narrow mapPartitions, only
    // stats rows continue), BPE training loop (per-round partial-agg'd
    // pair count + shuffle-free re-measure), HLL uniqueness gate
    // (constant-state sketch agg, no key shuffle)
    "mm_png_decode", "txt_bpe_train", "q_expectations_audit_est",
    // real PCM sample decode through the same decode seam
    "mm_wav_decode",
    // round-8 session 2: NN resize fused with the decode (narrow,
    // 4 thumbnail rows per image continue), PCM zero-crossing features
    // (same seam), PQ Lloyd training (broadcast 32-centroid table +
    // (m,k,pos) partial-agg update per round), and the mixed-modality
    // router capstone (one narrow routed pass → |modalities|-row agg)
    "mm_png_resize", "mm_wav_features", "sim_pq_train", "pipe_multimodal_e2e",
    // tokenizer lifecycle (train + trained-chain apply scan) and the
    // LATERAL top-N (audit: decorrelated to one co-keyed join + window
    // rank, never a per-outer-row re-scan)
    "pipe_tokenizer_e2e", "q_lateral_topn",
    // IVFPQ: audit that the ADC scan input is the cell-pruned probe set
    // (broadcast cell argmax + broadcast q_cell semi), codes-only after
    "sim_topk_ivfpq",
    // integer-halving decay score: audit the single per-user partial agg
    "evt_decay_engagement",
    // feature-store extraction: single Expand for both exact distincts,
    // one user-key exchange of partials
    "evt_user_features",
    // dataset card: one scan, single Expand for both distincts, 3-row agg
    "pipe_dataset_card",
    // estimator calibration: audit that the exact-verify engine is reused
    // and the signature joins stay doc-keyed (sig-sized, no text)
    "dedup_minhash_calibration",
    // round 9: real y4m frame decode + evenly-spaced frame sampling
    // (narrow mapPartitions — clip bytes never shuffle, only
    // per-video/per-frame stat rows continue)
    "mm_video_decode", "mm_frame_sample", "mm_video_meta",
    // version-pinned snapshot diff: audit that both inputs are plain
    // pinned-directory scans and the join carries 16-byte hashes
    "pipe_version_diff",
    // crawl ingestion: narrow mapPartitions chain (gunzip -> WARC -> HTML),
    // archive bytes never shuffle; HTML extraction inside the scan stage
    "crawl_gzip_members", "pipe_crawl_e2e", "txt_html_extract", "txt_utf8_audit",
    // export manifest: one partitioned readback + 8-byte bit_xor state
    "pipe_export_shards",
    // round-9 session 2 continued: built-in parse_url projection + domain
    // rollup; V2 source scan (pruned ReadSchema); recursive-CTE frontier
    // joins; SFT assembly projection
    "crawl_url_stats", "crawl_source_scan", "q_recursive_tree",
    "txt_sft_assemble",
    // round 10: baseline JPEG decode (narrow mapPartitions —
    // Huffman/dequant/IDCT where the bytes are read, only stat rows
    // continue) and the file-based crawl capstone (streamed warcgz V2
    // scan -> per-member WARC parse -> one doc-keyed reassembly agg)
    "mm_jpeg_decode", "pipe_crawl_files_e2e",
    // robots gate: frontier is the data side, robots bodies broadcast,
    // verdicts in one narrow mapPartitions + one domain rollup
    "crawl_robots_gate",
    // JPEG decode + NN resize fused narrow (4 thumbnail rows per image)
    "mm_jpeg_resize",
    // round-10 session 2: learned/retrieval ops — BM25 (semi-join against
    // the broadcast 5-term query BEFORE grouping; totals broadcast;
    // TakeOrdered top-10), the batch-perceptron pair (per-epoch one
    // doc-keyed margin agg + one feature-keyed gradient agg, 17-row model
    // broadcast — weights never shuffle; r11: apply serves the persisted
    // model artifact, no training scan in its plan), CCNet terciles (r11:
    // cut VALUES from a count-of-counts histogram, broadcast back — no
    // doc-level rank window), k-NN label eval (20-probe broadcast, corpus
    // scanned once, bounded top-5 windows)
    "txt_bm25_topk", "txt_perceptron_train", "txt_perceptron_apply",
    "txt_ccnet_buckets", "sim_knn_classify",
    // round-10 session 3: exact substring-span dedup (gram-count semi-join
    // + per-doc gaps-and-islands window — the suffix-array-free ExactSubstr
    // plan) and index-served BM25 (postings artifact scan, text never read)
    "dedup_span_frac", "txt_bm25_artifact",
    // the composed 4-gate learned-filter funnel (gopher ∧ ccnet ∧
    // perceptron ∧ canonical) — one plan, all verdicts per doc
    "pipe_filter_funnel",
    // margin-based bitext mining (r11: BOTH neighbourhood means are
    // bounded graft_topk aggregates — map-side 4-row buffers, no rank
    // window anywhere in the plan)
    "sim_bitext_mine",
    // round 11: BM25 over the compacted wb-partitioned postings
    // generation (audit: the scan reads ONE _v=N snapshot, ~one file per
    // bucket), incremental span dedup (batch grams semi-joined against
    // the persisted corpus gram artifact — work scales with the batch),
    // and mixed-charset crawl extraction (narrow decode, typed degrades)
    "txt_bm25_compacted", "dedup_span_incr", "crawl_charset_extract",
    // round-11 session 2: the span CUT (per-doc span arrays + narrow
    // keep-filter HOF — no position-level shuffle), Matryoshka
    // truncation eval (one scan, four bounded topk aggs — no window),
    // and the postings merge-policy report (16 bucket rows off
    // metadata-weight columns)
    "dedup_span_cut", "sim_matryoshka_eval", "txt_postings_merge_plan",
    // URL canonicalization (codegen'd parse_url projection; the dedup
    // window keys on the HIGH-cardinality canon string — the frontier
    // analog of dedup_exact)
    "crawl_url_canon",
    // round-11 session 3: perceptual-hash image near-dup (narrow
    // decode+hash, 4×16-bit band equi-join — never all-pairs), its
    // connected-components capstone, and the audio energy-delta
    // fingerprint (narrow decode, no shuffle)
    "mm_dhash_neardup", "pipe_image_dedup_e2e", "mm_wav_fingerprint",
    // PII scrub/audit (codegen'd regex + HOF validation, zero data
    // shuffles in the scrub; |sources|-row partial-agg rollup)
    "txt_pii_scrub", "pipe_pii_audit",
    // positional phrase search (probe-pruned positional postings,
    // shifted-intersection HOF, no windows) and the host link graph
    // (one-pass href extraction in the scan projection, edge-key-only
    // shuffle)
    "txt_phrase_search", "crawl_link_graph",
    // round 12: the guarded perceptual rungs (identity collapse before
    // banding, hot-band cap — audit: the rep-level band join and the
    // O(g) star-edge union in the capstone), the video keyframe twin,
    // the Matryoshka slice-artifact serve (audit: the artifact scan —
    // raw embeddings never re-read), and the crawl-budget capstone
    // (audit: robots broadcast, domain-key-only shuffles, the rank
    // window over the |domains|-sized report)
    "mm_video_neardup", "sim_topk_m16", "pipe_crawl_budget",
    // round-12 session 2: the two-stage Matryoshka serve (audit: stage-1
    // scans the slice artifact, stage-2 joins 50 broadcast ids into the
    // full-vector lake) and incremental image dedup (audit: batch side
    // decodes live, corpus side scans the persisted signature artifact,
    // asymmetric band join)
    "sim_topk_m16_rerank", "mm_dhash_incr",
    // temporal video fingerprint: narrow decode, no shuffle
    "mm_video_fingerprint",
    // sequence packing: per-(shard, block) bounded cumsum windows, two
    // partial-agg rollups — no corpus-wide sort
    "pipe_seq_pack",
    // token-budget sampler: histogram-cut selection (bounded cumulative
    // window over ≤65536 bucket rows per source + one occupancy-bounded
    // boundary-bucket window) — never a per-source corpus sort
    "pipe_token_budget",
    // cross-modality dedup capstone: one narrow sniff+decode+sign pass,
    // |modalities| output rows
    "pipe_media_dedup_e2e",
    // the token-budget CUT: same histogram machinery, per-doc verdicts
    "pipe_token_budget_cut",
    // round 13: the widened 60-bit audio fingerprint (narrow
    // decode — four per-window features in one pass, no shuffle) and the
    // width-tradeoff report (two decode aggs + a 1-row broadcast)
    "mm_wav_fingerprint60", "mm_wav_overmerge",
    // cross-modality dedup CUT: one narrow sniff+decode+sign pass, then
    // identity-collapsed guarded banding per modality into ONE CC run —
    // audit: star edges (never pair expansion), node-id-only shuffles
    "pipe_media_dedup_cut",
    // the verdicts consumed: keep-only manifest rollup off the same body
    "pipe_media_export",
    // redirect resolution: fixed-5-round url-key equi-joins of the
    // still-unresolved rows against the redirect edge table; the canon
    // projection is codegen'd parse_url — audit: no per-row driver walk
    "crawl_redirects",
    // frontier merge: one decode pass feeds both rollups; |domains| rows
    "pipe_frontier_merge",
    // BPE-counted budget twins: the merge chain is a literal-replace
    // projection inside the same histogram-cut / block-bounded plans
    "pipe_token_budget_bpe", "pipe_seq_pack_bpe",
    // round 14: the incremental frontier walk (audit: batch decoded
    // live, archive edges/terminals scanned from the persisted
    // parsed-record artifact — no WARC decode on the corpus side)
    "crawl_frontier_incr",
    // incremental cross-modality cut (audit: batch side one routed
    // decode pass, corpus side three artifact scans, asymmetric band
    // joins — signature-width shuffles only)
    "pipe_media_dedup_incr",
    // BPE-counted report twins (audit: same single-scan card / mix
    // plans — the merge chain is a codegen'd literal-replace projection;
    // corpus side never shuffles in the mixes)
    "pipe_dataset_card_bpe", "txt_domain_mix_bpe", "txt_temperature_mix_bpe",
    // streaming-maintained frontier serve (audit: two persisted-state
    // scans + one walk-state-sized rank-1 window — no archive decode,
    // no data-sized shuffle)
    "pipe_frontier_serve",
    // round 15: the COMPACTED serve view (audit: one pinned _v=N
    // snapshot scan + the same rank-1 window — per-fragment open cost
    // gone, no other plan change)
    "pipe_frontier_compacted",
    // retry-aging serve view (audit: same serve shape over the 3-batch
    // aged fixture — aging work happened at ingest, the serve plan is
    // unchanged walk-state-sized state)
    "pipe_frontier_aged",
    // the fetch queue (audit: landings-sized robots verdict pass with
    // the robots table BROADCAST, one |landings| rank window, no
    // data-sized shuffle — only canon-url keys and report rows move)
    "pipe_frontier_gated",
    // incremental mixes served from the stats lake the streaming dedup
    // ingest maintains (audit: a |batches|x|sources|-row lake scan + a
    // 1-row broadcast — corpus text never read, no data-sized shuffle)
    "pipe_domain_mix_incr", "pipe_temperature_mix_incr",
    // the mixes served from the FOLDED _stats_serve snapshot (audit:
    // one |sources|-row single-file scan + a 1-row broadcast — the
    // per-batch fragment opens are gone)
    "pipe_domain_mix_compacted", "pipe_temperature_mix_compacted",
    // ingest-time mix drift from the same lake (audit: lake scan +
    // |batches|-row and |sources|-row BROADCAST total sides + a 1-row
    // broadcast grand total — no data-sized shuffle)
    "pipe_mix_drift_incr",
    // the snapshot+tail hybrid serve (audit: |sources|-row snapshot
    // scan + a watermark-pruned tail partition read + one union-agg —
    // the tail filter must show as an ingest_batch partition filter)
    "pipe_domain_mix_hybrid",
    // the vacuumed lake: fold → GC → fold-forward (audit: the serve is
    // the same hybrid plan; the vacuumed batches exist only inside the
    // snapshot scan — no fragment read anywhere)
    "pipe_domain_mix_vacuumed",
    // the corpus lake's source-partitioned compacted generation (audit:
    // one pinned snapshot scan, text hashed in the projection — the
    // presentation sort is the only exchange)
    "pipe_corpus_compacted",
    // streaming-SemDeDup'd embedding lake serve (audit: one
    // code-partitioned lake scan — dedup work happened at ingest)
    "sim_semdedup_serve",
    // the same lake from the compacted _serve generation (audit: one
    // pinned _v=N code-partitioned scan, ~one file per code)
    "sim_semdedup_compacted",
    // the streamed IVF lake's compacted serve (audit: one pinned
    // cell-partitioned generation scan — assignment happened at ingest)
    "sim_ivf_lake_compacted",
    // top-k over the deduplicated compacted lake (audit: one snapshot
    // scan + broadcast 1-row query vector + TakeOrderedAndProject)
    "sim_semdedup_topk",
    // round 16: the snapshot+tail HYBRID serves for the non-stats lakes
    // (audit: one pinned _v=N generation scan UNIONed with a live read
    // whose `ingest_batch > N` filter must show as a PartitionFilter —
    // the tail read is directory-pruned, never a fragmented-lake scan)
    "sim_semdedup_hybrid", "sim_ivf_lake_hybrid", "pipe_corpus_hybrid",
    // the hybrid frontier serve (audit: same rank-1 window, its input a
    // settled snapshot scan ∪ watermark-pruned live tail)
    "pipe_frontier_hybrid",
    // the hybrid BM25 serve (audit: both index sides are snapshot ∪
    // `ingest_batch > N`-pruned tail unions; term pruning and the
    // broadcast qterms side unchanged from the compacted form)
    "txt_bm25_hybrid",
    // INDEXED top-k over the deduplicated lake (audit: the _cells
    // generation scan must carry a LITERAL `cell = k` partition filter —
    // one cell directory read — then broadcast query + TakeOrdered)
    "sim_semdedup_topk_ivf",
    // its top-2-cells multiprobe twin (audit: a 2-literal `cell IN`
    // partition filter — the recall knob never widens to a lake scan)
    "sim_semdedup_topk_ivf2",
    // the FRESH indexed serve (audit: pinned-cells scan with the literal
    // cell filter ∪ an `ingest_batch > N`-pruned tail scan carrying the
    // on-the-fly literal-centroid assignment — no lake scan, no join)
    "sim_semdedup_topk_ivf_fresh",
    // its recall eval vs the brute twin (audit: two bounded top-k sides,
    // a 10-row semi join, 1-row report — no corpus-sized work)
    "sim_semdedup_recall",
    // the hash-sampled BPE trainer round-1 equivalent shape is driver-
    // sequenced (no single dumpable plan); audited instead via the
    // sampled filter reaching the scan in txt_bpe_train_sampled's first
    // round — covered by the smoke spec; the sketch-cut RFM twin (audit:
    // three ObjectHashAggregate sketch cuts broadcast back, NO
    // unpartitioned window anywhere in the plan)
    "evt_rfm_segments_sketch",
    // round 17: the multiprobe × fresh composition (audit: ONE plan
    // carrying BOTH a 2-literal `cell IN` partition filter on the
    // pinned generation AND an `ingest_batch > N` PartitionFilter on
    // the on-the-fly-assigned tail — PlanPolicySpec pins both)
    "sim_semdedup_topk_ivf2_fresh",
    // the fresh-serve recall ladder (audit: bounded top-k sides over
    // snapshot∪tail reads, 10-row semi joins, 2-row report)
    "sim_semdedup_recall_fresh",
    // the trained-vs-frozen recall PANEL (audit: |lake|×|panel| scored
    // rows off one broadcast cross join, per-query WindowGroupLimit
    // top-k, two count rows — a maintenance-time eval, no lake-sized
    // shuffle beyond the panel join)
    "sim_semdedup_recall_panel",
    // the lake-health report (audit: a LocalTableScan — the rows are
    // metadata listings + sidecar reads resolved on the driver; ZERO
    // file scans is exactly the point)
    "pipe_lake_health",
    // the policy pass's report (audit: the action trail is a tiny
    // parquet scan joined to a LocalTableScan of post-maintenance
    // health rows — the maintenance itself ran at fixture-build time)
    "pipe_lake_maintain",
    // round-18: the RETRAINED fresh serves (audit: the probe literals
    // come from the TRAINED set the `_cells` sidecar names; same
    // cell-IN partition filter + watermark-pruned tail as the _fresh
    // twins, with the tail assignment's codegen'd cosines against the
    // trained centroid literals)
    "sim_semdedup_topk_ivf_rt",
    "sim_semdedup_topk_ivf2_rt",
    "sim_semdedup_recall_rt",
    // round-18: the K-SCALED serves (audit: k=chooseK(N) literal probe
    // cells over the `_cellsk` generation — still nprobe directories
    // read, never the lake; the 4-probe form is the chosen config from
    // the k×nprobe panel)
    "sim_semdedup_topk_ivf_autok",
    "sim_semdedup_topk_ivf2_autok",
    "sim_semdedup_topk_ivf4_autok",
    "sim_semdedup_recall_autok",
    // round-18: the warehouse-wide maintenance pass over all eleven
    // real-lake triples (audit: tiny action-trail scan joined to a
    // LocalTableScan of post-pass health rows — the maintenance ran at
    // fixture-build time; the pass itself is metadata-driven)
    "pipe_warehouse_maintain")
}
