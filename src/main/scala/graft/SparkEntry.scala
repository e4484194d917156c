package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's operator inventory made executable: one entry
  * per implemented operator; `oracleSql` carries the DuckDB-equivalent SQL
  * the driver hash-compares against at sf0.01. Column names are aliased
  * identically on both sides (the driver sorts columns by name before
  * hashing). Double measures are summed as DECIMAL(18,2) on both sides so
  * the values are exact and order-independent — reproducible under any
  * partitioning.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"          -> (Analytics.q1PricingSummary _),
    "q2_join_agg"     -> (Analytics.q2SegmentRevenue _),
    "q3_join3"        -> (Analytics.q3PriorityRevenue _),
    "q4_window"       -> (Analytics.q4TopOrdersPerCustomer _),
    "q5_topk"         -> (Analytics.q5TopKLineitems _),
    "q6_filter_agg"   -> (Analytics.q6ForecastRevenue _),
    "q7_distinct"     -> (Analytics.q7EventUsers _),
    "q8_semi_join"    -> (Analytics.q8CustomersWithOrders _),
    "q9_anti_join"    -> (Analytics.q9CustomersWithoutOrders _),
    "q10_union"       -> (Analytics.q10NationKeysUnion _),
    "q11_rollup"      -> (Analytics.q11NationRollup _),
    "q12_time_agg"    -> (Analytics.q12EventsHourly _),
    "q13_json"        -> (Analytics.q13JsonExtract _),
    "q14_sql_subquery" -> (Analytics.q14SqlSurface _),
    "q15_except"      -> (Analytics.q15Except _),
    "q16_intersect"   -> (Analytics.q16Intersect _),
    "q17_pivot"       -> (Analytics.q17Pivot _),
    "q18_cube"        -> (Analytics.q18Cube _),
    "q19_quantiles"   -> (Analytics.q19Quantiles _),
    "q21_running_window" -> (Analytics.q21RunningWindow _),
    "q22_scalar_funcs" -> (Analytics.q22ScalarFunctions _),
    "q20_approx_distinct" -> (Analytics.q20ApproxDistinctGate _),
    "q23_skew_join"   -> ((s, d) => Analytics.q23SkewJoin(s, d)),
    // The seventh engine decision (r16): salt factor from the sampled
    // key histogram; oracle replays the whole decision + join counts.
    "q23_skew_auto"   -> ((s, d) => Analytics.q23SkewAuto(s, d)),
    "q24_anomaly"     -> (Analytics.q24EventAnomaly _),
    "q25_bucketed_join" -> (Bucketing.bucketedJoinQuery _),
    "q26_grouping_sets" -> (Analytics.q26GroupingSets _),
    "q27_window_suite" -> (Analytics.q27WindowSuite _),
    "q28_full_outer"  -> (Analytics.q28FullOuter _),
    // Custom LogicalPlan/Strategy/SparkPlan path (graft.plans.TopKPerKey):
    // partial bounded heaps, survivor-sized exchange, final merge.
    "q29_topk_per_key" -> ((s, d) => Analytics.q29TopKPerKey(s, d)),
    // Custom Aggregator (typed udaf): count + exact sum + bounded top-k
    // ids in one aggregate pass.
    "q30_topk_agg" -> ((s, d) => Analytics.q30TopKAgg(s, d)),
    // Higher-order array lambdas (transform/filter/aggregate/zip_with)
    // over per-order line arrays — codegen expressions, one exchange.
    "q31_higher_order" -> (Analytics.q31HigherOrder _),
    // The SAME top-k as q29 spelled declaratively (row_number <= k) and
    // rewritten by the custom optimizer Rule into the bounded-heap plan
    // (plans.TopKWindowRewrite) — the Rule[LogicalPlan] rung of the
    // extension ladder.
    "q32_topk_rewrite" -> ((s, d) => Analytics.q32TopKRewrite(s, d)),
    // Time-series gap fill: continuous month spine × dimension values,
    // absent combinations as explicit zeros.
    "ts_densify" -> (Analytics.densifyMonthly _),
    // Batch CDC MERGE (Delta-style upsert/delete on plain DataFrames):
    // settled current state absorbs the increment's last event per user
    // under matched-update / matched-delete / not-matched-insert.
    "cdc_merge" -> (EventAnalytics.cdcMerge _),
    // Event-sequence analytics triad: ordered conversion funnel, weekly
    // retention cohorts, Markov transition counts — one user_id exchange
    // each (EventAnalytics scaladoc).
    "events_funnel"      -> ((s, d) => EventAnalytics.funnel(s, d)),
    "events_retention"   -> (EventAnalytics.retention _),
    // Top-k length-3 behavioral paths (two stacked leads over the
    // one-exchange per-user sort, tiny-domain count, rank over top-k).
    "events_paths"    -> ((s, d) => EventAnalytics.topPaths(s, d)),
    // OHLC gauge downsampling per (event_type, hour): first/last by
    // event-time (id ties), min/max, exact-cents sum.
    "ts_downsample"   -> ((s, d) => EventAnalytics.downsampleOhlc(s, d)),
    // RFM user segmentation: exact integer hours/counts/cents, 1-5
    // scores by exact rank arithmetic (div, not ntile).
    "events_rfm"      -> ((s, d) => EventAnalytics.rfmScores(s, d)),
    // A/B readout: id-parity variants, comparative conversion metric,
    // per-arm ppm + chi-square micro in exact decimal arithmetic.
    "events_abtest"   -> ((s, d) => EventAnalytics.abTest(s, d)),
    // z-score twin: the production path past the decimal leg's ~3e7
    // users/arm ceiling; ships with its in-row χ²-agreement gate.
    "events_abtest_z" -> ((s, d) => EventAnalytics.abTestZ(s, d)),
    "events_transitions" -> (EventAnalytics.transitions _),
    // Batch gaps-and-islands sessionization — stream_sessions' batch
    // twin, same oracle SQL.
    "events_sessions"    -> ((s, d) => EventAnalytics.sessions(s, d)),
    // Native session_window twin (gap+1ms maps half-open window
    // semantics onto the custom > gap rule); same oracle SQL.
    "events_sessions_native" -> ((s, d) => EventAnalytics.sessionsNative(s, d)),
    // SCD2 dimension history from the change stream: consecutive equal
    // values collapse, each change opens a validity interval; one
    // user_id exchange feeds all three stacked windows.
    "events_scd2"     -> (EventAnalytics.scd2History _),
    // Entity resolution on structured records: blocked candidate pairs
    // ((nation, segment) equi-join bounds the quadratic), thresholded-
    // Levenshtein match kernel, then large/small-star transitive closure
    // into total entity assignments.
    "link_pairs"      -> (Linkage.blockedPairsDeletion _),
    "link_clusters"   -> (Linkage.entityClusters _),
    // Survivorship: one golden record per resolved entity under
    // deterministic merge rules (min_by name, max cents, fingerprints).
    "link_golden"     -> (Linkage.goldenRecords _),
    "asof_join"       -> (AsOfJoin.errorsToPurchases _),
    "range_join"      -> ((s, d) => RangeJoin.eventBands(s, d)),
    "ingest_flatten"  -> (IngestQueries.flattenDemo _),
    "ingest_validate" -> (IngestQueries.validateDemo _),
    "singer_pipeline" -> (IngestQueries.singerRoundTrip _),
    // The SAME corpus through the live DSv2 stdin MicroBatchStream
    // (pipe-fed, EOF-drained via Main.runLive's wait discipline) —
    // live and batch delivery must land identical rows (r16).
    "stream_live_ingest" -> (IngestQueries.liveIngestRoundTrip _),
    "doc_pipeline"    -> ((s, d) => DocPipeline.curate(s, d)),
    // JSONL export -> shard read-back -> per-lang content fingerprints;
    // the oracle derives the same fingerprints from the original
    // parquet, pinning full fidelity through the interchange loop.
    "ingest_jsonl"    -> ((s, d) => DocPipeline.jsonlRoundTrip(s, d)),
    // CSV interchange round trip: lang-partitioned quote-all write,
    // explicit-schema read-back, per-lang content fingerprints.
    "ingest_csv"      -> ((s, d) => DocPipeline.csvRoundTrip(s, d)),
    "curate_pipeline" -> ((s, d) => DocPipeline.curatePipeline(s, d)),
    // The training-export capstone: quality filter -> exact dedup ->
    // near-dup -> decontaminate -> mix -> pack -> shuffle-into-shards
    // as ONE declarative plan (no materialization between stages); the
    // oracle recomputes all seven stages.
    "export_training" -> ((s, d) => DocPipeline.exportTraining(s, d)),
    // The shard WRITER pinned: materialize the capstone's shards, read
    // the FILES back, fingerprint per shard (partition-dir shard values,
    // row md5 extremes, in-file pos order); the oracle recomputes the
    // fingerprints from the seven-stage definition.
    "export_shards"   -> ((s, d) => DocPipeline.shardFingerprints(s, d)),
    // Snapshot-to-snapshot corpus diff (added/removed/changed/unchanged
    // per source, digest-compared so the exchange carries 16-byte md5s,
    // never bodies); the v1/v2 snapshots are deterministic functions of
    // doc_id so the oracle rebuilds both sides exactly.
    "version_diff"    -> ((s, d) => Versioning.snapshotDiff(s, d)),
    // The diff's consumer: only added/changed docs enter dedup, hashed
    // against the settled v1 corpus — the release-to-release
    // maintenance step (delta-only exchange, 8-byte keys).
    "version_incr"    -> ((s, d) => Versioning.incrementalIngest(s, d)),
    // Time-travel restore: rebuild v1 from v2 + the reverse delta,
    // prove the reconstruction exact (pinned boolean + counts).
    "version_restore" -> ((s, d) => Versioning.snapshotRestore(s, d)),
    // Retention sweep over the copy-on-write file layout: which v1 files
    // the latest snapshot still references and which are GC-eligible —
    // computed from snapshot metadata (a digest join + a bucket-domain
    // rollup), never an object-store LIST.
    "version_gc"      -> ((s, d) => Versioning.snapshotGc(s, d)),
    // Small-file compaction planner over the v2 snapshot layout (greedy
    // per-source running-offset packing; bounded-domain exchanges only).
    "version_compact" -> ((s, d) => Versioning.compactionPlan(s, d)),
    // Registered on the 8-byte-hash spelling — the plan you'd run at
    // 100 TB (the shuffle carries xxhash64 keys, not document bodies);
    // OperatorsSpec pins it equal to the group-by-text twin.
    "dedup_exact"     -> (Dedup.exactByHash _),
    // The SAME dedup over the 10x Caesar-scaled corpus built inline
    // (ScaleProbe's construction as a declarative plan) — correctness
    // pinned above sf0.1, with text_md5 pinning the translated bytes.
    "dedup_exact_10x" -> ((s, d) => Dedup.exactByHash10x(s, d)),
    // Prefix-filter family at 10x: the carry containment pipeline over
    // the same inline Caesar construction — scale-checked CORRECTNESS
    // for the family whose wall-clock the probes grade (r14 brief #5).
    "dedup_contain_10x" -> ((s, d) => Dedup.containmentPairs10x(s, d)),
    "dedup_jaccard"   -> ((s, d) => Dedup.jaccardPairs(s, d)),
    // Asymmetric containment |A∩B|/|A| — the partial-copy / quote
    // detector jaccard cannot be; directed small→big, prefix filter on
    // the contained side only, full postings on the container side.
    "dedup_contain"   -> ((s, d) => Dedup.containmentPairs(s, d)),
    // The df-capped prefix join on a generated SATURATED corpus with a
    // boilerplate minority (the regime r14 proved quadratic under any
    // ordering): decision literals + measured recall vs uncapped truth
    // + value-identical-subset proof in one row (r14 brief #1).
    "dedup_contain_capped" -> (Gates.containCappedGate _),
    "dedup_incremental" -> ((s, d) => Dedup.incrementalPairs(s, d)),
    // Same semantics against the PERSISTED settled-corpus artifacts
    // (write-once bucketed prefix + df tables; built lazily on first
    // call, served from the catalog after) — the nightly-job shape.
    "dedup_incr_artifact" -> ((s, d) => Dedup.incrementalPairsArtifact(s, d)),
    "dedup_incr_exact" -> ((s, d) => Dedup.incrementalExact(s, d)),
    // Same verdicts through the Bloom-prefiltered artifact path: a
    // negative probe proves absence, so the oracle below checks both.
    "dedup_incr_bloom" -> ((s, d) => Dedup.incrementalExactBloom(s, d)),
    "dedup_cluster"   -> ((s, d) => Dedup.clusterAssignments(s, d)),
    "dedup_shingle"   -> ((s, d) => Dedup.shinglePairs(s, d)),
    // The sixth engine decision (r16) as a correctness row: shingle
    // width derived from the sampled candidate-mass-vs-all-pairs
    // verdict; the oracle REPLAYS the whole decision from gram strings
    // (hash-invariant statistics), plus bit-equality vs the manual width.
    "dedup_shingle_auto" -> (Gates.shingleAutoGate _),
    "dedup_substr"    -> ((s, d) => Dedup.substrDupSpans(s, d)),
    "curate_substr"   -> ((s, d) => Curation.cutDuplicatedSubstrings(s, d)),
    "dedup_edit1"     -> ((s, d) => Dedup.editPairs(s, d)),
    "graph_triangles" -> ((s, d) => Graph.triangleCounts(s, d)),
    "graph_clustering" -> ((s, d) => Graph.clusteringCoefficients(s, d)),
    "graph_components" -> ((s, d) => Graph.componentAssignments(s, d)),
    // Deterministic synchronous label-propagation communities (fixed
    // rounds, min-label ties) on the artifact edge list.
    "graph_lpa"       -> ((s, d) => Graph.labelPropagation(s, d)),
    // Modularity of the LPA communities: exact integer per-community
    // contribution 4*m*e_c - d_c^2 over 4m^2 (decimal(38,0)).
    "graph_modularity" -> ((s, d) => Graph.communityModularity(s, d)),
    // k-core membership via bounded synchronous peeling (4 rounds,
    // oracle-unrollable; per-round survivor joins over the artifact).
    "graph_kcore"     -> ((s, d) => Graph.kCore(s, d)),
    // Per-node best 2-hop link prediction: common-neighbor argmax with
    // exact-integer Jaccard tie-break over the mutual-kNN artifact.
    "graph_linkpred"  -> ((s, d) => Graph.linkPrediction(s, d)),
    // Exact-integer PageRank centrality on the same mutual-kNN graph
    // (fixed power steps, micro-unit arithmetic — see Graph.pageRank).
    "graph_pagerank"  -> ((s, d) => Graph.pageRank(s, d)),
    // BFS hop distances from the max-degree seed, executed as a SQL
    // WITH RECURSIVE (Catalyst UnionLoop) — the iterative-SQL surface.
    "graph_bfs"       -> ((s, d) => Graph.bfsHops(s, d)),
    // Same traversal as a driver-stepped loop whose frontier anti-joins
    // the visited set each level — the scale path (the CTE re-expands
    // settled nodes every hop; see Graph.bfsHopsFrontier).
    "graph_bfs_frontier" -> ((s, d) => Graph.bfsHopsFrontier(s, d)),
    // Triangles served from the persisted settled-corpus edge artifact,
    // gated bit-equal to the fresh build (Gates.graphArtifactGate).
    "graph_artifact"  -> ((s, d) => Gates.graphArtifactGate(s, d)),
    // Incrementally-MAINTAINED kNN edges (settled table + increment
    // queries + τ-pruned updates, Graph.knnIncrMaintained), gated
    // bit-equal to the full rebuild — the graph family's nightly shape.
    "graph_incr_artifact" -> ((s, d) => Gates.graphIncrArtifactGate(s, d)),
    "dedup_semantic"  -> ((s, d) => Dedup.semanticDedup(s, d)),
    "curate_domaincap" -> ((s, d) => Curation.domainCap(s, d)),
    "curate_dsir"     -> ((s, d) => Curation.dsirAffinity(s, d)),
    "multimodal_dupframes" -> ((s, d) => Multimodal.dupFrames(s, d)),
    // Perceptual (average-hash) image near-dup: decoded-raster 8x8
    // aHash, banded Hamming candidate join, per-image near-dup degree.
    "multimodal_phash" -> ((s, d) => Multimodal.perceptualDupImages(s, d)),
    // Shot-boundary detection: consecutive decoded frames diffed on the
    // canonical 8x8 grid, exact integer threshold.
    "multimodal_scenes" -> ((s, d) => Multimodal.sceneCuts(s, d)),
    // VAD-style quiet-segment sweep over decoded PCM: sliding amplitude
    // range, exact membership sum + longest-run via the islands trick.
    "multimodal_silence" -> ((s, d) => Multimodal.quietSegments(s, d)),
    // Audio fingerprinting: sliding-window hashes over decoded PCM,
    // cross-asset window collisions (dupFrames for audio).
    "multimodal_audiofp" -> ((s, d) => Multimodal.dupAudio(s, d)),
    // Keyframe-per-shot: frames segment at the scene-cut boundaries,
    // each shot keeps its brightest frame (grid-sum argmax, ties early).
    "multimodal_keyframes" -> ((s, d) => Multimodal.keyframes(s, d)),
    "curate_decontaminate" -> ((s, d) => Curation.decontaminate(s, d)),
    "curate_chunks"   -> ((s, d) => Curation.docChunks(s, d)),
    "curate_sample"   -> ((s, d) => Curation.sampleStratified(s, d)),
    // Deterministic shuffle-into-shards (training order): one exchange
    // keyed on shard, per-shard rank — never a global row_number.
    "curate_shuffle"  -> ((s, d) => Curation.shuffleShards(s, d)),
    // URL canonicalization before url-keyed dedup (fragment / case /
    // default-port / utm / trailing-slash rules as codegen projections;
    // one keyed window shows the dedup-key collapse).
    "curate_urlnorm"  -> ((s, d) => Curation.urlNormDemo(s, d)),
    "curate_mix"      -> ((s, d) => Curation.mixSources(s, d)),
    // Temperature-scaled (alpha = 1/2) source weights in exact integers:
    // isqrt counts, micro-unit share + repetition boost per source.
    "curate_temperature" -> ((s, d) => Curation.temperatureMix(s, d)),
    // Greedy token-budget selection via the score-histogram spelling
    // (no global row sort; winsorize-trick running offsets).
    "curate_tokenbudget" -> ((s, d) => Curation.tokenBudgetSelect(s, d)),
    "curate_pack"     -> ((s, d) => Curation.packSequences(s, d)),
    // In-context pack ordering: greedy integer-dot similarity chain
    // within each pack (keyed per-group traversal, bounded by budget).
    "curate_ctxpack"  -> ((s, d) => Curation.contextPackOrder(s, d)),
    "curate_pii"      -> (Curation.piiDemo _),
    "curate_spans"    -> ((s, d) => Curation.removeSharedSpans(s, d)),
    "curate_split"    -> ((s, d) => Curation.splitAssignments(s, d)),
    // Leakage-safe split: same LCG/thresholds keyed on the near-dup
    // CLUSTER id, so no >=0.85-Jaccard pair straddles a boundary.
    "curate_leaksplit" -> ((s, d) => Curation.leakSafeSplit(s, d)),
    // Soft dedup: weight 1/|near-dup cluster| per doc — duplicate groups
    // contribute one doc's expected mass, nothing is discarded.
    "curate_softdedup" -> ((s, d) => Curation.softDedupWeights(s, d)),
    // Two-phase anneal schedule: per-doc epoch counts from an ABSOLUTE
    // quality bar (threshold, not rank — zero-exchange projection,
    // growth-stable membership; see Curation.annealSchedule scaladoc).
    "curate_anneal"   -> ((s, d) => Curation.annealSchedule(s, d)),
    // Exact-integer percentile winsorization via the bounded-domain
    // value-histogram trick (no global sort, no per-group value map).
    "curate_winsorize" -> ((s, d) => Curation.winsorize(s, d)),
    "curate_filter"   -> ((s, d) => Curation.qualityFilter(s, d)),
    // Seeded-hash operators are not ANSI-SQL-expressible; their entries
    // run the recall/precision/equality gates vs exact in-repo
    // counterparts (see Gates) so the driver gets a hard pass/fail.
    "dedup_minhash"   -> (Gates.minhashGate(_, _)),
    "dedup_simhash"   -> (Gates.simhashGate _),
    // Pairs only: cosine is a float/double-precision value that cannot be
    // hash-compared bit-for-bit against DuckDB; the pair SET is exact
    // (threshold margin ≥ 2.8e-5 on this corpus, far above fp noise).
    "dedup_embedding" -> ((s, d) => Dedup.embeddingPairs(s, d)
      .select("vec_a", "vec_b")),
    "text_tokens"     -> (TextAnalysis.tokenCounts _),
    "text_subtokens"  -> (TextAnalysis.regexpTokenCounts _),
    "text_quality"    -> (TextAnalysis.qualityScores _),
    // Flesch reading-ease in exact integer micro-units: one
    // zero-exchange higher-order-lambda projection, no Generate.
    "text_readability" -> (TextAnalysis.readability _),
    // Hashing-trick featurizer: engine-portable md5-prefix buckets,
    // exact per-bucket token/distinct histogram (D=64 bounded domain).
    "text_feathash"   -> ((s, d) => TextAnalysis.featureHash(s, d)),
    "text_langid"     -> (TextAnalysis.languageId _),
    // Per-SPAN language segmentation: the langid vote swept over 16-word
    // windows, adjacent same-vote spans merged (islands) — multilingual
    // docs are filtered per segment, not per document.
    "text_langspans"  -> ((s, d) => TextAnalysis.languageSpans(s, d)),
    // Per-language subword fertility (subtokens per word, exact ppm) over
    // the PREDICTED language — the multilingual tokenizer-quality table.
    "text_fertility"  -> (TextAnalysis.subwordFertility _),
    "text_keyterms"   -> ((s, d) => TextAnalysis.keyTerms(s, d)),
    "text_gopher"     -> (TextAnalysis.gopherSignals _),
    "text_dupgrams"   -> (TextAnalysis.dupGramStats _),
    "text_boilerplate" -> ((s, d) => TextAnalysis.boilerplate(s, d)),
    "text_vocab"      -> ((s, d) => TextAnalysis.vocabTopK(s, d)),
    "text_bpe"        -> ((s, d) => Gates.bpeGate(s, d)),
    // Distributed BPE trainer at real depth: 256 merges over the
    // UNCAPPED word vocabulary, per-iteration pair counts as a keyed
    // Spark aggregate (Tokenizer.learnMergesDistributed); same
    // invariants gate as text_bpe.
    "text_bpe_dist"   -> ((s, d) => Gates.bpeDistGate(s, d)),
    // WordPiece trainer (likelihood-scored merges, exact BigInt ratio
    // argmax) + greedy longest-match apply kernel; same invariant gate
    // shape as text_bpe. The BERT-family vocabulary recipe next to the
    // GPT-family one.
    "text_wordpiece"  -> ((s, d) => Gates.wordPieceGate(s, d)),
    // Unigram-LM trainer (SentencePiece recipe: over-complete substring
    // seed, log-space EM over the segmentation lattice, probability-
    // ranked prune-down) + Viterbi apply kernel — completes the
    // big-three subword trio next to BPE and WordPiece.
    "text_unigram"    -> ((s, d) => Gates.unigramGate(s, d)),
    "text_collocations" -> ((s, d) => TextAnalysis.collocations(s, d)),
    "text_fingerprint" -> (Gates.fingerprintGate(_, _)),
    "ann_topk"        -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    // Contrastive-training data prep: positive = nearest neighbor, hard
    // negatives = next candidates in the retrieved top-64 that are NOT
    // near-dups of the query (cosine < 0.35). Registered on the
    // ARTIFACT-SERVED spelling (candidates from the persisted IVF-PQ
    // index's partition-pruned code scan, cut by the bounded-heap
    // TopKPerKey) — the plan you'd run at 100 TB; the brute Q×N leg is
    // the gate truth, pinned equal in OperatorsSpec.
    "mine_hardnegatives" -> ((s, d) => Similarity.hardNegativesFromIndex(s, d)),
    // Int8 scalar quantization of the embedding corpus: per-dim scale +
    // code moments + integer-exact reconstruction error (the 4x
    // compression step ahead of the ANN ladder).
    "embed_quantize"  -> ((s, d) => Similarity.quantizeStats(s, d)),
    // Greedy farthest-point k-center coreset: diversity selection over
    // the embedding corpus, k driver-bounded rounds of one scan each.
    "embed_coreset"   -> ((s, d) => Similarity.coresetSelect(s, d)),
    // Per-label embedding outliers: bottom-k cosine to the exact integer
    // group sum-vector (micro-quantized; ranks + exact dot survive).
    "embed_outlier"   -> ((s, d) => Similarity.embedOutliers(s, d)),
    // Source-pair centroid cosine matrix (mixing diagnostic): exact
    // integer sum-vectors, broadcast pair join over the source dimension.
    "embed_domains"   -> ((s, d) => Similarity.domainSimilarity(s, d)),
    // 1-bit (sign) quantization: packed 64-bit signatures, Hamming top-k
    // flagged against the exact cosine top-k (recall as row data).
    "embed_binary"    -> ((s, d) => Similarity.binaryQuantTopK(s, d)),
    // Matryoshka prefix-dimension retrieval (64->16): exact integer
    // prefix dots, full-dim cosine top-k membership as row data.
    "embed_matryoshka" -> ((s, d) => Similarity.matryoshkaTopK(s, d)),
    // Maximum-inner-product top-k in exact integer dots, with each hit's
    // plain-cosine rank carried so the norm bias is visible as data.
    "ann_mips"        -> ((s, d) => Similarity.mipsTopK(s, d)),
    // PCA gate: integer-exact covariance moments (floor(x*1000) fixed
    // point), driver 64x64 Jacobi eigensolve (control plane), projected
    // variance per component verified against its eigenvalue in-plan;
    // the oracle recomputes the engine-exact integer trace anchor.
    "embed_pca"       -> ((s, d) => Similarity.pcaGate(s, d)),
    // Filtered vector search (pre-filter semantics): top-k among
    // candidates with label != the query's label; exact truth leg,
    // IVF scale path pinned equal at full probe in SimilaritySpec.
    "ann_filtered"    -> ((s, d) => Similarity.filteredTopK(s, d)),
    "embed_cluster"   -> (Gates.embedClusterGate(_, _)),
    "ann_lsh"         -> (Gates.annLshGate _),
    // Graph-based ANN (NSW-family multi-entry beam search over the
    // directed-kNN artifact + deterministic express overlay).
    "ann_graph"       -> (Gates.annGraphGate _),
    "ann_ivf"         -> (Gates.annIvfGate _),
    "ann_pq"          -> (Gates.annPqGate _),
    "ann_ivfpq"       -> (Gates.annIvfPqGate _),
    // Cross-language top-1 mining (bitext candidates): exact rows with a
    // gated IVF scale-leg agreement flag (Gates.bitextGate scaladoc).
    "mine_bitext"     -> ((s, d) => Gates.bitextGate(s, d)),
    "multimodal_summary" -> (Multimodal.assetSummary _),
    // Decoded stats: for images every column comes from a REAL
    // javax.imageio decode of the PNG payload; the oracle re-derives the
    // expected pixels from the generation formula, pinning the whole
    // encode->store->decode loop.
    "multimodal_features" -> ((s, d) => Multimodal.decodeAssets(s, d)
      .toDF().select("asset_id", "modality", "width", "height", "n_bytes",
        "px_sum", "px_min", "px_max")
      .orderBy("asset_id")),
    "multimodal_frames" -> ((s, d) => Multimodal.frameSample(s, d)),
    // Decode -> nearest-neighbor thumbnail -> raster sha; the oracle
    // rebuilds the thumbnail from the pixel formula with identical
    // floor arithmetic.
    "multimodal_resize" -> ((s, d) => Multimodal.resizeImages(s, d)),
    // A REAL Structured-Streaming execution (file source → watermark →
    // flatMapGroupsWithState → memory sink) over the bounded events
    // table; equals batch gap sessionization, which DuckDB expresses as
    // gaps-and-islands — the streaming family's first oracle row.
    "stream_sessions" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.sessionizeSpooled(s, d)),
    // The NATIVE streaming session_window spelling of the same
    // sessionization, same spool + sentinel protocol, same oracle.
    "stream_sessions_native" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.sessionizeNativeSpooled(s, d)),
    // Real streaming executions over the spooled documents corpus:
    // band-keyed stateful near-dup (gated for set equality against batch
    // minhashPairs) and the windowed quality monitor (integer-exact
    // per-window output DuckDB recomputes directly).
    "stream_neardup" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.nearDupSpooled(s, d)),
    "stream_quality" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.qualityMonitorSpooled(s, d)),
    // Real stream-stream interval join over the spooled events corpus —
    // the join operator class's first oracle row.
    "stream_attribution" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.clickAttributionSpooled(s, d)),
    // Streaming exact dedup: kept row per hash made deterministic by the
    // spool's hash-rank wave schedule; oracle = min(doc_id) per text.
    "stream_dedup" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.dedupSpooled(s, d)),
    // The family's foundational windowed aggregate as a real execution;
    // integer-exact projection (counts; the double sum stays live-only).
    "stream_windowstats" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.windowStatsSpooled(s, d)),
    // ts_downsample's streaming twin: OHLC per (type, hour) as a real
    // watermarked execution — min_by/max_by on (ts, event_id) state.
    "stream_ohlc" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.ohlcSpooled(s, d)),
    // The stream family's above-sf0.1 CORRECTNESS row (r14 brief #3):
    // the same watermarked execution over the inline 10x event corpus
    // (copies 192h apart, epoch-µs construction the oracle replays).
    "stream_ohlc_10x" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.ohlcSpooled10x(s, d)),
    // Volume-spike monitor: stream-maintained tumbling counts, exact
    // integer trailing-3-window comparison over the finalized windows.
    "stream_anomaly" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.anomalySpooled(s, d)),
    // The SAME aggregate executed through a mid-stream crash + restart
    // from one checkpoint into an exactly-once file sink — the
    // fault-tolerance contract as an oracle row (state recovery AND
    // no-replay both break the hash if violated).
    "stream_recovery" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.windowStatsRecovered(s, d)),
    // Per-window trending item via CHAINED streaming aggregations
    // (multiple stateful operators): windowed counts -> re-windowed
    // argmax as max(struct(n, type)).
    "stream_trending" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.trendingSpooled(s, d)),
    // Stream-STATIC broadcast enrichment join (stream × dimension →
    // windowed counts per enriched attribute) — the map-side join shape
    // that never shuffles the stream; real spooled execution.
    "stream_enrich" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.enrichSpooled(s, d)),
    // EXACT streaming distinct per window via the dedup-then-count
    // decomposition (two chained watermark-bounded stateful operators).
    "stream_distinct" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.distinctSpooled(s, d)),
    // APPROXIMATE streaming distinct: per-window HLL++ — one fixed-size
    // register set per window instead of state per distinct (window,
    // user) pair; gated per window against the exact batch count.
    "stream_hll" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.hllDistinctSpooled(s, d)),
    // Sliding (hopping) windows: each event expands map-side into its
    // len/slide covering windows before the keyed aggregate.
    "stream_hopping" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.hoppingSpooled(s, d)),
    // Stateful sequence matching (the CEP class): the streaming funnel's
    // per-user cursor state machine, batch-equal by construction — its
    // oracle IS events_funnel's SQL.
    "stream_funnel" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.funnelSpooled(s, d)),
    // Keyword-retrieval surface (operators.Search): postings construction,
    // integer-exact TF-IDF ranking, positional phrase search.
    "profile_columns" -> (Profiling.lineitemProfile _),
    // HLL++ sketched cardinalities gated against the exact profiler:
    // fixed-size mergeable state per column, the 100-TB distinct-count
    // path (the exact melt's exchange carries the value domain).
    "profile_sketch"  -> (Profiling.lineitemSketchProfile _),
    // Count-min-sketch heavy hitters (fixed-size mergeable counters)
    // gated on the exact vocabulary top-k; GK quantile sketch gated on
    // integer-arithmetic exact discrete percentiles.
    "profile_hh"      -> ((s, d) => Profiling.cmsHeavyHitters(s, d)),
    // Theta/KMV sketch set-operation gate: bottom-k hash samples per
    // group, direct intersection estimate (the question HLL can't
    // answer), gated on the exact pair join.
    "profile_theta"   -> ((s, d) => Profiling.thetaIntersection(s, d)),
    // Exact-integer Gini impurity per column (the log-free entropy
    // twin): columnProfile's melt, (n, sum c^2) second aggregate.
    "profile_gini"    -> (Profiling.lineitemGiniProfile _),
    // φ² (mean-square contingency) category-mix drift across a ship-date
    // split, exact decimal micro-units, zero cells included.
    "profile_phi2"    -> ((s, d) => Profiling.phiSquaredDrift(s, d)),
    // Exact-integer Kolmogorov–Smirnov distance over the bounded value
    // histogram (numeric-distribution drift; one-row result).
    "profile_ks"      -> ((s, d) => Profiling.ksDrift(s, d)),
    "profile_qsketch" -> ((s, d) => Profiling.quantileSketchGate(s, d)),
    // Incremental profile maintenance: settled per-column HLL sketch
    // artifact + delta-only sketch, hll_union merge gated on exact.
    "profile_incr"    -> ((s, d) => Profiling.incrementalProfile(s, d)),
    // Declarative data expectations (release contract): fixed rule
    // table, one-scan conditional aggregation, per-rule pass bits.
    "profile_expect"  -> ((s, d) => Profiling.expectations(s, d)),
    // Cross-column correlation sufficient statistics (integer-exact
    // moments, one Aggregate pass over one scan).
    "profile_corr"    -> (Profiling.correlationProfile _),
    "profile_drift"   -> ((s, d) => Profiling.tokenDrift(s, d)),
    "search_index"  -> ((s, d) => Search.invertedIndex(s, d)),
    // The maintained twin: settled index served from the bucketed
    // artifact + increment merge; same full-corpus oracle as
    // search_index, so a stale artifact cannot hash-match.
    "search_incr_artifact" -> ((s, d) => Search.incrementalIndex(s, d)),
    "search_tfidf"  -> ((s, d) => Search.tfidfTopK(s, d)),
    "search_bm25"   -> ((s, d) => Search.bm25TopK(s, d)),
    // The search family's first above-sf0.1 row (r16): BM25 over the
    // shared inline 10x Caesar corpus, integer scores hash-matched
    // against the oracle's replay of the same construction.
    "search_bm25_10x" -> ((s, d) => Search.bm25TopK10x(s, d)),
    "search_phrase" -> ((s, d) => Search.phraseSearch(s, d)),
    // Retrieve-then-rerank: BM25 top-50 candidates re-ranked by embedding
    // cosine vs the top lexical hit's vector (rank-only, hash-exact).
    // Reciprocal-rank fusion of the BM25 and cosine orderings over the
    // same candidate set (exact-integer 1e9 div (60+rank) votes).
    "search_rrf"    -> ((s, d) => Search.rrfSearch(s, d)),
    // Prefix autocomplete: per-prefix top-k completions by exact
    // occurrence count (map-side-pruned per-prefix window).
    "search_suggest" -> ((s, d) => Search.suggestTopK(s, d)),
    "search_hybrid" -> ((s, d) => Search.hybridSearch(s, d)),
    // Persisted IVF-PQ index: recall bound + bit-identity with the fresh
    // build (the settled-corpus ANN path, sibling of dedup_incr_artifact).
    "ann_artifact"  -> (Gates.annArtifactGate _),
    // The same persisted-index gate over the inline 10x corpus
    // (vec_id-shifted, coordinate-rotated copies): serve == fresh build
    // bit-for-bit AND recall vs brute, at scale (r14 brief #5).
    "ann_artifact_10x" -> (Gates.annArtifactGate10x _),
    // Partial-probe IVF on the CLUSTERED generated fixture: nprobe=4 of
    // nlist=16 (25% coverage) holds recall >= 0.95 where the uniform
    // corpus would sit near coverage — the partition-pruning win as a
    // gated number (recall sweep in BASELINE.md).
    "ann_clustered" -> (Gates.annClusteredGate _),
    // ENGINE-DECIDED ANN (the IVF cost model as a decision): the planner
    // derives nlist = pow2(sqrt n) = 32 (the fixture's planted
    // granularity), calibrates nprobe on the training sample (lands 1 —
    // the partition-pruning regime), dispatches by the fresh cost model
    // (brute iff nlist + Q*nprobe/nlist >= Q), and the brute regime's
    // dispatch is pinned bit-identical to bruteForceTopK.
    "ann_auto"      -> (Gates.annAutoGate _),
    // The planner's point driven through the PERSISTED-ARTIFACT path:
    // build at derived nlist, serve at calibrated nprobe, bit-equal to
    // the fresh build at the same point (r14 brief #2's fixture row).
    "ann_artifact_auto" -> (Gates.annArtifactAutoGate _),
    // RESIDUAL-PQ codes served on the clustered fixture (nlist=32 =
    // planted clusters, nprobe=4): bit-equal to raw codes at full
    // rerank + clustered recall bound — the r8 recall win, registered.
    "ann_residual"  -> (Gates.annResidualGate _),
    // Incrementally-maintained ANN index: increment appended under frozen
    // quantizers must equal the one-pass rebuild bit-for-bit + recall.
    "ann_incr_artifact" -> (Gates.annIncrArtifactGate _),
    "text_lmscore"  -> ((s, d) => TextAnalysis.lmTypicality(s, d)),
    // Data-layout family: write the z-ordered (Morton-clustered) lineitem
    // copy, then answer a 2-D band aggregate over it. The hash match vs
    // the oracle's raw-table scan proves layout never changes results —
    // it only changes what the scan skips (BASELINE.md r12).
    "layout_zorder" -> ((s, d) => Layout.zorderQuery(s, d)),
    // Hilbert-curve layout twin: same write-then-band shape, better
    // row-group locality (the pruning delta is measured, not oracled).
    "layout_hilbert" -> ((s, d) => Layout.hilbertQuery(s, d)),
    // Nearest-centroid (Rocchio) domain classifier in exact-integer
    // arithmetic — the curation-routing step before curate_mix.
    // kNN majority-vote label propagation from the labeled seed slice
    // (broadcast seeds, WindowGroupLimit top-k, per-target argmax).
    "embed_knnlabel"  -> ((s, d) => Classify.knnLabelPropagation(s, d)),
    "text_classify" -> ((s, d) => Classify.centroidClassify(s, d)),
    // Streaming CDC compaction (last-wins upsert per key) — what a sink
    // does with Singer key_properties; real watermarked execution over
    // the spooled events corpus.
    "stream_upsert" -> ((s, d) =>
      graft.streaming.StreamingAnalytics.upsertSpooled(s, d)),
    // MMR diversified retrieval over the BM25 candidates — exact-integer
    // greedy, oracle-checked by unrolling the same greedy in SQL.
    "search_mmr" -> ((s, d) => Search.mmrTopK(s, d)),
  )

  /** Greedy MMR unrolled in SQL: the BM25 candidate chain (the
    * search_bm25 CTEs widened to 50), micro-unit relevance and pairwise
    * token-Jaccard, then `topK` argmax steps — step k maximizes
    * `rel − max(sim to the k−1 already-picked docs)` over the unpicked
    * rest, ties by doc_id. Every value is BIGINT floor arithmetic, so
    * the selection matches [[graft.operators.Search.mmrTopK]]'s driver
    * greedy exactly. Generated (not hand-written) because the greedy is
    * inherently sequential: SQL gets one CTE pair (pick + picked-set)
    * per step. */
  private def mmrOracle(topK: Int): String = {
    val base =
      """WITH t AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |l AS MATERIALIZED (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS MATERIALIZED (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_len FROM l),
        |u AS MATERIALIZED (SELECT DISTINCT doc_id, term FROM t),
        |d AS MATERIALIZED (SELECT term, count(*) AS df FROM u GROUP BY term),
        |q AS MATERIALIZED (SELECT term,
        |        ((2 * st.n_docs - 2 * df + 1) * 1000000) // (2 * df + 1) AS idf_micro,
        |        st.s_len, st.n_docs
        |      FROM d, st ORDER BY df ASC, term ASC LIMIT 3),
        |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |c AS MATERIALIZED (SELECT tf.doc_id,
        |        (q.idf_micro * ((1000000 * 36 * tf.tf * q.s_len) //
        |          (16 * tf.tf * q.s_len + 5 * q.s_len + 15 * l.dl * q.n_docs)))
        |         // 1000000 AS contrib
        |      FROM tf JOIN q USING (term) JOIN l ON tf.doc_id = l.doc_id),
        |sc AS MATERIALIZED (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
        |       FROM c GROUP BY doc_id),
        |cand AS MATERIALIZED (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 50),
        |mx AS MATERIALIZED (SELECT max(score) AS ms FROM cand),
        |r AS MATERIALIZED (SELECT c2.doc_id, c2.score * 1000000 // mx.ms AS rel,
        |             list_distinct(string_split(dd.text, ' ')) AS ts
        |      FROM cand c2 JOIN documents dd USING (doc_id), mx),
        |sim AS MATERIALIZED (SELECT a.doc_id AS ai, b.doc_id AS bi,
        |         len(list_intersect(a.ts, b.ts)) * 1000000 //
        |         (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS s
        |        FROM r a, r b WHERE a.doc_id <> b.doc_id),
        |s1 AS MATERIALIZED (SELECT doc_id, rel AS m FROM r ORDER BY rel DESC, doc_id LIMIT 1),
        |p1 AS MATERIALIZED (SELECT doc_id FROM s1)""".stripMargin
    val steps = (2 to topK).map { k =>
      s"""s$k AS MATERIALIZED (SELECT r.doc_id, r.rel - max(sim.s) AS m
         |  FROM r JOIN sim ON sim.ai = r.doc_id
         |    AND sim.bi IN (SELECT doc_id FROM p${k - 1})
         |  WHERE r.doc_id NOT IN (SELECT doc_id FROM p${k - 1})
         |  GROUP BY r.doc_id, r.rel ORDER BY m DESC, r.doc_id LIMIT 1),
         |p$k AS MATERIALIZED (SELECT doc_id FROM p${k - 1}
         |        UNION ALL SELECT doc_id FROM s$k)""".stripMargin
    }
    val out = (1 to topK).map { k =>
      s"SELECT CAST($k AS BIGINT) AS rank, doc_id, m AS mmr_score FROM s$k"
    }.mkString("\n", "\nUNION ALL ", "\nORDER BY rank")
    (Seq(base) ++ steps).mkString(",\n") + out
  }

  private val incrementalOracleSql =
    """WITH ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
      |SELECT doc_a, doc_b, jaccard FROM (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |  (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
      | FROM ts a, ts b WHERE a.doc_id < b.doc_id
      |   AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)) t
      |WHERE jaccard >= 0.85 ORDER BY doc_a, doc_b""".stripMargin

  /** The training-export capstone's seven-stage CTE chain, shared by the
    * export_training and export_shards oracles so the definitions can
    * never drift. [[exportTrainingSelect]] is the final projection
    * (shard/pos shuffle included) over the `cm` prefix-sum CTE. */
  private lazy val exportTrainingCtes: String = {
    val qs = graft.operators.Curation.mixQuotas
      .map { case (src, n) => s"('$src', $n)" }.mkString(", ")
    val lcg = graft.operators.Curation.lcgKeySql
    s"""WITH w AS (SELECT doc_id, text, lang, string_split(text, ' ') AS words,
       |                  len(string_split(text, ' ')) AS n, length(text) AS c
       |           FROM documents),
       |b AS (SELECT doc_id, text, n,
       |       CAST(c - (n - 1) AS DOUBLE) / n AS mwl,
       |       CAST(len(list_distinct(words)) AS DOUBLE) / n AS ttr,
       |       CAST(list_max(list_transform(list_distinct(words),
       |         w2 -> len(list_filter(words, x -> x = w2)))) AS DOUBLE) / n AS tws,
       |       CASE WHEN n >= 2
       |         THEN CAST((n - 1) - len(list_distinct(list_transform(range(n - 1),
       |           i -> words[i + 1] || ' ' || words[i + 2]))) AS DOUBLE) / (n - 1)
       |         ELSE 0.0 END AS dupf
       |      FROM w),
       |ql AS (SELECT doc_id, text FROM b
       |      WHERE NOT (n < 30 OR n > 5000 OR mwl < 3.0 OR mwl > 10.0
       |                 OR ttr < 0.35 OR tws > 0.15 OR dupf > 0.10)),
       |surv AS (SELECT min(doc_id) AS doc_id FROM ql GROUP BY text),
       |ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |       FROM documents JOIN surv USING (doc_id)),
       |nd AS (SELECT DISTINCT b2.doc_id FROM ts a, ts b2 WHERE a.doc_id < b2.doc_id
       |       AND CAST(len(list_intersect(a.toks, b2.toks)) AS DOUBLE) /
       |           (len(a.toks) + len(b2.toks) - len(list_intersect(a.toks, b2.toks))) >= 0.9),
       |kept AS (SELECT doc_id FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
       |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |gr AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |         range(1, greatest(len(toks) - 2, 1) + 1),
       |         i -> array_to_string(toks[i:i+2], ' ')))) AS gs FROM t2),
       |ev AS (SELECT DISTINCT gs FROM gr WHERE doc_id % 100 = 0),
       |cont AS (SELECT DISTINCT doc_id FROM gr JOIN ev USING (gs)
       |         WHERE doc_id % 100 <> 0),
       |fin AS (SELECT doc_id FROM kept WHERE doc_id % 100 <> 0
       |        AND doc_id NOT IN (SELECT doc_id FROM cont)),
       |qt(source, quota) AS (VALUES $qs),
       |mix0 AS (SELECT d.doc_id, d.source,
       |          len(string_split(d.text, ' ')) AS n_tokens,
       |          ROW_NUMBER() OVER (PARTITION BY d.source
       |            ORDER BY $lcg, d.doc_id) AS rk
       |         FROM documents d JOIN fin USING (doc_id)),
       |mixed AS (SELECT doc_id, source, n_tokens, rk
       |          FROM mix0 JOIN qt USING (source) WHERE rk <= quota),
       |cm AS (SELECT doc_id, source, n_tokens, rk,
       |        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |       FROM mixed)""".stripMargin
  }

  private lazy val exportTrainingSelect: String = {
    val lcg = graft.operators.Curation.lcgKeySql
    s"""SELECT doc_id, source, n_tokens, rk,
       | CAST(cum // 256 AS BIGINT) AS pack_id,
       | CAST(cum % 256 AS BIGINT) AS pack_offset,
       | ($lcg) % 8 AS shard,
       | ROW_NUMBER() OVER (PARTITION BY ($lcg) % 8
       |   ORDER BY $lcg, doc_id) AS pos
       |FROM cm""".stripMargin
  }

  /** DuckDB-runnable ANSI SQL equivalents (same parquet tables, same
    * column aliases). Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] = Map(
    // Gap sessionization as gaps-and-islands. BOTH sides work in epoch
    // MILLISECONDS (the stream's gap arithmetic runs on Timestamp.getTime
    // ms floors; epoch_ms mirrors it), so µs-precision timestamps cannot
    // drift the hash. 1800000 = the 30-minute default gap.
    "stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
        |d AS (SELECT user_id, tms,
        |  CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
        |            > 1800000 THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, tms,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tms
        |                 ROWS UNBOUNDED PRECEDING) AS grp FROM d)
        |SELECT user_id, min(tms) AS session_start_ms,
        |       max(tms) AS session_end_ms, count(*) AS n_events
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "stream_sessions_native" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
        |d AS (SELECT user_id, tms,
        |  CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
        |            > 1800000 THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, tms,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tms
        |                 ROWS UNBOUNDED PRECEDING) AS grp FROM d)
        |SELECT user_id, min(tms) AS session_start_ms,
        |       max(tms) AS session_end_ms, count(*) AS n_events
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start_ms""".stripMargin,
    // Tumbling 1-hour windows aligned to epoch — both engines derive
    // window_start_ms with the same integer arithmetic on epoch ms.
    "stream_windowstats" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        | event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The batch OHLC contract re-derived per hour window — the streaming
    // execution must reproduce it bit-for-bit (parity gate).
    "stream_ohlc" ->
      """WITH e AS (SELECT event_type,
        |       (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        |       ts, event_id, value,
        |       ROW_NUMBER() OVER (PARTITION BY event_type,
        |         epoch_ms(ts) // 3600000 ORDER BY ts, event_id) AS rn_a,
        |       ROW_NUMBER() OVER (PARTITION BY event_type,
        |         epoch_ms(ts) // 3600000 ORDER BY ts DESC, event_id DESC)
        |         AS rn_d
        |      FROM events)
        |SELECT window_start_ms, event_type, count(*) AS n,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM e GROUP BY window_start_ms, event_type
        |ORDER BY window_start_ms, event_type""".stripMargin,
    // stream_ohlc's oracle over the inline 10x construction: copy c
    // shifts epoch-µs by c·192h (691200000000 µs) and event_id by
    // c·(max id + 1) — the same integer arithmetic the Spark
    // construction runs, so the scaled corpus is hash-exact.
    "stream_ohlc_10x" ->
      """WITH shift AS (SELECT max(event_id) + 1 AS s FROM events),
        |scaled AS (SELECT
        |       make_timestamp(epoch_us(ts) + c * 691200000000) AS ts,
        |       event_id + c * shift.s AS event_id, event_type, value
        |      FROM events CROSS JOIN range(10) t(c) CROSS JOIN shift),
        |e AS (SELECT event_type,
        |       (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        |       ts, event_id, value,
        |       ROW_NUMBER() OVER (PARTITION BY event_type,
        |         epoch_ms(ts) // 3600000 ORDER BY ts, event_id) AS rn_a,
        |       ROW_NUMBER() OVER (PARTITION BY event_type,
        |         epoch_ms(ts) // 3600000 ORDER BY ts DESC, event_id DESC)
        |         AS rn_d
        |      FROM scaled)
        |SELECT window_start_ms, event_type, count(*) AS n,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM e GROUP BY window_start_ms, event_type
        |ORDER BY window_start_ms, event_type""".stripMargin,
    // Exact rank-quintile arithmetic — the same (metric, user_id)
    // orders and integral div both engines compute identically.
    "events_rfm" ->
      """WITH per AS (SELECT user_id, max(epoch_ms(ts)) AS last_ms,
        |              count(*) AS f_n,
        |              CAST(sum(CAST(ROUND(value * 100) AS BIGINT))
        |                AS BIGINT) AS m_cents
        |             FROM events GROUP BY user_id),
        |tot AS (SELECT max(last_ms) AS max_ms, count(*) AS n_users FROM per),
        |rk AS (SELECT per.*, tot.n_users,
        |        (tot.max_ms - per.last_ms) // 3600000 AS r_hours,
        |        ROW_NUMBER() OVER (ORDER BY
        |          (tot.max_ms - per.last_ms) // 3600000 DESC, user_id) AS rk_r,
        |        ROW_NUMBER() OVER (ORDER BY f_n ASC, user_id) AS rk_f,
        |        ROW_NUMBER() OVER (ORDER BY m_cents ASC, user_id) AS rk_m
        |       FROM per CROSS JOIN tot)
        |SELECT user_id, CAST(r_hours AS BIGINT) AS r_hours, f_n, m_cents,
        |       CAST((5 * (rk_r - 1)) // n_users + 1 AS BIGINT) AS r_score,
        |       CAST((5 * (rk_f - 1)) // n_users + 1 AS BIGINT) AS f_score,
        |       CAST((5 * (rk_m - 1)) // n_users + 1 AS BIGINT) AS m_score,
        |       CAST(((5 * (rk_r - 1)) // n_users + 1) * 100 +
        |            ((5 * (rk_f - 1)) // n_users + 1) * 10 +
        |            ((5 * (rk_m - 1)) // n_users + 1) AS BIGINT) AS rfm
        |FROM rk ORDER BY user_id""".stripMargin,
    // The same contingency arithmetic in HUGEINT; integral divisions.
    "events_abtest" ->
      """WITH u AS (SELECT user_id,
        |        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
        |        sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc
        |       FROM events GROUP BY user_id),
        |v AS (SELECT user_id % 2 AS variant,
        |        CASE WHEN np > nc THEN 1 ELSE 0 END AS conv FROM u),
        |c AS (SELECT
        |   sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
        |   sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS conv_a,
        |   sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
        |   sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS conv_b
        |  FROM v)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
        |       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
        |       CAST(CASE WHEN n_a = 0 THEN NULL
        |            ELSE (conv_a * 1000000) // n_a END AS BIGINT) AS conv_a_ppm,
        |       CAST(CASE WHEN n_b = 0 THEN NULL
        |            ELSE (conv_b * 1000000) // n_b END AS BIGINT) AS conv_b_ppm,
        |       CASE WHEN n_a = 0 OR n_b = 0 OR (conv_a + conv_b) = 0
        |              OR ((n_a - conv_a) + (n_b - conv_b)) = 0
        |       THEN CAST(NULL AS BIGINT)
        |       ELSE CAST(((n_a + n_b) *
        |             CAST(conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b
        |                  AS HUGEINT) *
        |             (conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b)
        |             * 1000000)
        |            // (CAST(n_a AS HUGEINT) * n_b * (conv_a + conv_b)
        |               * ((n_a - conv_a) + (n_b - conv_b))) AS BIGINT)
        |       END AS chi2_micro
        |FROM c""".stripMargin,
    // z-score twin: identical IEEE double spelling on both engines
    // (casts, left-assoc multiplies, sqrt — correctly rounded), plus the
    // in-row χ² agreement gate against the decimal leg.
    "events_abtest_z" ->
      """WITH u AS (SELECT user_id,
        |        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
        |        sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc
        |       FROM events GROUP BY user_id),
        |v AS (SELECT user_id % 2 AS variant,
        |        CASE WHEN np > nc THEN 1 ELSE 0 END AS conv FROM u),
        |c AS (SELECT
        |   sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
        |   sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS conv_a,
        |   sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
        |   sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS conv_b
        |  FROM v),
        |z0 AS (SELECT n_a, conv_a, n_b, conv_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR (conv_a + conv_b) = 0
        |         OR ((n_a - conv_a) + (n_b - conv_b)) = 0
        |  THEN CAST(NULL AS DOUBLE)
        |  ELSE (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |        CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |       sqrt((CAST(conv_a + conv_b AS DOUBLE) /
        |             CAST(n_a + n_b AS DOUBLE)) *
        |            (1.0 - CAST(conv_a + conv_b AS DOUBLE) /
        |                   CAST(n_a + n_b AS DOUBLE)) *
        |            (1.0 / CAST(n_a AS DOUBLE) +
        |             1.0 / CAST(n_b AS DOUBLE))) END AS z,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR (conv_a + conv_b) = 0
        |         OR ((n_a - conv_a) + (n_b - conv_b)) = 0
        |  THEN CAST(NULL AS BIGINT)
        |  ELSE CAST(((n_a + n_b) *
        |        CAST(conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b
        |             AS HUGEINT) *
        |        (conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b)
        |        * 1000000)
        |       // (CAST(n_a AS HUGEINT) * n_b * (conv_a + conv_b)
        |          * ((n_a - conv_a) + (n_b - conv_b))) AS BIGINT)
        |  END AS chi2_micro FROM c)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
        |       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
        |       z, chi2_micro,
        |       CASE WHEN chi2_micro IS NULL OR z IS NULL
        |       THEN CAST(NULL AS BOOLEAN)
        |       ELSE abs(z * z * 1000000.0 - CAST(chi2_micro AS DOUBLE))
        |            <= 1000.0 END AS agree
        |FROM z0""".stripMargin,
    // Batch replay of the spike monitor: tumbling counts + the exact
    // integer trailing-3 comparison (first three windows cannot flag).
    "stream_anomaly" ->
      """WITH c AS (SELECT (epoch_ms(ts) // 3600000) * 3600000
        |             AS window_start_ms, count(*) AS n_events
        |           FROM events GROUP BY 1),
        |t AS (SELECT window_start_ms, n_events,
        |        COALESCE(sum(n_events) OVER (ORDER BY window_start_ms
        |          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 0) AS trail_sum,
        |        count(*) OVER (ORDER BY window_start_ms
        |          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS n_trail
        |      FROM c)
        |SELECT window_start_ms, n_events,
        |       CAST(trail_sum AS BIGINT) AS trail_sum,
        |       CAST(n_trail AS BIGINT) AS n_trail,
        |       (n_trail = 3 AND n_events * 3 > trail_sum * 2) AS is_spike
        |FROM t ORDER BY window_start_ms""".stripMargin,
    // Crash-recovery twin: the restarted execution must land on the
    // very same batch truth as the uninterrupted one.
    "stream_recovery" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        | event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Champion rule mirrors max(struct(n, type)): count desc, then type
    // desc — a total order, so rk = 1 is unambiguous on both engines.
    "stream_trending" ->
      """WITH c AS (SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        |            event_type, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT window_start_ms, event_type, n,
        |       ROW_NUMBER() OVER (PARTITION BY window_start_ms
        |         ORDER BY n DESC, event_type DESC) AS rk FROM c)
        |SELECT window_start_ms, event_type AS top_type, n AS top_n
        |FROM r WHERE rk = 1 ORDER BY window_start_ms""".stripMargin,
    // Stream-static enrichment: the batch equi-join DuckDB runs directly,
    // same epoch-ms window arithmetic.
    "stream_enrich" ->
      """SELECT (epoch_ms(e.ts) // 3600000) * 3600000 AS window_start_ms,
        | c.c_mktsegment, count(*) AS n
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_distinct" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        | count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // HLL gate: the oracle recomputes the exact per-window distinct;
    // the sketch estimate never leaves the plan, only the boolean.
    "stream_hll" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        | count(DISTINCT user_id) AS n_users, true AS hll_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Hopping windows: every event belongs to two epoch-aligned 1-hour
    // windows starting on the two 30-minute marks at or before it.
    "stream_hopping" ->
      """WITH e AS (SELECT epoch_ms(ts) AS tms, event_type FROM events),
        |x AS (SELECT unnest([(tms // 1800000) * 1800000,
        |                     (tms // 1800000) * 1800000 - 1800000])
        |        AS window_start_ms,
        |       event_type FROM e)
        |SELECT window_start_ms, event_type, count(*) AS n
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Pinned booleans (the dedup_simhash oracle shape): the claim — the
    // streaming execution emits exactly the batch minhash pair set — is
    // computed Spark-side; recall vs brute-Jaccard truth is dedup_minhash's
    // claim and is gated (and oracle-counted) there.
    "stream_neardup" ->
      "SELECT true AS has_pairs, true AS stream_equals_batch",
    // Every (view, click) pair for the same user with the click at most
    // 10 minutes after the view — the batch interval join DuckDB runs
    // directly; epoch-ms on both sides (stream_sessions precedent).
    "stream_attribution" ->
      """SELECT i.user_id, i.event_id AS imp_id, c.event_id AS click_id,
        | epoch_ms(i.ts) AS imp_ms, epoch_ms(c.ts) AS click_ms
        |FROM events i JOIN events c
        | ON i.event_type = 'view' AND c.event_type = 'click'
        | AND i.user_id = c.user_id
        | AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 10 MINUTE
        |ORDER BY i.user_id, imp_id, click_id""".stripMargin,
    // Synthetic schedule: doc d arrives at minute (d mod 180) after epoch
    // ms 86400000, tumbling 1-hour windows — both engines derive
    // window_start_ms with the same integer arithmetic. Drop rules are
    // the curate_filter CASE chain; every double is one int/int division.
    "stream_quality" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words,
        |                  len(string_split(text, ' ')) AS n, length(text) AS c
        |           FROM documents),
        |b AS (SELECT doc_id, source, n,
        |       CAST(c - (n - 1) AS DOUBLE) / n AS mwl,
        |       CAST(len(list_distinct(words)) AS DOUBLE) / n AS ttr,
        |       CAST(list_max(list_transform(list_distinct(words),
        |         w2 -> len(list_filter(words, x -> x = w2)))) AS DOUBLE) / n AS tws,
        |       CASE WHEN n >= 2
        |         THEN CAST((n - 1) - len(list_distinct(list_transform(range(n - 1),
        |           i -> words[i + 1] || ' ' || words[i + 2]))) AS DOUBLE) / (n - 1)
        |         ELSE 0.0 END AS dupf
        |      FROM w),
        |r AS (SELECT doc_id, source,
        |       86400000 + ((doc_id % 180) // 60) * 3600000 AS window_start_ms,
        |       CASE WHEN n < 30 OR n > 5000 OR mwl < 3.0 OR mwl > 10.0
        |              OR ttr < 0.35 OR tws > 0.15 OR dupf > 0.10
        |            THEN 1 ELSE 0 END AS dropped
        |      FROM b)
        |SELECT window_start_ms, source,
        | count(*) AS n_docs, CAST(sum(dropped) AS BIGINT) AS n_dropped,
        | CAST(sum(dropped) AS DOUBLE) / count(*) AS drop_rate
        |FROM r GROUP BY window_start_ms, source
        |ORDER BY window_start_ms, source""".stripMargin,
    // Last-wins per key by (event-time µs, event_id) — the same order the
    // stream's commutative fold keeps; value passes through bit-exact.
    "stream_upsert" ->
      """WITH r AS (SELECT user_id, event_id, event_type, value,
        |  epoch_us(ts) AS tus,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, tus AS last_us, event_id AS last_event_id,
        | event_type AS last_type, value AS last_value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "search_mmr" -> mmrOracle(10),
    "search_index" ->
      """WITH u AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |           FROM documents)
        |SELECT term, count(*) AS df,
        | array_to_string(list_sort(list(doc_id))[1:64], ',') AS postings
        |FROM u GROUP BY term ORDER BY term""".stripMargin,
    // Per-column profile: DuckDB recomputes each column's stats over the
    // RAW values (no string rendering) — equality with the melted Spark
    // plan pins the rendering's injectivity per column. All-BIGINT
    // output, so the hash compare is exact.
    "profile_columns" ->
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
        .map(c => s"""SELECT '$c' AS col_name, count(*) AS n_rows,
                     | count(*) - count($c) AS n_nulls,
                     | count(DISTINCT $c) AS n_distinct FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    // Sketch gate: DuckDB recomputes the EXACT distinct counts; the
    // HLL++ approximation never leaves the plan — only the pinned
    // within-tolerance boolean does.
    "profile_sketch" ->
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
        .map(c => s"""SELECT '$c' AS col_name,
                     | count(DISTINCT $c) AS n_distinct,
                     | true AS sketch_ok FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    // Theta gate: exact pairwise intersection of distinct (flag, key)
    // sets; the KMV estimate never leaves the plan, only its bound
    // boolean (true at k=4096 / tol=0.15 by the RSE margin).
    // Counts grouped by raw value equal Spark's hash-grouped counts
    // (injective rendering, collision stance as columnProfile).
    // Exact KS over the value histogram; min(v) among maximizers is the
    // deterministic argmax tie-break.
    "profile_ks" ->
      """WITH base AS (SELECT CAST(l_quantity AS BIGINT) AS v,
        |        CASE WHEN l_shipdate < TIMESTAMP '1998-06-01' THEN 0
        |             ELSE 1 END AS slice
        |      FROM lineitem),
        |n AS (SELECT sum(CASE WHEN slice=0 THEN 1 ELSE 0 END) AS n_a,
        |             sum(CASE WHEN slice=1 THEN 1 ELSE 0 END) AS n_b
        |      FROM base),
        |h AS (SELECT v, sum(CASE WHEN slice=0 THEN 1 ELSE 0 END) AS c_a,
        |             sum(CASE WHEN slice=1 THEN 1 ELSE 0 END) AS c_b
        |      FROM base GROUP BY v),
        |c AS (SELECT v,
        |        abs(CAST(sum(c_a) OVER (ORDER BY v) AS HUGEINT) * n.n_b
        |          - CAST(sum(c_b) OVER (ORDER BY v) AS HUGEINT) * n.n_a)
        |          AS diff,
        |        n.n_a, n.n_b
        |      FROM h CROSS JOIN n),
        |mx AS (SELECT max(diff) AS mxd FROM c)
        |SELECT CAST(mx.mxd AS BIGINT) AS ks_num,
        |       CAST(c.n_a AS BIGINT) AS n_a, CAST(c.n_b AS BIGINT) AS n_b,
        |       CAST((1000000 * mx.mxd)
        |         // (CAST(c.n_a AS HUGEINT) * c.n_b) AS BIGINT) AS ks_micro,
        |       CAST(min(c.v) AS BIGINT) AS at_value
        |FROM c JOIN mx ON c.diff = mx.mxd
        |GROUP BY mx.mxd, c.n_a, c.n_b""".stripMargin,
    // φ² = χ²/N drift: zero cells included via the dims x slices cross;
    // HUGEINT arithmetic mirrors the Spark side's decimal(38,0).
    "profile_phi2" ->
      """WITH base AS (SELECT l_returnflag AS cat,
        |        CASE WHEN l_shipdate < TIMESTAMP '1998-06-01' THEN 0
        |             ELSE 1 END AS slice
        |      FROM lineitem),
        |dims AS (SELECT DISTINCT cat FROM base),
        |slices AS (SELECT 0 AS slice UNION ALL SELECT 1),
        |o AS (SELECT d.cat, s.slice, count(b.cat) AS o
        |      FROM dims d CROSS JOIN slices s
        |      LEFT JOIN base b ON b.cat = d.cat AND b.slice = s.slice
        |      GROUP BY d.cat, s.slice),
        |r AS (SELECT cat, sum(o) AS r_tot FROM o GROUP BY 1),
        |s AS (SELECT slice, sum(o) AS c_tot FROM o GROUP BY 1),
        |n AS (SELECT sum(o) AS n_tot FROM o),
        |cells AS (SELECT o.cat, o.slice, o.o,
        |    (1000000 * (CAST(o.o AS HUGEINT) * n.n_tot - r.r_tot * s.c_tot)
        |             * (CAST(o.o AS HUGEINT) * n.n_tot - r.r_tot * s.c_tot))
        |      // (CAST(n.n_tot AS HUGEINT) * r.r_tot * s.c_tot * n.n_tot)
        |      AS contrib
        |  FROM o JOIN r USING (cat) JOIN s USING (slice) CROSS JOIN n)
        |SELECT cat, CAST(sum(CASE WHEN slice = 0 THEN o END) AS BIGINT) AS n_old,
        |       CAST(sum(CASE WHEN slice = 1 THEN o END) AS BIGINT) AS n_new,
        |       CAST(sum(contrib) AS BIGINT) AS contrib_micro
        |FROM cells GROUP BY cat ORDER BY cat""".stripMargin,
    "profile_gini" ->
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
        .map(c => s"""SELECT '$c' AS col_name,
                     | CAST(sum(c) AS BIGINT) AS n,
                     | CAST(sum(c * c) AS BIGINT) AS sum_c2,
                     | CAST(((sum(c) * sum(c) - sum(c * c)) * 1000000)
                     |   // (sum(c) * sum(c)) AS BIGINT) AS gini_micro
                     |FROM (SELECT count(*) AS c FROM lineitem
                     |      WHERE $c IS NOT NULL GROUP BY $c)""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "profile_theta" ->
      """WITH d AS (SELECT DISTINCT l_returnflag AS grp, l_orderkey AS key
        |           FROM lineitem)
        |SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_exact,
        |       true AS theta_ok
        |FROM d a JOIN d b ON a.key = b.key AND a.grp < b.grp
        |GROUP BY a.grp, b.grp ORDER BY grp_a, grp_b""".stripMargin,
    // CMS gate: exact top-k spelled as in text_vocab; the sketch's
    // estimates never leave the plan, only the bound booleans.
    "profile_hh" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |per AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
        |v AS (SELECT token, CAST(sum(c) AS BIGINT) AS tf FROM per GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rk,
        | token, tf, true AS cms_ok
        |FROM v ORDER BY tf DESC, token LIMIT 25""".stripMargin,
    // Quantile-sketch gate: exact discrete percentiles via the shared
    // integer-arithmetic histogram rule (smallest value with
    // cum*1e6 >= n*p_ppm — the winsorize spelling, engine-neutral).
    "profile_qsketch" ->
      """WITH c AS (SELECT l_returnflag,
        |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |     FROM lineitem),
        |h AS (SELECT l_returnflag, cents, count(*) AS cnt FROM c GROUP BY 1, 2),
        |cu AS (SELECT l_returnflag, cents,
        |        SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cum
        |       FROM h),
        |t AS (SELECT l_returnflag, count(*) AS n FROM c GROUP BY 1)
        |SELECT l_returnflag,
        | min(CASE WHEN cum * 1000000 >= n * 500000 THEN cents END) AS p50_cents,
        | min(CASE WHEN cum * 1000000 >= n * 900000 THEN cents END) AS p90_cents,
        | true AS p50_ok, true AS p90_ok
        |FROM cu JOIN t USING (l_returnflag)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Sketch-merge gate: exact full-corpus distincts; the merged HLL
    // estimate never leaves the plan, only its tolerance boolean.
    "profile_incr" ->
      """SELECT 'doc_id' AS col_name, count(DISTINCT doc_id) AS n_exact,
        |       true AS merged_ok FROM documents
        |UNION ALL SELECT 'lang', count(DISTINCT lang), true FROM documents
        |UNION ALL SELECT 'n_chars', count(DISTINCT n_chars), true FROM documents
        |UNION ALL SELECT 'source', count(DISTINCT source), true FROM documents
        |UNION ALL SELECT 'text', count(DISTINCT text), true FROM documents
        |ORDER BY col_name""".stripMargin,
    // The rule table recomputed as direct SQL counts; pass bits must
    // agree exactly (all-true on this corpus; the spec plants violations).
    "profile_expect" ->
      """WITH v AS (SELECT count(*) AS n_rows,
        |  sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v1,
        |  count(doc_id) - count(DISTINCT doc_id) AS v2,
        |  sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS v3,
        |  sum(CASE WHEN n_chars IS NULL OR text IS NULL
        |           OR n_chars <> length(text) THEN 1 ELSE 0 END) AS v4,
        |  sum(CASE WHEN NOT regexp_matches(coalesce(lang,''),
        |           '^[a-z]{2}$') THEN 1 ELSE 0 END) AS v5,
        |  sum(CASE WHEN NOT regexp_matches(coalesce(source,''),
        |           '^src[0-9]+$') THEN 1 ELSE 0 END) AS v6,
        |  sum(CASE WHEN n_chars IS NULL OR n_chars < 1
        |           OR n_chars > 1000000 THEN 1 ELSE 0 END) AS v7
        | FROM documents)
        |SELECT CAST(rule_id AS BIGINT) AS rule_id, col_name, rule,
        |       CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(nv AS BIGINT) AS n_violations, nv = 0 AS pass
        |FROM (
        | SELECT 1 AS rule_id, 'doc_id' AS col_name, 'not_null' AS rule,
        |        n_rows, v1 AS nv FROM v
        | UNION ALL SELECT 2, 'doc_id', 'unique', n_rows, v2 FROM v
        | UNION ALL SELECT 3, 'text', 'not_null', n_rows, v3 FROM v
        | UNION ALL SELECT 4, 'n_chars', 'eq_length_text', n_rows, v4 FROM v
        | UNION ALL SELECT 5, 'lang', 'regex_iso639', n_rows, v5 FROM v
        | UNION ALL SELECT 6, 'source', 'regex_src_domain', n_rows, v6 FROM v
        | UNION ALL SELECT 7, 'n_chars', 'range_1_1000000', n_rows, v7 FROM v)
        |ORDER BY rule_id""".stripMargin,
    // Integer-exact correlation moments: the decimal detour (q31's
    // cents rule) renders both engines' double->integer conversion
    // identically; every sum is cast to BIGINT (DuckDB sums BIGINT into
    // HUGEINT, which would dtype-mismatch the compare).
    "profile_corr" ->
      """WITH b AS (SELECT
        |  CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT) AS q,
        |  CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS d,
        |  CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT) AS t
        | FROM lineitem),
        |a AS (SELECT count(*) AS n,
        |  CAST(sum(q) AS BIGINT) AS sq, CAST(sum(d) AS BIGINT) AS sd,
        |  CAST(sum(t) AS BIGINT) AS st, CAST(sum(q*q) AS BIGINT) AS sqq,
        |  CAST(sum(d*d) AS BIGINT) AS sdd, CAST(sum(t*t) AS BIGINT) AS stt,
        |  CAST(sum(q*d) AS BIGINT) AS sqd, CAST(sum(q*t) AS BIGINT) AS sqt,
        |  CAST(sum(d*t) AS BIGINT) AS sdt FROM b)
        |SELECT 'quantity_discount' AS pair, n, sq AS sum_x, sd AS sum_y,
        |       sqq AS sum_xx, sdd AS sum_yy, sqd AS sum_xy FROM a
        |UNION ALL SELECT 'quantity_tax', n, sq, st, sqq, stt, sqt FROM a
        |UNION ALL SELECT 'discount_tax', n, sd, st, sdd, stt, sdt FROM a
        |ORDER BY pair""".stripMargin,
    // Exact-integer rate drift settled-vs-increment; rank ties break by
    // token, so the top-k is total-ordered and hash-stable.
    "profile_drift" ->
      """WITH t AS (SELECT doc_id % 10 = 0 AS is_new,
        |                  unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |c AS (SELECT token,
        |             sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END)::BIGINT AS c_settled,
        |             sum(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS c_incr
        |      FROM t GROUP BY token),
        |n AS (SELECT sum(c_settled)::BIGINT AS n_settled,
        |             sum(c_incr)::BIGINT AS n_incr FROM c)
        |SELECT token, c_settled, c_incr,
        |       abs(c_incr * n_settled - c_settled * n_incr)::BIGINT AS drift,
        |       row_number() OVER (ORDER BY abs(c_incr * n_settled - c_settled * n_incr) DESC, token)::BIGINT AS rk
        |FROM c, n
        |ORDER BY drift DESC, token LIMIT 25""".stripMargin,
    // Maintained index == fresh index: the DuckDB truth is the SAME
    // full-corpus rebuild from raw text, so the artifact+merge path must
    // reproduce it bit-for-bit to hash-match.
    "search_incr_artifact" ->
      """WITH u AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |           FROM documents)
        |SELECT term, count(*) AS df,
        | array_to_string(list_sort(list(doc_id))[1:64], ',') AS postings
        |FROM u GROUP BY term ORDER BY term""".stripMargin,
    // Integer-exact TF-IDF: weight = (N·10^6) // df (floor division in
    // both engines), score = Σ tf·weight — BIGINT end-to-end, so ranks
    // and scores hash-match with no epsilon.
    "search_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |u AS (SELECT DISTINCT doc_id, term FROM t),
        |d AS (SELECT term, count(*) AS df FROM u GROUP BY term),
        |q AS (SELECT term,
        |        (SELECT count(*) FROM documents) * 1000000 // df AS weight
        |      FROM d ORDER BY df ASC, term ASC LIMIT 3),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |sc AS (SELECT tf.doc_id, CAST(sum(tf.tf * q.weight) AS BIGINT) AS score
        |       FROM tf JOIN q USING (term) GROUP BY tf.doc_id)
        |SELECT doc_id, score,
        | CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // Exact-integer BM25 (k1 = 5/4, b = 3/4 cleared to integers; log-free
    // Robertson idf) — see Search.bm25TopK for the derivation. Every
    // intermediate is BIGINT floor arithmetic, so scores hash-match.
    "search_bm25" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |l AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_len FROM l),
        |u AS (SELECT DISTINCT doc_id, term FROM t),
        |d AS (SELECT term, count(*) AS df FROM u GROUP BY term),
        |q AS (SELECT term,
        |        ((2 * st.n_docs - 2 * df + 1) * 1000000) // (2 * df + 1) AS idf_micro,
        |        st.s_len, st.n_docs
        |      FROM d, st ORDER BY df ASC, term ASC LIMIT 3),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |c AS (SELECT tf.doc_id,
        |        (q.idf_micro * ((1000000 * 36 * tf.tf * q.s_len) //
        |          (16 * tf.tf * q.s_len + 5 * q.s_len + 15 * l.dl * q.n_docs)))
        |         // 1000000 AS contrib
        |      FROM tf JOIN q USING (term) JOIN l ON tf.doc_id = l.doc_id),
        |sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
        |       FROM c GROUP BY doc_id)
        |SELECT doc_id, score,
        | CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // The same BM25 CTE chain over the shared inline 10x Caesar
    // construction (the dedup_exact_10x VALUES + translate replay):
    // corpus statistics, query-term selection and integer scoring all
    // recomputed at 10x in both engines.
    "search_bm25_10x" -> {
      val values = (0 until 10)
        .map(k => s"($k, '${graft.operators.Dedup.caesarTo(k)}')")
        .mkString(", ")
      s"""WITH shift AS (SELECT max(doc_id) + 1 AS s FROM documents),
         |scaled AS (
         |  SELECT d.doc_id + ks.k * shift.s AS doc_id,
         |         translate(d.text, '${graft.operators.Dedup.caesarFrom}',
         |                   ks.to_s) AS text
         |  FROM documents d
         |  CROSS JOIN (VALUES $values) ks(k, to_s)
         |  CROSS JOIN shift),
         |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM scaled),
         |l AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM scaled),
         |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_len FROM l),
         |u AS (SELECT DISTINCT doc_id, term FROM t),
         |d AS (SELECT term, count(*) AS df FROM u GROUP BY term),
         |q AS (SELECT term,
         |        ((2 * st.n_docs - 2 * df + 1) * 1000000) // (2 * df + 1) AS idf_micro,
         |        st.s_len, st.n_docs
         |      FROM d, st ORDER BY df ASC, term ASC LIMIT 3),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
         |c AS (SELECT tf.doc_id,
         |        (q.idf_micro * ((1000000 * 36 * tf.tf * q.s_len) //
         |          (16 * tf.tf * q.s_len + 5 * q.s_len + 15 * l.dl * q.n_docs)))
         |         // 1000000 AS contrib
         |      FROM tf JOIN q USING (term) JOIN l ON tf.doc_id = l.doc_id),
         |sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
         |       FROM c GROUP BY doc_id)
         |SELECT doc_id, score,
         | CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    },
    // Retrieve-then-rerank: the BM25 CTE chain widened to 50 candidates,
    // then cosine re-rank vs the top hit's embedding. Rank-only output
    // (plus the BIGINT lexical score) — the bruteForceTopK precedent for
    // hash-stable cross-engine float ordering.
    "search_rrf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |l AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_len FROM l),
        |u AS (SELECT DISTINCT doc_id, term FROM t),
        |d AS (SELECT term, count(*) AS df FROM u GROUP BY term),
        |q AS (SELECT term,
        |        ((2 * st.n_docs - 2 * df + 1) * 1000000) // (2 * df + 1) AS idf_micro,
        |        st.s_len, st.n_docs
        |      FROM d, st ORDER BY df ASC, term ASC LIMIT 3),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |c AS (SELECT tf.doc_id,
        |        (q.idf_micro * ((1000000 * 36 * tf.tf * q.s_len) //
        |          (16 * tf.tf * q.s_len + 5 * q.s_len + 15 * l.dl * q.n_docs)))
        |         // 1000000 AS contrib
        |      FROM tf JOIN q USING (term) JOIN l ON tf.doc_id = l.doc_id),
        |sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
        |       FROM c GROUP BY doc_id),
        |cand AS (SELECT doc_id, score,
        |          row_number() OVER (ORDER BY score DESC, doc_id) AS brank
        |         FROM sc ORDER BY score DESC, doc_id LIMIT 50),
        |qv AS (SELECT cand.doc_id AS q_doc, e.embedding AS qe
        |       FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id
        |       WHERE cand.brank = 1),
        |cr AS (SELECT cand.doc_id, cand.brank,
        |        CAST(row_number() OVER (ORDER BY
        |          list_cosine_similarity(e.embedding, qv.qe) DESC,
        |          cand.doc_id) AS BIGINT) AS crank
        |       FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id, qv
        |       WHERE cand.doc_id <> qv.q_doc),
        |f AS (SELECT doc_id, brank, crank,
        |        (1000000000 // (60 + brank)) + (1000000000 // (60 + crank)) AS rrf_nano
        |      FROM cr)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(brank AS BIGINT) AS bm25_rank,
        |  crank AS cos_rank, CAST(rrf_nano AS BIGINT) AS rrf_nano,
        |  CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id) AS BIGINT) AS rank
        |FROM f QUALIFY rank <= 10 ORDER BY rank""".stripMargin,
    // Term counts from the raw token stream; per-prefix top-5 by
    // (freq desc, term asc).
    "search_suggest" ->
      """WITH tf AS (SELECT t AS term, count(*) AS freq
        |            FROM (SELECT unnest(string_split(text, ' ')) AS t
        |                  FROM documents)
        |            WHERE length(t) >= 3 GROUP BY t),
        |r AS (SELECT substr(term, 1, 3) AS prefix, term, freq,
        |       ROW_NUMBER() OVER (PARTITION BY substr(term, 1, 3)
        |         ORDER BY freq DESC, term) AS rk
        |      FROM tf)
        |SELECT prefix, CAST(rk AS BIGINT) AS rk, term,
        |       CAST(freq AS BIGINT) AS freq
        |FROM r WHERE rk <= 5 ORDER BY prefix, rk""".stripMargin,
    "search_hybrid" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |l AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_len FROM l),
        |u AS (SELECT DISTINCT doc_id, term FROM t),
        |d AS (SELECT term, count(*) AS df FROM u GROUP BY term),
        |q AS (SELECT term,
        |        ((2 * st.n_docs - 2 * df + 1) * 1000000) // (2 * df + 1) AS idf_micro,
        |        st.s_len, st.n_docs
        |      FROM d, st ORDER BY df ASC, term ASC LIMIT 3),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |c AS (SELECT tf.doc_id,
        |        (q.idf_micro * ((1000000 * 36 * tf.tf * q.s_len) //
        |          (16 * tf.tf * q.s_len + 5 * q.s_len + 15 * l.dl * q.n_docs)))
        |         // 1000000 AS contrib
        |      FROM tf JOIN q USING (term) JOIN l ON tf.doc_id = l.doc_id),
        |sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
        |       FROM c GROUP BY doc_id),
        |cand AS (SELECT doc_id, score,
        |          row_number() OVER (ORDER BY score DESC, doc_id) AS brank
        |         FROM sc ORDER BY score DESC, doc_id LIMIT 50),
        |qv AS (SELECT cand.doc_id AS q_doc, e.embedding AS qe
        |       FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id
        |       WHERE cand.brank = 1),
        |rr AS (SELECT cand.doc_id, cand.score,
        |        CAST(row_number() OVER (ORDER BY
        |          list_cosine_similarity(e.embedding, qv.qe) DESC,
        |          cand.doc_id) AS BIGINT) AS rank
        |       FROM cand JOIN embeddings e ON e.vec_id = cand.doc_id, qv
        |       WHERE cand.doc_id <> qv.q_doc)
        |SELECT doc_id, score, rank FROM rr WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // The most frequent adjacent bigram (count DESC, bigram ASC) is the
    // phrase; occurrence counts per containing document. The bigram rows
    // ARE the adjacency relation, so the oracle counts them directly —
    // equivalent to the positional-postings join the Spark side runs.
    "search_phrase" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |big AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
        |          i -> t[i + 1] || ' ' || t[i + 2])) AS bg
        |        FROM toks WHERE len(t) >= 2),
        |top AS (SELECT bg FROM big GROUP BY bg
        |        ORDER BY count(*) DESC, bg ASC LIMIT 1)
        |SELECT doc_id, count(*) AS n_occurrences
        |FROM big JOIN top USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ann_artifact" ->
      """SELECT count(*) AS n_exact, true AS recall_ok,
        | true AS artifact_equals_fresh FROM (
        | SELECT q.vec_id FROM embeddings q, embeddings e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) <= 5)""".stripMargin,
    "ann_incr_artifact" ->
      """SELECT count(*) AS n_exact, true AS recall_ok,
        | true AS incr_equals_onepass FROM (
        | SELECT q.vec_id FROM embeddings q, embeddings e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) <= 5)""".stripMargin,
    // The 10x twin replays the inline scaled construction (vec_id shift
    // + coordinate rotation — list slicing is the same orthogonal map)
    // for the brute count; the recall/equality verdicts are the Spark
    // side's in-row gates, pinned true, the ann_artifact convention.
    "ann_artifact_10x" ->
      """WITH shift AS (SELECT max(vec_id) + 1 AS s FROM embeddings),
        |dims AS (SELECT len(embedding) AS d FROM embeddings LIMIT 1),
        |scaled AS (
        |  SELECT e.vec_id + k.k * shift.s AS vec_id,
        |         CASE WHEN k.k % dims.d = 0 THEN e.embedding
        |              ELSE e.embedding[(k.k % dims.d) + 1 : dims.d]
        |                   || e.embedding[1 : (k.k % dims.d)] END AS embedding
        |  FROM embeddings e CROSS JOIN range(0, 10) k(k)
        |  CROSS JOIN shift CROSS JOIN dims)
        |SELECT count(*) AS n_exact, true AS recall_ok,
        | true AS artifact_equals_fresh FROM (
        | SELECT q.vec_id FROM scaled q, scaled e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) <= 5)""".stripMargin,
    // Exact-integer bigram-LM scoring: both engines sum the same BIGINT
    // corpus counts and floor-divide by the same bigram count.
    "text_lmscore" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |      FROM t, unnest(range(1, len(ts))) AS u(i)
        |      WHERE len(ts) >= 2),
        |c AS (SELECT w1, w2, count(*) AS c_ab FROM p GROUP BY w1, w2)
        |SELECT doc_id, count(*) AS n_bigrams,
        | CAST(sum(c_ab) AS BIGINT) AS sum_bf,
        | CAST(sum(c_ab) AS BIGINT) * 1000000 // count(*) AS typicality
        |FROM p JOIN c USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The oracle aggregates the RAW table with the same integer-derived
    // band bounds; the Spark side answers over its z-ordered copy — the
    // hash match is the proof that layout changes nothing but the scan.
    // Identical to layout_zorder's oracle: the band aggregate is
    // layout-independent BY DESIGN (that is the pin).
    "layout_hilbert" ->
      """WITH m AS (SELECT max(l_partkey) AS pm, max(l_suppkey) AS sm
        |           FROM lineitem)
        |SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, m
        |WHERE l_partkey BETWEEN pm * 45 // 100 AND pm * 55 // 100
        |  AND l_suppkey BETWEEN sm * 45 // 100 AND sm * 55 // 100""".stripMargin,
    "layout_zorder" ->
      """WITH m AS (SELECT max(l_partkey) AS pm, max(l_suppkey) AS sm
        |           FROM lineitem)
        |SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem, m
        |WHERE l_partkey BETWEEN pm * 45 // 100 AND pm * 55 // 100
        |  AND l_suppkey BETWEEN sm * 45 // 100 AND sm * 55 // 100""".stripMargin,
    // Rocchio centroid classification: micro-unit integer weights and
    // BIGINT scores make the prediction engine-exact (see Classify).
    // Full kNN-vote replay: rank seeds per target by cosine, count the
    // top-5 labels, argmax with (count desc, label) ties.
    "embed_knnlabel" ->
      """WITH e AS (SELECT e.vec_id, e.embedding, d.lang
        |           FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        |seed AS (SELECT * FROM e WHERE vec_id % 5 = 0),
        |tgt AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
        |nn AS (SELECT t.vec_id, s.lang,
        |        ROW_NUMBER() OVER (PARTITION BY t.vec_id
        |          ORDER BY list_cosine_similarity(t.embedding, s.embedding)
        |            DESC, s.vec_id) AS rk
        |       FROM tgt t, seed s),
        |v AS (SELECT vec_id, lang, count(*) AS n FROM nn WHERE rk <= 5
        |      GROUP BY vec_id, lang),
        |p AS (SELECT vec_id, lang AS pred_lang, CAST(n AS BIGINT) AS n_votes,
        |       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY n DESC, lang)
        |         AS pr FROM v)
        |SELECT vec_id, pred_lang, n_votes FROM p WHERE pr = 1
        |ORDER BY vec_id""".stripMargin,
    "text_classify" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |lab AS (SELECT doc_id, source FROM documents),
        |ctf AS (SELECT l.source AS cls, tf.term, sum(tf.tf) AS ctf
        |        FROM tf JOIN lab l USING (doc_id) GROUP BY cls, tf.term),
        |ctot AS (SELECT cls, sum(ctf) AS ctot FROM ctf GROUP BY cls),
        |w AS (SELECT cls, term, ctf * 1000000 // ctot AS weight
        |      FROM ctf JOIN ctot USING (cls)),
        |sc AS (SELECT tf.doc_id, w.cls, CAST(sum(tf.tf * w.weight) AS BIGINT) AS score
        |       FROM tf JOIN w USING (term) GROUP BY tf.doc_id, w.cls),
        |best AS (SELECT doc_id, cls AS pred, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, cls) AS rn FROM sc)
        |SELECT b.doc_id, b.pred, b.score, b.pred = l.source AS is_correct
        |FROM best b JOIN lab l ON b.doc_id = l.doc_id
        |WHERE rn = 1 ORDER BY b.doc_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT c_mktsegment,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q3_join3" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q4_window" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, rn FROM (
        | SELECT o_orderkey, o_custkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "q5_topk" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,
    "q6_filter_agg" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q7_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        | COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q8_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "q9_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q10_union" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |UNION
        |SELECT CAST(s_nationkey AS BIGINT) FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q11_rollup" ->
      """SELECT n_name AS nation_name, COUNT(*) AS n_cust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name) ORDER BY nation_name NULLS FIRST""".stripMargin,
    "q12_time_agg" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS hour,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d %H')
        |ORDER BY event_type, hour""".stripMargin,
    "q13_json" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    // The bucketed-layout join must equal the PLAIN join over the raw
    // parquet — that equality IS the layout utility's contract.
    "q25_bucketed_join" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q26_grouping_sets" ->
      """SELECT c_mktsegment, n_name AS nation_name,
        | CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
        | CAST(GROUPING(n_name) AS BIGINT) AS g_nat,
        | COUNT(*) AS n_cust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer c JOIN nation n ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((c_mktsegment, n_name), (c_mktsegment), ())
        |ORDER BY g_seg, g_nat, c_mktsegment NULLS FIRST,
        |         nation_name NULLS FIRST""".stripMargin,
    // Deterministic by the o_orderkey tiebreak; percent_rank/cume_dist
    // are int/int divisions, IEEE-exact in both engines.
    "q27_window_suite" ->
      """SELECT c_mktsegment, o_orderkey,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cume,
        | CAST(dense_rank() OVER w AS BIGINT) AS drank
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY c_mktsegment, o_orderkey""".stripMargin,
    // The custom aggregate must equal count/sum plus the rank-window
    // top-k rendered in rank order.
    "q30_topk_agg" ->
      """WITH t AS (SELECT o_custkey, o_orderkey,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS d,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v
        |  FROM orders),
        |r AS (SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY v DESC, o_orderkey) AS rk FROM t),
        |kk AS (SELECT o_custkey,
        |  string_agg(o_orderkey::VARCHAR, ',' ORDER BY rk) AS top_keys
        |  FROM r WHERE rk <= 3 GROUP BY o_custkey)
        |SELECT t.o_custkey, count(*)::BIGINT AS n_orders,
        |  sum(t.d)::DOUBLE AS sum_price, any_value(kk.top_keys) AS top_keys
        |FROM t JOIN kk ON t.o_custkey = kk.o_custkey
        |GROUP BY t.o_custkey ORDER BY t.o_custkey""".stripMargin,
    // Higher-order lambdas: DuckDB's list functions fold the same
    // linenumber-ordered integer arrays; list_reduce needs a seed
    // element (list_prepend 0) where Spark's aggregate takes it
    // directly. Array contents are exact longs (cents via the shared
    // decimal rendering), so the folds are engine-independent.
    "q31_higher_order" ->
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
        |  FROM lineitem),
        |a AS (
        |  SELECT l_orderkey,
        |    list(q ORDER BY l_linenumber, q, p) AS qty_arr,
        |    list(p ORDER BY l_linenumber, q, p) AS price_arr
        |  FROM b GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  len(list_filter(qty_arr, x -> x > 25)) AS n_big,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), qty_arr),
        |              (acc, x) -> acc + x) AS total_qty,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_zip(qty_arr, price_arr), x -> x[1] * x[2])),
        |              (acc, x) -> acc + x) AS weighted_cents,
        |  list_max(list_transform(price_arr, x -> 2 * x)) AS doubled_max_cents
        |FROM a ORDER BY l_orderkey""".stripMargin,
    // The custom bounded-heap operator must equal the window spelling -
    // that equality IS its correctness contract (total order: price
    // DESC, orderkey ASC).
    "q29_topk_per_key" ->
      """WITH t AS (SELECT o_custkey, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        |  FROM orders),
        |r AS (SELECT o_custkey, o_orderkey, totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY totalprice DESC, o_orderkey) AS rk
        |  FROM t)
        |SELECT o_custkey, o_orderkey, totalprice, rk::BIGINT AS rk
        |FROM r WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    // The declarative spelling rewritten by the optimizer rule must give
    // the exact window answer — one SQL pins both plans.
    "q32_topk_rewrite" ->
      """WITH t AS (SELECT o_custkey, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        |  FROM orders),
        |r AS (SELECT o_custkey, o_orderkey, totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY totalprice DESC, o_orderkey) AS rk
        |  FROM t)
        |SELECT o_custkey, o_orderkey, totalprice, rk::BIGINT AS rk
        |FROM r WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q28_full_outer" ->
      """WITH rich AS (SELECT c_custkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
        |  FROM customer WHERE c_acctbal > 7500),
        |active AS (SELECT o_custkey, count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey HAVING count(*) >= 8)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, acctbal, n_orders
        |FROM rich FULL OUTER JOIN active ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    // The salted join must equal the PLAIN join — that equality IS the
    // correctness contract of the skew utility.
    "q23_skew_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // The salt-factor decision replayed end-to-end: systematic sample
    // (event_id % mod; mod = 1 at the oracle scale), key histogram,
    // factor = clamp(1, 32)(ceil(top*32/rows)) at the repo-standard
    // session parallelism 32 — all integer arithmetic — plus the join
    // counts, which must equal the plain join in every regime (salting
    // is output-invariant; factor 1 skips it entirely).
    "q23_skew_auto" ->
      """WITH n AS (SELECT count(*) AS rows FROM events),
        |s AS (SELECT user_id, count(*) AS c
        |      FROM events, n WHERE event_id % greatest(rows // 65536, 1) = 0
        |      GROUP BY user_id),
        |t AS (SELECT max(c) AS topc, sum(c) AS sr FROM s),
        |f AS (SELECT CAST(greatest(1, least(32, (topc * 32 + sr - 1) // sr))
        |        AS BIGINT) AS salt_factor,
        |        CAST(topc AS BIGINT) AS top_key_rows,
        |        CAST(sr AS BIGINT) AS sampled_rows FROM t)
        |SELECT c_mktsegment, COUNT(*) AS n_events,
        | f.salt_factor, f.top_key_rows, f.sampled_rows
        |FROM events JOIN customer ON user_id = c_custkey CROSS JOIN f
        |GROUP BY c_mktsegment, f.salt_factor, f.top_key_rows, f.sampled_rows
        |ORDER BY c_mktsegment""".stripMargin,
    // 3-sigma spelled in exact integer arithmetic on both sides (HUGEINT
    // here, DECIMAL(38,0) in the engine) so the boolean cannot drift.
    "q24_anomaly" ->
      """WITH h AS (SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS hour,
        |                  count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n, sum(cnt) AS s,
        |              sum(cnt * cnt) AS ss
        |       FROM h GROUP BY 1)
        |SELECT h.event_type, hour, CAST(cnt AS BIGINT) AS cnt,
        | CASE WHEN n >= 2 THEN
        |  CAST(cnt*n - s AS HUGEINT) * (cnt*n - s) * (n - 1) >
        |  9 * CAST(n AS HUGEINT) * (n*ss - s*s)
        | ELSE false END AS is_anomaly
        |FROM h JOIN st USING (event_type) ORDER BY event_type, hour""".stripMargin,
    // Funnel: the same greedy earliest-chain cascade of windowed running
    // minima, on exact epoch-µs longs (epoch_us mirrors unix_micros on
    // the µs-precision column; ties break on event_id in both engines).
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |           FROM events),
        |s0 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN tus END)
        |  OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS UNBOUNDED PRECEDING) AS m0 FROM e),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'view'
        |                          AND m0 IS NOT NULL AND tus > m0 THEN tus END)
        |  OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS UNBOUNDED PRECEDING) AS m1 FROM s0),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |                          AND m1 IS NOT NULL AND tus > m1 THEN tus END)
        |  OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS UNBOUNDED PRECEDING) AS m2 FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |                          AND m2 IS NOT NULL AND tus > m2 THEN tus END)
        |  OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS UNBOUNDED PRECEDING) AS m3 FROM s2),
        |u AS (SELECT user_id,
        |  max(CASE WHEN m0 IS NOT NULL THEN 1 ELSE 0 END) AS r0,
        |  max(CASE WHEN m1 IS NOT NULL THEN 1 ELSE 0 END) AS r1,
        |  max(CASE WHEN m2 IS NOT NULL THEN 1 ELSE 0 END) AS r2,
        |  max(CASE WHEN m3 IS NOT NULL THEN 1 ELSE 0 END) AS r3
        |  FROM s3 GROUP BY user_id)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step_no, 'signup' AS step,
        |         CAST(sum(r0) AS BIGINT) AS n_users FROM u
        |  UNION ALL SELECT 2, 'view', CAST(sum(r1) AS BIGINT) FROM u
        |  UNION ALL SELECT 3, 'click', CAST(sum(r2) AS BIGINT) FROM u
        |  UNION ALL SELECT 4, 'purchase', CAST(sum(r3) AS BIGINT) FROM u)
        |ORDER BY step_no""".stripMargin,
    // The streaming funnel's state machine is batch-equal by
    // construction, so its oracle is the SAME greedy earliest-chain SQL
    // as events_funnel.
    "stream_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |           FROM events),
        |s0 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN tus END)
        |  OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS UNBOUNDED PRECEDING) AS m0 FROM e),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'view'
        |                          AND m0 IS NOT NULL AND tus > m0 THEN tus END)
        |  OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS UNBOUNDED PRECEDING) AS m1 FROM s0),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |                          AND m1 IS NOT NULL AND tus > m1 THEN tus END)
        |  OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS UNBOUNDED PRECEDING) AS m2 FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |                          AND m2 IS NOT NULL AND tus > m2 THEN tus END)
        |  OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS UNBOUNDED PRECEDING) AS m3 FROM s2),
        |u AS (SELECT user_id,
        |  max(CASE WHEN m0 IS NOT NULL THEN 1 ELSE 0 END) AS r0,
        |  max(CASE WHEN m1 IS NOT NULL THEN 1 ELSE 0 END) AS r1,
        |  max(CASE WHEN m2 IS NOT NULL THEN 1 ELSE 0 END) AS r2,
        |  max(CASE WHEN m3 IS NOT NULL THEN 1 ELSE 0 END) AS r3
        |  FROM s3 GROUP BY user_id)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step_no, 'signup' AS step,
        |         CAST(sum(r0) AS BIGINT) AS n_users FROM u
        |  UNION ALL SELECT 2, 'view', CAST(sum(r1) AS BIGINT) FROM u
        |  UNION ALL SELECT 3, 'click', CAST(sum(r2) AS BIGINT) FROM u
        |  UNION ALL SELECT 4, 'purchase', CAST(sum(r3) AS BIGINT) FROM u)
        |ORDER BY step_no""".stripMargin,
    // Batch gaps-and-islands sessionization: stream_sessions' exact SQL.
    "events_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
        |d AS (SELECT user_id, tms,
        |  CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
        |            > 1800000 THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, tms,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tms
        |                 ROWS UNBOUNDED PRECEDING) AS grp FROM d)
        |SELECT user_id, min(tms) AS session_start_ms,
        |       max(tms) AS session_end_ms, count(*) AS n_events
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start_ms""".stripMargin,
    // The native-session_window twin must match the same truth.
    "events_sessions_native" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
        |d AS (SELECT user_id, tms,
        |  CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
        |            > 1800000 THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, tms,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tms
        |                 ROWS UNBOUNDED PRECEDING) AS grp FROM d)
        |SELECT user_id, min(tms) AS session_start_ms,
        |       max(tms) AS session_end_ms, count(*) AS n_events
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start_ms""".stripMargin,
    // Retention: integer day indices (floor division on positive epochs,
    // `div` = `//`), distinct users per (cohort_week, week_offset).
    "events_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |           FROM events),
        |f AS (SELECT user_id, day,
        |             min(day) OVER (PARTITION BY user_id) AS d0 FROM e)
        |SELECT d0 // 7 AS cohort_week, (day - d0) // 7 AS week_offset,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Winsorization: identical integer quantile arithmetic
    // (smallest value with 100·cum ≥ p·n) over the same value histogram.
    "curate_winsorize" ->
      """WITH h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
        |t AS (SELECT sum(c) AS n FROM h),
        |cm AS (SELECT n_chars, sum(c) OVER (ORDER BY n_chars
        |         ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |cuts AS (SELECT min(CASE WHEN cum*100 >= n*5 THEN n_chars END) AS lo,
        |                min(CASE WHEN cum*100 >= n*95 THEN n_chars END) AS hi
        |         FROM cm, t)
        |SELECT doc_id, n_chars,
        |       greatest(least(n_chars, hi), lo) AS n_chars_w,
        |       n_chars < lo AS clipped_low, n_chars > hi AS clipped_high
        |FROM documents, cuts ORDER BY doc_id""".stripMargin,
    // Transitions: lead() over the identical (tus, event_id) per-user
    // order, exact-integer counts.
    "events_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |           FROM events),
        |t AS (SELECT event_type AS step1,
        |        lead(event_type, 1) OVER (PARTITION BY user_id
        |          ORDER BY tus, event_id) AS step2,
        |        lead(event_type, 2) OVER (PARTITION BY user_id
        |          ORDER BY tus, event_id) AS step3
        |      FROM e),
        |c AS (SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n
        |      FROM t WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |      GROUP BY 1, 2, 3)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, step1, step2, step3)
        |         AS BIGINT) AS rk, step1, step2, step3, n
        |FROM c ORDER BY n DESC, step1, step2, step3 LIMIT 25""".stripMargin,
    "events_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |           FROM events),
        |n AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY tus, event_id) AS to_type
        |      FROM e)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM n WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // SCD2: same (tus, event_id) per-user order on both sides; the
    // change compare is exact double equality on identical parquet bits.
    "events_scd2" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus
        |           FROM events),
        |c AS (SELECT *, lag(value) OVER (PARTITION BY user_id
        |                                 ORDER BY tus, event_id) AS pv
        |      FROM e),
        |v AS (SELECT user_id, event_id, tus, value FROM c
        |      WHERE pv IS NULL OR pv <> value)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |                          ORDER BY tus, event_id) AS BIGINT) AS version_no,
        |  tus AS valid_from_us,
        |  lead(tus) OVER (PARTITION BY user_id
        |                  ORDER BY tus, event_id) AS valid_to_us,
        |  value
        |FROM v ORDER BY user_id, version_no""".stripMargin,
    "ts_densify" ->
      """WITH o AS (SELECT date_trunc('month', o_orderdate) AS m,
        |                 o_orderpriority FROM orders),
        |span AS (SELECT min(m) AS mn, max(m) AS mx FROM o),
        |spine AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS m
        |          FROM span),
        |dims AS (SELECT DISTINCT o_orderpriority FROM o),
        |c AS (SELECT m, o_orderpriority, count(*) AS n FROM o GROUP BY 1, 2)
        |SELECT epoch_ms(s.m) AS month_ms, d.o_orderpriority AS priority,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM spine s CROSS JOIN dims d
        |LEFT JOIN c ON c.m = s.m AND c.o_orderpriority = d.o_orderpriority
        |ORDER BY month_ms, priority""".stripMargin,
    // OHLC rollup: first/last via per-bucket ranks (ts, event_id ties),
    // doubles compared as stored values, sum in half-up cents.
    "ts_downsample" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |       ts, event_id, value,
        |       ROW_NUMBER() OVER (PARTITION BY event_type,
        |         date_trunc('hour', ts) ORDER BY ts, event_id) AS rn_a,
        |       ROW_NUMBER() OVER (PARTITION BY event_type,
        |         date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC)
        |         AS rn_d
        |      FROM events)
        |SELECT event_type, bucket, count(*) AS n,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM e GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,
    // MERGE: both sides reduce to last-event-per-user under the same
    // (tus DESC, event_id DESC) order; FULL OUTER + the three actions.
    "cdc_merge" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |                 epoch_us(ts) AS tus FROM events),
        |t AS (SELECT user_id, value AS t_value FROM (
        |   SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |     ORDER BY tus DESC, event_id DESC) AS rn
        |   FROM e WHERE event_id % 10 <> 0) WHERE rn = 1),
        |s AS (SELECT user_id, event_type AS s_type, value AS s_value FROM (
        |   SELECT user_id, event_type, value, row_number() OVER (
        |     PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |   FROM e WHERE event_id % 10 = 0) WHERE rn = 1)
        |SELECT user_id, coalesce(s_value, t_value) AS value,
        |  CASE WHEN s_value IS NULL THEN 'kept'
        |       WHEN t_value IS NULL THEN 'inserted'
        |       ELSE 'updated' END AS action
        |FROM t FULL OUTER JOIN s USING (user_id)
        |WHERE s_type IS NULL OR s_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    // Record linkage: DuckDB's levenshtein is the exact (unthresholded)
    // distance; the Spark side's thresholded kernel returns the same
    // value on every pair it keeps.
    "link_pairs" ->
      """SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
        |       levenshtein(a.c_name, b.c_name) AS name_dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        | AND a.c_mktsegment = b.c_mktsegment
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY cust_a, cust_b""".stripMargin,
    "link_clusters" ->
      """WITH RECURSIVE
        |e AS (SELECT a.c_custkey AS src, b.c_custkey AS dst
        |      FROM customer a, customer b
        |      WHERE a.c_nationkey = b.c_nationkey
        |        AND a.c_mktsegment = b.c_mktsegment
        |        AND a.c_custkey <> b.c_custkey
        |        AND levenshtein(a.c_name, b.c_name) <= 1),
        |reach(c, r) AS (SELECT c_custkey, c_custkey FROM customer
        |  UNION SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.c),
        |lbl AS (SELECT c AS c_custkey, min(r) AS entity_id
        |        FROM reach GROUP BY c)
        |SELECT c_custkey, entity_id,
        |       count(*) OVER (PARTITION BY entity_id) AS n_members
        |FROM lbl ORDER BY c_custkey""".stripMargin,
    // Same closure, rolled up to one golden record per entity under the
    // registered survivorship rules (arg_min name, max cents).
    "link_golden" ->
      """WITH RECURSIVE
        |e AS (SELECT a.c_custkey AS src, b.c_custkey AS dst
        |      FROM customer a, customer b
        |      WHERE a.c_nationkey = b.c_nationkey
        |        AND a.c_mktsegment = b.c_mktsegment
        |        AND a.c_custkey <> b.c_custkey
        |        AND levenshtein(a.c_name, b.c_name) <= 1),
        |reach(c, r) AS (SELECT c_custkey, c_custkey FROM customer
        |  UNION SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.c),
        |lbl AS (SELECT c AS c_custkey, min(r) AS entity_id
        |        FROM reach GROUP BY c)
        |SELECT l.entity_id, count(*) AS n_members,
        |       arg_min(c.c_name, c.c_custkey) AS canonical_name,
        |       CAST(max(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100
        |            AS BIGINT)) AS BIGINT) AS max_bal_cents,
        |       CAST(sum(c.c_custkey) AS BIGINT) AS sum_keys
        |FROM lbl l JOIN customer c USING (c_custkey)
        |GROUP BY l.entity_id ORDER BY l.entity_id""".stripMargin,
    "q14_sql_subquery" ->
      """SELECT c_mktsegment, COUNT(*) AS n_above
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
        |      (SELECT COUNT(*) FROM customer WHERE c_nationkey = c.c_nationkey)
        |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer
        |       WHERE c_nationkey = c.c_nationkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q15_except" ->
      """SELECT o_orderkey AS orderkey FROM orders
        |EXCEPT SELECT l_orderkey FROM lineitem
        |ORDER BY orderkey""".stripMargin,
    "q16_intersect" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q17_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
        | COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        | COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        | COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        | COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id % 10 ORDER BY user_bucket""".stripMargin,
    "q18_cube" ->
      """SELECT c_mktsegment, n_name AS nation_name, COUNT(*) AS n_cust
        |FROM customer c JOIN nation n ON c_nationkey = n_nationkey
        |GROUP BY CUBE(c_mktsegment, n_name)
        |ORDER BY c_mktsegment NULLS FIRST, nation_name NULLS FIRST""".stripMargin,
    "q19_quantiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_extendedprice, 0.5) AS p50,
        | quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q21_running_window" ->
      """SELECT o_orderkey, o_custkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        | CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price,
        | CAST(LEAD(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS next_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q22_scalar_funcs" ->
      """SELECT o_orderkey,
        | upper(o_orderpriority) AS pri_upper,
        | substring(o_orderpriority, 1, 1) AS pri_code,
        | length(o_orderstatus) AS status_len,
        | concat_ws('|', o_orderstatus, o_orderpriority) AS tag,
        | abs(o_totalprice - 100000.0) AS dist_from_100k,
        | CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
        | CAST(year(o_orderdate) AS BIGINT) AS y,
        | CAST(month(o_orderdate) AS BIGINT) AS m,
        | CAST(day(o_orderdate) AS BIGINT) AS d,
        | list_contains(string_split(o_orderpriority, '-'), 'URGENT') AS is_urgent
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "asof_join" ->
      """SELECT e.event_id, p.event_id AS purchase_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND p.ts <= e.ts
        |ORDER BY e.event_id""".stripMargin,
    "range_join" -> {
      val bands = graft.operators.RangeJoin.valueBands
        .map { case (id, lo, hi) => s"($id, $lo, $hi)" }.mkString(", ")
      s"""WITH bands(band_id, lo, hi) AS (VALUES $bands)
         |SELECT event_id, CAST(band_id AS BIGINT) AS band_id
         |FROM events JOIN bands ON value BETWEEN lo AND hi
         |ORDER BY event_id, band_id""".stripMargin
    },
    "ingest_validate" ->
      """SELECT event_id,
        | (length(event_type) <= 6 AND length(event_type) >= 5
        |  AND regexp_matches(event_type, '^[a-z]+$')
        |  AND event_type IN ('click', 'error', 'purchase', 'view')
        |  AND value >= 10
        |  AND CAST(value AS DECIMAL(18,2)) % CAST(0.01 AS DECIMAL(18,2)) = 0
        |  AND user_id < 40
        |  AND user_id % 3 = 0
        |  AND NOT (user_id % 7 = 0)) AS is_valid
        |FROM events ORDER BY event_id""".stripMargin,
    "ingest_flatten" ->
      """SELECT p_partkey AS prod__key, p_name AS prod__meta__name,
        | CAST(p_size AS BIGINT) AS prod__meta__size,
        | '[' || chr(39) || p_brand || chr(39) || ', ' || chr(39) || p_type || chr(39) || ']' AS tags
        |FROM part ORDER BY prod__key""".stripMargin,
    "singer_pipeline" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS ts,
        | user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
    // Identical oracle to singer_pipeline BY DESIGN: the live DSv2
    // delivery must land exactly the rows the batch pipeline lands.
    "stream_live_ingest" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS ts,
        | user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
    "doc_pipeline" ->
      """WITH ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
        |survivors AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |pairs AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM ts a, ts b
        | WHERE a.doc_id < b.doc_id
        |   AND a.doc_id IN (SELECT doc_id FROM survivors)
        |   AND b.doc_id IN (SELECT doc_id FROM survivors)
        |   AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |       (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9),
        |kept AS (SELECT doc_id FROM survivors
        |         WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs))
        |SELECT d.doc_id, d.lang,
        | len(string_split(d.text, ' ')) AS n_tokens,
        | length(d.text) AS n_chars
        |FROM documents d JOIN kept k ON d.doc_id = k.doc_id
        |WHERE len(string_split(d.text, ' ')) >= 5
        |ORDER BY d.doc_id""".stripMargin,
    "ingest_jsonl" ->
      """SELECT lang, count(*) AS n_docs,
        | count(DISTINCT md5(text)) AS n_distinct,
        | min(md5(text)) AS min_md5, max(md5(text)) AS max_md5,
        | sum(n_chars)::BIGINT AS sum_chars, sum(doc_id)::BIGINT AS sum_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // Same fingerprints, CSV round trip: any quoting/escaping/header/
    // partition-dir/type bug in the round trip flips the hash.
    "ingest_csv" ->
      """SELECT lang, count(*) AS n_docs,
        | count(DISTINCT md5(text)) AS n_distinct,
        | min(md5(text)) AS min_md5, max(md5(text)) AS max_md5,
        | sum(n_chars)::BIGINT AS sum_chars, sum(doc_id)::BIGINT AS sum_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_dupes
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    // The 10x corpus rebuilt in SQL from the SAME per-copy alphabets
    // (Dedup.caesarTo generates both sides); grouping by the translated
    // TEXT vs Spark's xxhash64-of-text is the dedup_exact convention,
    // and min(md5(text)) pins the translated bytes across engines.
    "dedup_exact_10x" -> {
      val values = (0 until 10)
        .map(k => s"($k, '${graft.operators.Dedup.caesarTo(k)}')")
        .mkString(", ")
      s"""WITH shift AS (SELECT max(doc_id) + 1 AS s FROM documents),
         |scaled AS (
         |  SELECT d.doc_id + ks.k * shift.s AS doc_id,
         |         translate(d.text, '${graft.operators.Dedup.caesarFrom}',
         |                   ks.to_s) AS text
         |  FROM documents d
         |  CROSS JOIN (VALUES $values) ks(k, to_s)
         |  CROSS JOIN shift)
         |SELECT min(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dupes,
         | min(md5(text)) AS text_md5
         |FROM scaled GROUP BY text ORDER BY doc_id""".stripMargin
    },
    // Containment over the SAME inline 10x Caesar construction, spelled
    // as the inverted-index join (token-join + count) rather than
    // all-pairs list_intersect: at 10x the all-pairs relation is 25M
    // list intersects, while the token join is bounded by Σ df² — the
    // same candidate bound the Spark prefix filter exploits. Division
    // spelling matches the Spark verify exactly.
    "dedup_contain_10x" -> {
      val values = (0 until 10)
        .map(k => s"($k, '${graft.operators.Dedup.caesarTo(k)}')")
        .mkString(", ")
      s"""WITH shift AS (SELECT max(doc_id) + 1 AS s FROM documents),
         |scaled AS (
         |  SELECT d.doc_id + ks.k * shift.s AS doc_id,
         |         translate(d.text, '${graft.operators.Dedup.caesarFrom}',
         |                   ks.to_s) AS text
         |  FROM documents d
         |  CROSS JOIN (VALUES $values) ks(k, to_s)
         |  CROSS JOIN shift),
         |sz AS (SELECT doc_id, len(list_distinct(string_split(text,' '))) AS sz
         |       FROM scaled),
         |tok AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
         |        FROM scaled),
         |ov AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ov
         |       FROM tok a JOIN tok b USING (tok) GROUP BY 1, 2),
         |p AS (SELECT ov.da AS doc_small, ov.db AS doc_big, ov.ov,
         |             sa.sz AS sz_small
         |      FROM ov
         |      JOIN sz sa ON sa.doc_id = ov.da
         |      JOIN sz sb ON sb.doc_id = ov.db
         |      WHERE sa.sz < sb.sz OR (sa.sz = sb.sz AND ov.da < ov.db))
         |SELECT doc_small, doc_big, CAST(ov AS BIGINT) AS ov,
         |       CAST(sz_small AS BIGINT) AS sz_small,
         |       CAST(ov AS DOUBLE) / sz_small AS containment
         |FROM p WHERE CAST(ov AS DOUBLE) / sz_small >= 0.95
         |ORDER BY doc_small, doc_big""".stripMargin
    },
    // The df-cap gate's whole output pinned as oracle literals (the
    // ann_auto convention): the fixture is generated and deterministic
    // (seed-free Zipf construction, exact percentile, HLL distinct —
    // all partitioning-independent), so decision drift (wrong maxDf
    // from the median-multiple fence, wrong tailDf/coverage, a capped
    // join that stops being a value-identical subset, a covered-side
    // pair lost — the theorem bit) hash-mismatches here. recall is the
    // live n_capped/n_true division on the Spark side and the same
    // IEEE division of literals here; n_covered_true == n_capped on
    // this fixture (every kept pair has a covered small side AND every
    // covered pair is kept — the class decomposition exactly).
    "dedup_contain_capped" ->
      """SELECT CAST(3061 AS BIGINT) AS n_true,
        | CAST(2596 AS BIGINT) AS n_capped,
        | CAST(2596 AS DOUBLE) / 3061 AS recall,
        | true AS capped_subset_of_truth, true AS covered_pairs_kept,
        | CAST(2596 AS BIGINT) AS n_covered_true,
        | 'capped' AS decision, CAST(96 AS BIGINT) AS max_df,
        | CAST(6.21 AS DOUBLE) AS tail_df,
        | CAST(0.9545 AS DOUBLE) AS coverage""".stripMargin,
    // The shingle-width decision REPLAYED end-to-end in SQL (not pinned
    // literals — the r16 upgrade after the sf0.001 bonus sweep): every
    // statistic the engine samples is invariant under its injective
    // gram hash, so DuckDB recomputes the whole decision from gram
    // STRINGS — candidate mass Σ C(df,2) per width 2..8, the
    // smallest-eligible-width argmin (cand_mass < C(n,2)), and the
    // one-substitution robustness over the first 128 docs (sentinel
    // token ⟂ vocabulary; jaccard is identity-invariant) — then the
    // pair count at the DERIVED width. Precondition: at the oracle
    // scale the sampler's mod = max(1, n/512) is 1, so sample ≡
    // corpus (true at sf0.001 and sf0.01; the sf0.1 hash-mod sample
    // is Bench territory, never oracle-compared). Verified replay:
    // (25, true, 3, true, 13985, 124750, 839193) — byte-equal to the
    // engine's hash-space statistics at sf0.01 AND sf0.001.
    "dedup_shingle_auto" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ws AS (SELECT w FROM (VALUES (2),(3),(4),(5),(6),(7),(8)) v(w)),
        |g AS (SELECT w, doc_id, list_distinct(list_transform(
        |        range(1, greatest(len(toks) - w + 1, 1) + 1),
        |        i -> array_to_string(toks[i:i+w-1], chr(31)))) AS gs
        |      FROM t CROSS JOIN ws),
        |d AS (SELECT w, gram, count(*) AS df
        |      FROM (SELECT w, doc_id, unnest(gs) AS gram FROM g) GROUP BY w, gram),
        |cm AS (SELECT w, CAST(sum(df*(df-1)//2) AS BIGINT) AS cand_mass FROM d GROUP BY w),
        |np AS (SELECT CAST(count(*)*(count(*)-1)//2 AS BIGINT) AS pairs FROM documents),
        |ch AS (SELECT min(w) AS width FROM cm, np WHERE cand_mass < pairs),
        |mt AS (SELECT doc_id, toks, list_concat(list_concat(toks[1:len(toks)//2],
        |         [chr(30)||'m']), toks[len(toks)//2+2:len(toks)]) AS mtoks
        |       FROM (SELECT * FROM t ORDER BY doc_id LIMIT 128)),
        |rg AS (SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(toks)-ch.width+1,1)+1),
        |           i -> array_to_string(toks[i:i+ch.width-1], chr(31)))) AS ga,
        |         list_distinct(list_transform(range(1, greatest(len(mtoks)-ch.width+1,1)+1),
        |           i -> array_to_string(mtoks[i:i+ch.width-1], chr(31)))) AS gb
        |       FROM mt, ch),
        |rb AS (SELECT CAST(floor(1e6 * sum(
        |         CAST(len(list_intersect(ga,gb)) AS DOUBLE) /
        |         (len(ga)+len(gb)-len(list_intersect(ga,gb))) ORDER BY doc_id)
        |         / count(*)) AS BIGINT) AS rob FROM rg),
        |pr AS (SELECT count(*) AS n_pairs FROM (
        |         SELECT a.doc_id FROM g a JOIN g b ON a.w = b.w AND a.doc_id < b.doc_id
        |         CROSS JOIN ch
        |         WHERE a.w = ch.width
        |           AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
        |               (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.9))
        |SELECT CAST(pr.n_pairs AS BIGINT) AS n_pairs, true AS auto_equals_manual,
        | CAST(ch.width AS BIGINT) AS width, ch.width IS NOT NULL AS eligible,
        | cm.cand_mass, np.pairs AS sample_pairs, rb.rob AS edit_rob_micro
        |FROM ch, cm, np, rb, pr WHERE cm.w = ch.width""".stripMargin,
    // Character-level duplicated-substring spans (L = 40). The oracle
    // re-derives duplicated L-grams from the raw text (the Spark side
    // carries only xxhash64 anchors — a hash collision cannot hash-match
    // here), merges covering windows with the same lead/lag fold, and
    // left-joins zeros for clean docs. range(0, len-39) = starts
    // 0..len-40, matching Spark's inclusive sequence(0, len-40).
    "dedup_substr" ->
      """WITH docs AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |grams AS (
        |  SELECT d.doc_id, t.p::BIGINT AS p, substr(d.text, t.p::BIGINT + 1, 40) AS g
        |  FROM docs d, unnest(range(0, d.len - 39)) AS t(p)),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |marked AS (
        |  SELECT doc_id, p,
        |         lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt,
        |         lag(p)  OVER (PARTITION BY doc_id ORDER BY p) AS prv
        |  FROM grams JOIN dup USING (g)),
        |per AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN nxt IS NULL THEN 40 ELSE least(nxt - p, 40) END) AS dup_chars,
        |         sum(CASE WHEN prv IS NULL OR p - prv >= 40 THEN 1 ELSE 0 END) AS n_spans
        |  FROM marked GROUP BY doc_id)
        |SELECT d.doc_id, d.len::BIGINT AS n_chars,
        |       coalesce(per.dup_chars, 0)::BIGINT AS dup_chars,
        |       coalesce(per.n_spans, 0)::BIGINT AS n_spans,
        |       coalesce(per.dup_chars, 0)::DOUBLE / d.len AS dup_frac
        |FROM docs d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // ExactSubstr apply: the oracle reassembles each doc's kept
    // characters with an ordered string_agg, pinning the cut text
    // byte-for-byte.
    "curate_substr" ->
      """WITH docs AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |grams AS (
        |  SELECT d.doc_id, t.p::BIGINT AS p, substr(d.text, t.p::BIGINT + 1, 40) AS g
        |  FROM docs d, unnest(range(0, d.len - 39)) AS t(p)),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, p FROM grams JOIN dup USING (g)),
        |cov AS (SELECT DISTINCT h.doc_id, t.cp::BIGINT AS cp
        |        FROM hits h, unnest(range(h.p, h.p + 40)) AS t(cp)),
        |pos AS (SELECT d.doc_id, t.cp::BIGINT AS cp
        |        FROM docs d, unnest(range(0, d.len)) AS t(cp)),
        |kept AS (SELECT p.doc_id, p.cp FROM pos p LEFT JOIN cov c
        |         ON p.doc_id = c.doc_id AND p.cp = c.cp WHERE c.cp IS NULL)
        |SELECT d.doc_id,
        |  coalesce(string_agg(substr(d.text, k.cp + 1, 1), '' ORDER BY k.cp), '') AS text_clean,
        |  count(k.cp)::BIGINT AS n_kept
        |FROM docs d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "dedup_jaccard" ->
      """WITH ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
        |SELECT doc_a, doc_b, jaccard FROM (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |  (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        | FROM ts a, ts b WHERE a.doc_id < b.doc_id) t
        |WHERE jaccard >= 0.85 ORDER BY doc_a, doc_b""".stripMargin,
    // All-pairs containment over distinct token sets, directed small→big
    // (ties by id); same division spelling as the Spark verify.
    "dedup_contain" ->
      """WITH ts AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS toks,
        |                   len(list_distinct(string_split(text,' '))) AS sz
        |            FROM documents)
        |SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
        |       CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS ov,
        |       CAST(a.sz AS BIGINT) AS sz_small,
        |       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)/a.sz
        |         AS containment
        |FROM ts a JOIN ts b
        |  ON (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)/a.sz >= 0.95
        |ORDER BY doc_small, doc_big""".stripMargin,
    // All-pairs with a length prefilter (500 docs at sf0.01); the Spark
    // side's deletion-variant join + prefix/suffix verify must reproduce
    // the same ed<=1 pair set. DuckDB list lambdas are 1-indexed and
    // list_position returns 0 (not NULL) when absent — hence nullif.
    "dedup_edit1" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS n FROM documents),
        |p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |             x.toks ta, y.toks tb, x.n na, y.n nb
        |      FROM t x JOIN t y ON x.doc_id < y.doc_id AND abs(x.n - y.n) <= 1),
        |w AS (SELECT doc_a, doc_b, na, nb,
        |  coalesce(nullif(list_position(list_transform(range(1, least(na,nb)+1),
        |    i -> ta[i] = tb[i]), false), 0) - 1, least(na,nb)) AS pre,
        |  coalesce(nullif(list_position(list_transform(range(1, least(na,nb)+1),
        |    k -> ta[na-k+1] = tb[nb-k+1]), false), 0) - 1, least(na,nb)) AS suf
        |  FROM p),
        |e AS (SELECT doc_a, doc_b, na, nb, pre,
        |             least(suf, na - pre, nb - pre) AS sufe FROM w)
        |SELECT doc_a, doc_b,
        |  CAST(CASE WHEN (na - pre - sufe) = 0 AND (nb - pre - sufe) = 0
        |       THEN 0 ELSE 1 END AS INT) AS edit_ops
        |FROM e
        |WHERE greatest(na - pre - sufe, nb - pre - sufe) <= 1
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Admission semantics by text (the Spark side groups on xxhash64 —
    // pinned equal to text grouping by the exactByHash tests).
    "dedup_incr_exact" ->
      """WITH d AS (SELECT doc_id, text, doc_id % 10 = 0 AS is_new FROM documents),
        |a AS (SELECT text, max(CASE WHEN NOT is_new THEN 1 ELSE 0 END) = 1 AS corpus_has,
        |             min(CASE WHEN is_new THEN doc_id END) AS first_new
        |      FROM d GROUP BY text)
        |SELECT doc_id, NOT corpus_has AND doc_id = first_new AS keep
        |FROM d JOIN a USING (text) WHERE is_new ORDER BY doc_id""".stripMargin,
    // The Bloom path must reproduce the exact path bit-for-bit: false
    // positives only route a row through the exact semi-join, never
    // flip a verdict, and false negatives cannot exist.
    "dedup_incr_bloom" ->
      """WITH d AS (SELECT doc_id, text, doc_id % 10 = 0 AS is_new FROM documents),
        |a AS (SELECT text, max(CASE WHEN NOT is_new THEN 1 ELSE 0 END) = 1 AS corpus_has,
        |             min(CASE WHEN is_new THEN doc_id END) AS first_new
        |      FROM d GROUP BY text)
        |SELECT doc_id, NOT corpus_has AND doc_id = first_new AS keep
        |FROM d JOIN a USING (text) WHERE is_new ORDER BY doc_id""".stripMargin,
    // Incremental = the full pair set restricted to pairs touching the
    // increment (doc_id % 10 = 0); corpus×corpus pairs are excluded by
    // construction on both sides. The SAME SQL checks the recompute path
    // and the persisted-artifact path: prefix ordering (corpus∪increment
    // df vs settled-df artifact) shapes candidates only, never output.
    "dedup_incremental" -> incrementalOracleSql,
    "dedup_incr_artifact" -> incrementalOracleSql,
    // Sequence-level near-dup from gram STRINGS: jaccard over distinct
    // 3-gram shingle sets is invariant to the per-gram hash the Spark
    // side joins on, and the value itself is a ratio of set sizes.
    "dedup_shingle" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |        range(1, greatest(len(toks) - 2, 1) + 1),
        |        i -> array_to_string(toks[i:i+2], ' '))) AS gs
        |      FROM t)
        |SELECT doc_a, doc_b, jaccard FROM (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
        |  (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jaccard
        | FROM g a, g b WHERE a.doc_id < b.doc_id) p
        |WHERE jaccard >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
    // Transitive closure via recursive CTE: reach(d, r) = r reachable
    // from d over near-dup edges; cluster id = min reachable.
    "dedup_cluster" ->
      """WITH RECURSIVE
        |ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
        |e AS (
        | SELECT a.doc_id AS src, b.doc_id AS dst FROM ts a, ts b
        | WHERE a.doc_id <> b.doc_id
        |   AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |       (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.85),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.doc_id)
        |SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // Contamination truth from gram STRINGS — the shared-distinct-gram
    // count is invariant to the per-element hash the Spark side joins on.
    "curate_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, greatest(len(toks) - 2, 1) + 1),
        |        i -> array_to_string(toks[i:i+2], ' ')))) AS gram
        |      FROM t),
        |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0)
        |SELECT doc_id, count(*) AS n_shared_grams
        |FROM g JOIN e USING (gram) WHERE doc_id % 100 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "curate_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, i AS chunk_id,
        | array_to_string(toks[i*64+1:(i+1)*64], ' ') AS chunk_text,
        | len(toks[i*64+1:(i+1)*64]) AS n_chunk_tokens
        |FROM (SELECT doc_id, toks,
        |      unnest(range(0, CAST(ceil(len(toks) / 64.0) AS BIGINT))) AS i FROM t)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "curate_sample" ->
      s"""SELECT doc_id, lang, rk FROM (
         | SELECT doc_id, lang,
         |  ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY ${graft.operators.Curation.lcgKeySql}, doc_id) AS rk
         | FROM documents) t
         |WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    "curate_shuffle" ->
      s"""SELECT doc_id, (${graft.operators.Curation.lcgKeySql}) % 8 AS shard,
         | ROW_NUMBER() OVER (PARTITION BY (${graft.operators.Curation.lcgKeySql}) % 8
         |   ORDER BY ${graft.operators.Curation.lcgKeySql}, doc_id) AS pos
         |FROM documents ORDER BY shard, pos""".stripMargin,
    // URL derivation + the same five normalization rules, applied in
    // the same order; regexes live in the Java-Pattern∩RE2 dialect
    // intersection (the curate_pii convention). DuckDB backreferences
    // are \1-style and its regexp_replace needs 'g' where Spark's
    // replace-all semantics could matter (the utm rule).
    "curate_urlnorm" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
        |  || 'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
        |  || (CASE WHEN doc_id % 3 = 0 THEN ':80'
        |           WHEN doc_id % 3 = 1 THEN ':443' ELSE ':8080' END)
        |  || '/Docs/Page' || CAST(doc_id % 5 AS VARCHAR)
        |  || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 2 = 0
        |        THEN '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR)
        |       WHEN doc_id % 5 = 1
        |        THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_campaign=x'
        |       ELSE '' END)
        |  || (CASE WHEN doc_id % 6 = 0
        |        THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END) AS url
        | FROM documents),
        |n1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS s FROM u),
        |n2 AS (SELECT doc_id, url,
        |        lower(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'))
        |          || substr(s, length(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')) + 1) AS s
        |       FROM n1),
        |n3 AS (SELECT doc_id, url,
        |        regexp_replace(regexp_replace(s,
        |          '^(http://[^/:?#]+):80([/?#].*)?$', '\1\2'),
        |          '^(https://[^/:?#]+):443([/?#].*)?$', '\1\2') AS s FROM n2),
        |n4 AS (SELECT doc_id, url,
        |        regexp_replace(s, '[?&]utm_[^&#]*', '', 'g') AS s FROM n3),
        |n5 AS (SELECT doc_id, url,
        |        regexp_replace(regexp_replace(s, '^([^?&]*)&', '\1?'),
        |          '[?&]$', '') AS s FROM n4),
        |n6 AS (SELECT doc_id, url,
        |        regexp_replace(regexp_replace(s, '/\?', '?'), '/$', '') AS url_norm
        |       FROM n5)
        |SELECT doc_id, url, url_norm,
        | count(*) OVER (PARTITION BY url_norm) AS n_same_norm
        |FROM n6 ORDER BY doc_id""".stripMargin,
    "curate_domaincap" ->
      s"""SELECT doc_id, source, rk FROM (
         | SELECT doc_id, source,
         |  ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY ${graft.operators.Curation.lcgKeySql}, doc_id) AS rk
         | FROM documents) t
         |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    // DSIR affinity truth from bigram STRINGS (hash-invariant counts,
    // same convention as curate_decontaminate); add-one-smoothed
    // target/corpus ratio in integer micro-units.
    "curate_dsir" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, source, unnest(list_transform(range(len(toks) - 1),
        |        i -> toks[i + 1] || ' ' || toks[i + 2])) AS bg
        |      FROM t WHERE len(toks) >= 2),
        |c AS (SELECT bg, count(*) AS c_all,
        |        CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
        |      FROM g GROUP BY bg),
        |w AS (SELECT bg, ((c_tgt + 1) * 1000000) // (c_all + 1) AS w FROM c)
        |SELECT g.doc_id, count(*) AS n_bigrams,
        | CAST(sum(w.w) AS BIGINT) AS affinity_micro
        |FROM g JOIN w USING (bg) GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // Streaming exact dedup: the spool schedules each hash group's lowest
    // doc_id into an earlier micro-batch than its duplicates, so kept =
    // first arrival = min(doc_id) per text.
    "stream_dedup" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY text ORDER BY doc_id""".stripMargin,
    "curate_mix" -> {
      val qs = graft.operators.Curation.mixQuotas
        .map { case (src, n) => s"('$src', $n)" }.mkString(", ")
      s"""WITH q(source, quota) AS (VALUES $qs),
         |r AS (SELECT doc_id, source,
         |       ROW_NUMBER() OVER (PARTITION BY source
         |         ORDER BY ${graft.operators.Curation.lcgKeySql}, doc_id) AS rk
         |      FROM documents)
         |SELECT doc_id, source, rk FROM r JOIN q USING (source)
         |WHERE rk <= quota ORDER BY source, rk""".stripMargin
    },
    // Same histogram spelling: per-score bucket sums, bounded-domain
    // running offset, doc_id-keyed in-bucket cumsum — BIGINT throughout.
    "curate_tokenbudget" ->
      """WITH d AS (SELECT doc_id,
        |        list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
        |      FROM documents),
        |m AS (SELECT doc_id, len(ws) AS n_tokens,
        |       (len(list_distinct(ws)) * 1000000) // len(ws) AS ttr_micro
        |      FROM d WHERE len(ws) > 0),
        |h AS (SELECT ttr_micro, sum(n_tokens) AS bucket_tokens
        |      FROM m GROUP BY ttr_micro),
        |o AS (SELECT ttr_micro, coalesce(sum(bucket_tokens) OVER (
        |        ORDER BY ttr_micro DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS cum_before FROM h),
        |c AS (SELECT m.doc_id, m.n_tokens, m.ttr_micro,
        |        o.cum_before + sum(m.n_tokens) OVER (PARTITION BY m.ttr_micro
        |          ORDER BY m.doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_tokens
        |      FROM m JOIN o USING (ttr_micro))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(ttr_micro AS BIGINT) AS ttr_micro,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 2048
        |ORDER BY ttr_micro DESC, doc_id""".stripMargin,
    // Same expression tree as Curation.temperatureMix: isqrt via
    // correctly-rounded double sqrt (exact for n < 2^52), two exact-
    // integer double divisions — hash-matches with no tolerance.
    "curate_temperature" ->
      """WITH per_src AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(n_docs) AS tot_docs, sum(w) AS tot_w FROM per_src)
        |SELECT source, n_docs, w,
        |  CAST((w * 1000000) // tot_w AS BIGINT) AS share_micro,
        |  CAST((CAST(w AS HUGEINT) * tot_docs * 1000000)
        |    // (CAST(n_docs AS HUGEINT) * tot_w) AS BIGINT) AS boost_micro
        |FROM per_src, tot ORDER BY source""".stripMargin,
    "curate_pack" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |       COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM t)
        |SELECT doc_id, n_tokens,
        | CAST(cum // 256 AS BIGINT) AS pack_id,
        | CAST(cum % 256 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    // Every pack's greedy chain replayed as ONE recursive CTE advancing
    // all packs a step per round (embed_coreset's argmax pattern);
    // integer micro-dots, ties to the smallest doc_id.
    "curate_ctxpack" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |      FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |       COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM t),
        |pk AS (SELECT doc_id, CAST(cum // 256 AS BIGINT) AS pack_id FROM c),
        |mic AS (SELECT vec_id AS doc_id,
        |         list_transform(embedding, x ->
        |           CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        |        FROM embeddings),
        |m AS (SELECT pk.pack_id, pk.doc_id, mic.q FROM pk JOIN mic USING (doc_id)),
        |chain(pack_id, seq, doc_id, dot_prev, sel) AS (
        |  SELECT pack_id, CAST(0 AS BIGINT), min(doc_id), CAST(0 AS BIGINT),
        |         [min(doc_id)]
        |  FROM m GROUP BY pack_id
        |  UNION ALL
        |  SELECT pack_id, seq, nx['d'], nx['dot'], list_append(sel, nx['d'])
        |  FROM (
        |    SELECT c.pack_id, c.seq + 1 AS seq, c.sel,
        |      (SELECT {'d': m2.doc_id,
        |               'dot': CAST(list_sum(list_transform(range(1, len(m2.q) + 1),
        |                        i -> m2.q[i] * mc.q[i])) AS BIGINT)}
        |       FROM m m2, m mc
        |       WHERE mc.pack_id = c.pack_id AND mc.doc_id = c.doc_id
        |         AND m2.pack_id = c.pack_id
        |         AND NOT list_contains(c.sel, m2.doc_id)
        |       ORDER BY list_sum(list_transform(range(1, len(m2.q) + 1),
        |                  i -> m2.q[i] * mc.q[i])) DESC, m2.doc_id
        |       LIMIT 1) AS nx
        |    FROM chain c) s
        |  WHERE nx IS NOT NULL)
        |SELECT pack_id, seq, doc_id, dot_prev FROM chain
        |ORDER BY pack_id, seq""".stripMargin,
    // Full curation chain, stage by stage: quality CASE chain (same
    // thresholds as curate_filter), exact dedup by text among quality
    // survivors, near-dup removal among exact survivors, 3-gram eval
    // decontamination (same gram construction as text_dupgrams), then
    // token accounting on the final set.
    "curate_pipeline" ->
      """WITH w AS (SELECT doc_id, text, lang, string_split(text, ' ') AS words,
        |                  len(string_split(text, ' ')) AS n, length(text) AS c
        |           FROM documents),
        |b AS (SELECT doc_id, text, n,
        |       CAST(c - (n - 1) AS DOUBLE) / n AS mwl,
        |       CAST(len(list_distinct(words)) AS DOUBLE) / n AS ttr,
        |       CAST(list_max(list_transform(list_distinct(words),
        |         w2 -> len(list_filter(words, x -> x = w2)))) AS DOUBLE) / n AS tws,
        |       CASE WHEN n >= 2
        |         THEN CAST((n - 1) - len(list_distinct(list_transform(range(n - 1),
        |           i -> words[i + 1] || ' ' || words[i + 2]))) AS DOUBLE) / (n - 1)
        |         ELSE 0.0 END AS dupf
        |      FROM w),
        |q AS (SELECT doc_id, text FROM b
        |      WHERE NOT (n < 30 OR n > 5000 OR mwl < 3.0 OR mwl > 10.0
        |                 OR ttr < 0.35 OR tws > 0.15 OR dupf > 0.10)),
        |surv AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
        |ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |       FROM documents JOIN surv USING (doc_id)),
        |nd AS (SELECT DISTINCT b2.doc_id FROM ts a, ts b2 WHERE a.doc_id < b2.doc_id
        |       AND CAST(len(list_intersect(a.toks, b2.toks)) AS DOUBLE) /
        |           (len(a.toks) + len(b2.toks) - len(list_intersect(a.toks, b2.toks))) >= 0.9),
        |kept AS (SELECT doc_id FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
        |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |gr AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, greatest(len(toks) - 2, 1) + 1),
        |         i -> array_to_string(toks[i:i+2], ' ')))) AS gs FROM t2),
        |ev AS (SELECT DISTINCT gs FROM gr WHERE doc_id % 100 = 0),
        |cont AS (SELECT DISTINCT doc_id FROM gr JOIN ev USING (gs)
        |         WHERE doc_id % 100 <> 0),
        |fin AS (SELECT doc_id FROM kept WHERE doc_id % 100 <> 0
        |        AND doc_id NOT IN (SELECT doc_id FROM cont))
        |SELECT d.doc_id, d.lang,
        | CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(length(d.text) AS BIGINT) AS n_chars
        |FROM documents d JOIN fin USING (doc_id) ORDER BY doc_id""".stripMargin,
    // The capstone: curate_pipeline's four curation stages (same CTEs),
    // then curate_mix's quota draw over the curated set, curate_pack's
    // running prefix over the mixed set, and curate_shuffle's LCG
    // shard/pos — all seven stages recomputed from raw text in SQL.
    "export_training" -> s"$exportTrainingCtes $exportTrainingSelect ORDER BY shard, pos",
    // Per-shard fingerprints over the SAME seven-stage definition (the
    // CTE chain is shared with export_training so the two can never
    // drift); files_pos_sorted is the literal TRUE — the Spark side
    // computes it from physical file order, gate style.
    "export_shards" -> {
      val rowMd5 = "md5(concat_ws(',', CAST(doc_id AS VARCHAR), source, " +
        "CAST(n_tokens AS VARCHAR), CAST(rk AS VARCHAR), " +
        "CAST(pack_id AS VARCHAR), CAST(pack_offset AS VARCHAR), " +
        "CAST(pos AS VARCHAR)))"
      s"""$exportTrainingCtes,
         |exp AS ($exportTrainingSelect)
         |SELECT shard, count(*) AS n_docs, sum(doc_id)::BIGINT AS sum_ids,
         | min($rowMd5) AS min_md5, max($rowMd5) AS max_md5,
         | max(pos) AS max_pos, true AS files_pos_sorted
         |FROM exp GROUP BY shard ORDER BY shard""".stripMargin
    },    // Same lcgKey spelling as curate_sample/curate_mix (one definition
    // per side, Curation.lcgKey / lcgKeySql).
    // Same recursive-closure cluster construction as dedup_cluster, then
    // the curate_split LCG/thresholds keyed on cluster_id.
    "curate_leaksplit" -> {
      val lcgC = graft.operators.Curation.lcgKeySql
        .replace("doc_id", "cluster_id")
      s"""WITH RECURSIVE
         |ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
         |       FROM documents),
         |e AS (
         | SELECT a.doc_id AS src, b.doc_id AS dst FROM ts a, ts b
         | WHERE a.doc_id <> b.doc_id
         |   AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |       (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.85),
         |reach(doc_id, r) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.doc_id),
         |cl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)
         |SELECT doc_id, cluster_id,
         | CASE WHEN ($lcgC) % 1000 < 900 THEN 'train'
         |      WHEN ($lcgC) % 1000 < 950 THEN 'valid'
         |      ELSE 'test' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin
    },
    // Soft-dedup weights: clusters via the dedup_cluster closure, weight
    // the one correctly-rounded double 1/n both engines compute.
    "curate_softdedup" -> {
      """WITH RECURSIVE
        |ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |       FROM documents),
        |e AS (
        | SELECT a.doc_id AS src, b.doc_id AS dst FROM ts a, ts b
        | WHERE a.doc_id <> b.doc_id
        |   AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |       (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.85),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.doc_id),
        |cl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
        |sz AS (SELECT cluster_id, count(*) AS n_members FROM cl
        |       GROUP BY cluster_id)
        |SELECT cl.doc_id, cl.cluster_id, sz.n_members,
        |       CAST(1.0 AS DOUBLE) / sz.n_members AS weight
        |FROM cl JOIN sz USING (cluster_id) ORDER BY cl.doc_id""".stripMargin
    },
    "curate_split" -> {
      s"""SELECT doc_id, (${graft.operators.Curation.lcgKeySql}) % 1000 AS bucket,
         | CASE WHEN (${graft.operators.Curation.lcgKeySql}) % 1000 < 900 THEN 'train'
         |      WHEN (${graft.operators.Curation.lcgKeySql}) % 1000 < 950 THEN 'valid'
         |      ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // Span removal recomputed from gram STRINGS (hash-invariant: only
    // df >= 2 membership matters); DuckDB list lambdas are 1-indexed vs
    // Spark's 0-indexed filter, hence the i - 1; and DuckDB's
    // array_to_string of an EMPTY list (a fully-covered doc — exact dups
    // exist in the corpus) is NULL where Spark's concat_ws is '', hence
    // the outer COALESCE.
    "curate_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |occ AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+2], ' ') AS gs
        |        FROM t, unnest(range(1, CASE WHEN len(toks) >= 3
        |          THEN len(toks) - 2 ELSE 0 END + 1)) AS u(i)
        |        WHERE len(toks) >= 3),
        |d AS (SELECT gs, count(DISTINCT doc_id) AS df FROM occ GROUP BY gs),
        |cov AS (SELECT DISTINCT occ.doc_id, pos + k AS cp
        |        FROM occ JOIN d USING (gs), unnest(range(0, 3)) AS g2(k)
        |        WHERE df >= 2),
        |cv AS (SELECT doc_id, list(cp ORDER BY cp) AS covered FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        | CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(COALESCE(len(covered), 0) AS BIGINT) AS n_removed,
        | COALESCE(array_to_string(list_filter(toks,
        |   (x, i) -> NOT list_contains(COALESCE(covered, []), i - 1)), ' '), '')
        |   AS cleaned_text
        |FROM t LEFT JOIN cv USING (doc_id) ORDER BY doc_id""".stripMargin,
    // PII derivation spelled identically to Curation.piiDemo; the regexes
    // live in the Java-Pattern/RE2 dialect intersection so both engines
    // agree on every match (triple-quoted Scala keeps backslashes literal).
    "curate_pii" ->
      """WITH p AS (SELECT doc_id, text
        | || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END
        | || CASE WHEN doc_id % 4 = 1 THEN ' backup admin' || CAST(doc_id AS VARCHAR)
        |      || '@host.example.org' ELSE '' END
        | || CASE WHEN doc_id % 2 = 0 THEN ' from ' || CAST(doc_id % 224 + 1 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 100 AS VARCHAR) || '.1' ELSE '' END
        | || CASE WHEN doc_id % 5 = 1 THEN ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        | AS text FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        | CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted_text
        |FROM p ORDER BY doc_id""".stripMargin,
    // Same signal construction as text_gopher's oracle; the CASE chain
    // mirrors Curation.qualityFilter's rule order exactly. Thresholds are
    // literal on both sides; every compared double divides the same
    // integers in both engines, so no epsilon is needed.
    "curate_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words,
        |                  len(string_split(text, ' ')) AS n, length(text) AS c
        |           FROM documents),
        |b AS (SELECT doc_id, n,
        |       CAST(c - (n - 1) AS DOUBLE) / n AS mwl,
        |       CAST(len(list_distinct(words)) AS DOUBLE) / n AS ttr,
        |       CAST(list_max(list_transform(list_distinct(words),
        |         w2 -> len(list_filter(words, x -> x = w2)))) AS DOUBLE) / n AS tws,
        |       CASE WHEN n >= 2
        |         THEN CAST((n - 1) - len(list_distinct(list_transform(range(n - 1),
        |           i -> words[i + 1] || ' ' || words[i + 2]))) AS DOUBLE) / (n - 1)
        |         ELSE 0.0 END AS dupf
        |      FROM w),
        |r AS (SELECT doc_id, n, ttr, tws, dupf,
        |       CASE WHEN n < 30 THEN 'too_short'
        |            WHEN n > 5000 THEN 'too_long'
        |            WHEN mwl < 3.0 OR mwl > 10.0 THEN 'word_shape'
        |            WHEN ttr < 0.35 THEN 'repetitive_types'
        |            WHEN tws > 0.15 THEN 'top_word_dominates'
        |            WHEN dupf > 0.10 THEN 'duplicate_bigrams'
        |            ELSE 'ok' END AS drop_reason
        |      FROM b)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words, ttr,
        | tws AS top_word_share, dupf AS dup_2gram_frac, drop_reason,
        | drop_reason = 'ok' AS kept
        |FROM r ORDER BY doc_id""".stripMargin,
    // Same signal CTEs as curate_filter's oracle; the anneal set is the
    // quality-pass docs with ttr >= 0.5 (threshold literal on both
    // sides; ttr divides the same integers in both engines). epochs:
    // 0 dropped / 1 phase-1 only / 1+3 also in the phase-2 anneal mix.
    "curate_anneal" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words,
        |                  len(string_split(text, ' ')) AS n, length(text) AS c
        |           FROM documents),
        |b AS (SELECT doc_id, n,
        |       CAST(c - (n - 1) AS DOUBLE) / n AS mwl,
        |       CAST(len(list_distinct(words)) AS DOUBLE) / n AS ttr,
        |       CAST(list_max(list_transform(list_distinct(words),
        |         w2 -> len(list_filter(words, x -> x = w2)))) AS DOUBLE) / n AS tws,
        |       CASE WHEN n >= 2
        |         THEN CAST((n - 1) - len(list_distinct(list_transform(range(n - 1),
        |           i -> words[i + 1] || ' ' || words[i + 2]))) AS DOUBLE) / (n - 1)
        |         ELSE 0.0 END AS dupf
        |      FROM w),
        |r AS (SELECT doc_id, ttr,
        |       CASE WHEN n < 30 THEN 'too_short'
        |            WHEN n > 5000 THEN 'too_long'
        |            WHEN mwl < 3.0 OR mwl > 10.0 THEN 'word_shape'
        |            WHEN ttr < 0.35 THEN 'repetitive_types'
        |            WHEN tws > 0.15 THEN 'top_word_dominates'
        |            WHEN dupf > 0.10 THEN 'duplicate_bigrams'
        |            ELSE 'ok' END AS drop_reason
        |      FROM b)
        |SELECT doc_id, ttr, drop_reason = 'ok' AS kept,
        | (drop_reason = 'ok' AND ttr >= 0.5) AS in_anneal,
        | CAST(CASE WHEN drop_reason <> 'ok' THEN 0
        |           WHEN ttr >= 0.5 THEN 4 ELSE 1 END AS BIGINT) AS epochs
        |FROM r ORDER BY doc_id""".stripMargin,
    // The v1/v2 snapshots are deterministic predicates/edits over
    // documents (object doc of Versioning); digest compare stands in for
    // text compare on both sides, so statuses match exactly. sum(doc_id)
    // cast back to BIGINT (DuckDB widens sum to HUGEINT).
    "version_diff" ->
      """WITH v1 AS (SELECT doc_id, source, md5(text) AS h
        |            FROM documents WHERE doc_id % 7 <> 3),
        |v2 AS (SELECT doc_id, source,
        |        md5(CASE WHEN doc_id % 11 = 0 THEN text || ' rev2'
        |                 ELSE text END) AS h
        |       FROM documents WHERE doc_id % 5 <> 2),
        |j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |             COALESCE(v2.source, v1.source) AS source,
        |             CASE WHEN v1.h IS NULL THEN 'added'
        |                  WHEN v2.h IS NULL THEN 'removed'
        |                  WHEN v1.h <> v2.h THEN 'changed'
        |                  ELSE 'unchanged' END AS status
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT status, source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM j GROUP BY status, source ORDER BY status, source""".stripMargin,
    // Delta docs (added/changed in v2) checked against the settled v1
    // TEXT set — the oracle compares texts where Spark compares
    // xxhash64s, so a hash collision cannot silently pass.
    // Reverse-delta categories recomputed from the same deterministic
    // v1/v2 constructions; restore_exact is a pin (both deterministic).
    "version_restore" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END
        |           AS text
        |       FROM documents WHERE doc_id % 5 <> 2)
        |SELECT
        | CAST((SELECT count(*) FROM v2
        |       WHERE doc_id NOT IN (SELECT doc_id FROM v1)) AS BIGINT)
        |   AS n_dropped,
        | CAST((SELECT count(*) FROM v1
        |       WHERE doc_id NOT IN (SELECT doc_id FROM v2)) AS BIGINT)
        |   AS n_readded,
        | CAST((SELECT count(*) FROM v1 a JOIN v2 b USING (doc_id)
        |       WHERE a.text <> b.text) AS BIGINT) AS n_reverted,
        | CAST((SELECT count(*) FROM v1) AS BIGINT) AS n_v1,
        | true AS restore_exact""".stripMargin,
    "version_incr" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
        |v2 AS (SELECT doc_id,
        |        CASE WHEN doc_id % 11 = 0 THEN text || ' rev2'
        |             ELSE text END AS text
        |       FROM documents WHERE doc_id % 5 <> 2),
        |delta AS (
        |  SELECT v2.doc_id,
        |         CASE WHEN v1.doc_id IS NULL THEN 'added'
        |              ELSE 'changed' END AS status,
        |         v2.text
        |  FROM v2 LEFT JOIN v1 ON v2.doc_id = v1.doc_id
        |  WHERE v1.doc_id IS NULL OR v1.text <> v2.text)
        |SELECT d.doc_id, d.status,
        | EXISTS (SELECT 1 FROM v1 WHERE v1.text = d.text) AS dup_of_settled
        |FROM delta d ORDER BY d.doc_id""".stripMargin,
    // File-granularity GC: same v1/v2 rebuild, rolled up to the
    // (source, doc_id % 16) bucket domain; a bucket's v1 file dies when
    // v2 rewrote it (any add/edit/remove inside) or abandoned it.
    // Same v2 construction as version_gc; greedy running-offset packing
    // replayed as a window cumsum (the curate_pack arithmetic).
    "version_compact" ->
      """WITH v2 AS (SELECT doc_id, source, doc_id % 16 AS bucket, n_chars
        |            FROM documents WHERE doc_id % 5 <> 2),
        |files AS (SELECT source, bucket, count(*) AS n_docs,
        |                 sum(n_chars) AS chars
        |          FROM v2 GROUP BY 1, 2),
        |packed AS (SELECT source, bucket, n_docs, chars,
        |    COALESCE(SUM(n_docs) OVER (PARTITION BY source ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM files)
        |SELECT source, CAST(cum_before // 12 AS BIGINT) AS grp,
        |  count(*) AS n_files, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS sum_chars,
        |  CAST(min(bucket) AS BIGINT) AS first_bucket,
        |  CAST(max(bucket) AS BIGINT) AS last_bucket
        |FROM packed GROUP BY 1, 2 ORDER BY source, grp""".stripMargin,
    "version_gc" ->
      """WITH v1 AS (SELECT doc_id, source, doc_id % 16 AS bucket,
        |                   md5(text) AS h
        |            FROM documents WHERE doc_id % 7 <> 3),
        |v2 AS (SELECT doc_id, source, doc_id % 16 AS bucket,
        |        md5(CASE WHEN doc_id % 11 = 0 THEN text || ' rev2'
        |                 ELSE text END) AS h
        |       FROM documents WHERE doc_id % 5 <> 2),
        |j AS (SELECT COALESCE(v2.source, v1.source) AS source,
        |             COALESCE(v2.bucket, v1.bucket) AS bucket,
        |             v1.h IS NOT NULL AS in_v1,
        |             v2.h IS NOT NULL AS in_v2,
        |             (v1.h IS NULL OR v2.h IS NULL OR v1.h <> v2.h) AS touched
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id),
        |f AS (SELECT source, bucket,
        |             bool_or(in_v1) AS f_v1,
        |             bool_or(in_v2) AS f_v2,
        |             (bool_or(in_v2) AND bool_or(touched)) AS rewritten
        |      FROM j GROUP BY source, bucket)
        |SELECT source,
        | CAST(sum(CASE WHEN f_v1 THEN 1 ELSE 0 END) AS BIGINT) AS files_v1,
        | CAST(sum(CASE WHEN rewritten THEN 1 ELSE 0 END) AS BIGINT)
        |   AS files_rewritten,
        | CAST(sum(CASE WHEN f_v1 AND f_v2 AND NOT rewritten THEN 1 ELSE 0 END)
        |   AS BIGINT) AS files_live_v1,
        | CAST(sum(CASE WHEN f_v1 AND (rewritten OR NOT f_v2) THEN 1 ELSE 0 END)
        |   AS BIGINT) AS files_orphaned,
        | CAST(sum(CASE WHEN f_v1 AND (rewritten OR NOT f_v2) THEN bucket
        |              ELSE 0 END) AS BIGINT) AS sum_orphan_bucket
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "text_vocab" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |per AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
        |v AS (SELECT token, CAST(sum(c) AS BIGINT) AS tf,
        |             CAST(count(*) AS BIGINT) AS df FROM per GROUP BY token)
        |SELECT token, tf, df,
        | CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rk
        |FROM v ORDER BY tf DESC, token LIMIT 25""".stripMargin,
    "text_bpe" ->
      """SELECT count(*) AS n_docs, CAST(32 AS BIGINT) AS n_merges,
        | true AS bounds_ok, true AS compressed
        |FROM documents""".stripMargin,
    "text_bpe_dist" ->
      """SELECT count(*) AS n_docs, CAST(256 AS BIGINT) AS n_merges,
        | true AS bounds_ok, true AS compressed
        |FROM documents""".stripMargin,
    "text_wordpiece" ->
      """SELECT count(*) AS n_docs, CAST(48 AS BIGINT) AS n_merges,
        | true AS bounds_ok, true AS compressed
        |FROM documents""".stripMargin,
    "text_unigram" ->
      """SELECT count(*) AS n_docs, CAST(512 AS BIGINT) AS n_pieces,
        | true AS bounds_ok, true AS compressed
        |FROM documents""".stripMargin,
    // PMI rank = rank of the exact-integer ratio c_ab/(c_a*c_b) — both
    // engines divide the same integers, so scores and ranks hash-match
    // without ever computing a log.
    "text_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
        |      FROM t, unnest(range(1, len(toks))) AS u(i)
        |      WHERE len(toks) >= 2),
        |b AS (SELECT w1, w2, count(*) AS c_ab FROM p GROUP BY w1, w2
        |      HAVING count(*) >= 5),
        |ug AS (SELECT unnest(toks) AS w FROM t),
        |u2 AS (SELECT w, count(*) AS c FROM ug GROUP BY w)
        |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
        | CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b,
        | CAST(c_ab AS DOUBLE) / (ua.c * ub.c) AS score,
        | CAST(row_number() OVER (
        |   ORDER BY CAST(c_ab AS DOUBLE) / (ua.c * ub.c) DESC, w1, w2) AS BIGINT) AS rk
        |FROM b JOIN u2 ua ON w1 = ua.w JOIN u2 ub ON w2 = ub.w
        |ORDER BY score DESC, w1, w2 LIMIT 20""".stripMargin,
    "dedup_minhash" ->
      """WITH ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
        |SELECT count(*) AS n_true, true AS recall_ok FROM (
        | SELECT a.doc_id FROM ts a, ts b WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9)""".stripMargin,
    "dedup_simhash" ->
      "SELECT true AS has_pairs, true AS banded_equals_brute",
    "ann_graph" ->
      """SELECT count(*) AS n_exact, true AS recall_ok FROM (
        | SELECT q.vec_id FROM embeddings q, embeddings e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) <= 5)""".stripMargin,
    "ann_lsh" ->
      """SELECT count(*) AS n_exact, true AS recall_ok FROM (
        | SELECT q.vec_id FROM embeddings q, embeddings e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) <= 5)""".stripMargin,
    "ann_ivf" ->
      """SELECT count(*) AS n_exact, true AS recall_ok FROM (
        | SELECT q.vec_id FROM embeddings q, embeddings e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) <= 5)""".stripMargin,
    "ann_pq" ->
      """SELECT count(*) AS n_exact, true AS recall_ok FROM (
        | SELECT q.vec_id FROM embeddings q, embeddings e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) <= 5)""".stripMargin,
    "ann_ivfpq" ->
      """SELECT count(*) AS n_exact, true AS recall_ok FROM (
        | SELECT q.vec_id FROM embeddings q, embeddings e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) <= 5)""".stripMargin,
    // The clustered fixture is GENERATED from the same small-integer
    // formula on both sides (exact double arithmetic -> bit-identical
    // vectors), so the oracle recomputes n_exact from its own brute
    // top-k over vectors it generates itself; recall_ok is the gate
    // literal. 2000 vectors, 64 dims, 32 clusters, 50 queries, k=5.
    "ann_clustered" ->
      """WITH v AS (SELECT i AS vec_id, list_transform(range(64), d ->
        |  CAST(((i % 32) * 37 + d * 101) % 97 - 48
        |     + ((i * 131 + d * 17) % 13 - 6) AS DOUBLE)) AS emb
        | FROM range(2000) t(i))
        |SELECT count(*) AS n_exact, true AS recall_ok,
        | CAST(16 AS BIGINT) AS nlist, CAST(4 AS BIGINT) AS nprobe FROM (
        | SELECT q.vec_id FROM v q, v e
        | WHERE q.vec_id < 50 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.emb, e.emb) DESC, e.vec_id) <= 5)""".stripMargin,
    // Same clustered fixture; n_exact recomputed from the shared
    // formula. The decision columns are the PLANNER'S OUTPUT pinned as
    // oracle literals: the plan is a deterministic function of the
    // generated fixture (seedless sample, exact double arithmetic), so
    // a decision drift — wrong nlist from the sqrt rule, wrong
    // calibrated nprobe, wrong dispatch — hash-mismatches here.
    "ann_auto" ->
      """WITH v AS (SELECT i AS vec_id, list_transform(range(64), d ->
        |  CAST(((i % 32) * 37 + d * 101) % 97 - 48
        |     + ((i * 131 + d * 17) % 13 - 6) AS DOUBLE)) AS emb
        | FROM range(2000) t(i))
        |SELECT count(*) AS n_exact, true AS recall_ok,
        | 'ivf' AS decision, CAST(32 AS BIGINT) AS nlist,
        | CAST(1 AS BIGINT) AS nprobe, true AS brute_dispatch_ok FROM (
        | SELECT q.vec_id FROM v q, v e
        | WHERE q.vec_id < 50 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.emb, e.emb) DESC, e.vec_id) <= 5)""".stripMargin,
    // Same clustered fixture through the ARTIFACT path; n_exact
    // recomputed from the shared formula, serve==fresh equality and
    // recall are live bits, and the PLANNER'S DERIVED POINT is pinned
    // as literals (nlist 32 = sqrtNlist(2000), nprobe 1 = the sample
    // calibration on the 32-planted-cluster fixture, rerank 64 = the
    // probed-pool rule's floor at probed ≈ 2000/32 — deriveRerank,
    // r16).
    "ann_artifact_auto" ->
      """WITH v AS (SELECT i AS vec_id, list_transform(range(64), d ->
        |  CAST(((i % 32) * 37 + d * 101) % 97 - 48
        |     + ((i * 131 + d * 17) % 13 - 6) AS DOUBLE)) AS emb
        | FROM range(2000) t(i))
        |SELECT count(*) AS n_exact, true AS recall_ok,
        | true AS artifact_equals_fresh, CAST(32 AS BIGINT) AS nlist,
        | CAST(1 AS BIGINT) AS nprobe, CAST(64 AS BIGINT) AS rerank FROM (
        | SELECT q.vec_id FROM v q, v e
        | WHERE q.vec_id < 50 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.emb, e.emb) DESC, e.vec_id) <= 5)""".stripMargin,
    // Same clustered fixture; n_exact recomputed from the shared
    // formula, the recall and residual-vs-raw equality bits are the
    // gate's literals (both spec-checked Spark-side).
    "ann_residual" ->
      """WITH v AS (SELECT i AS vec_id, list_transform(range(64), d ->
        |  CAST(((i % 32) * 37 + d * 101) % 97 - 48
        |     + ((i * 131 + d * 17) % 13 - 6) AS DOUBLE)) AS emb
        | FROM range(2000) t(i))
        |SELECT count(*) AS n_exact, true AS recall_ok,
        | true AS residual_equals_raw_at_full_rerank FROM (
        | SELECT q.vec_id FROM v q, v e
        | WHERE q.vec_id < 50 AND e.vec_id <> q.vec_id
        | QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.emb, e.emb) DESC, e.vec_id) <= 5)""".stripMargin,
    "q20_approx_distinct" ->
      """SELECT event_type, true AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "text_subtokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text,
        |   '[^a-zA-Z0-9[:space:]][a-zA-Z0-9]*|[a-zA-Z0-9]+')) AS BIGINT) AS n_subtokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" -> {
      // Same wordlists as TextAnalysis.stopwordProfiles, generated so the
      // oracle can never drift from the operator.
      val values = graft.operators.TextAnalysis.stopwordProfiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l','$w')") }.mkString(", ")
      s"""WITH w(lang_cand, word) AS (VALUES $values),
         |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
         |h AS (SELECT doc_id, lang_cand, count(*) AS hits FROM tok JOIN w USING (word) GROUP BY 1, 2)
         |SELECT doc_id, lang_cand AS predicted_lang, hits FROM h
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_cand) = 1
         |ORDER BY doc_id""".stripMargin
    },
    // The per-span sweep: positional unnest -> 16-word spans -> per-span
    // stopword vote with an 'und' fallback on the full span spine ->
    // islands merge. IS DISTINCT FROM opens a segment on the first span
    // exactly like the Spark side's lag-IS-NULL branch.
    "text_langspans" -> {
      val values = graft.operators.TextAnalysis.stopwordProfiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l','$w')") }.mkString(", ")
      s"""WITH w(lang_cand, word) AS (VALUES $values),
         |tok AS (SELECT doc_id,
         |  unnest(string_split(lower(text), ' ')) AS word,
         |  generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos
         | FROM documents),
         |h AS (SELECT doc_id, pos // 16 AS span, lang_cand, count(*) AS hits
         |  FROM tok JOIN w USING (word) GROUP BY 1, 2, 3),
         |v AS (SELECT doc_id, span, lang_cand AS lang FROM h
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, span
         |    ORDER BY hits DESC, lang_cand) = 1),
         |spine AS (SELECT doc_id, unnest(range(0,
         |    (len(string_split(lower(text), ' ')) - 1) // 16 + 1)) AS span
         |  FROM documents),
         |sl AS (SELECT s.doc_id, s.span, coalesce(v.lang, 'und') AS lang
         |  FROM spine s LEFT JOIN v ON s.doc_id = v.doc_id AND s.span = v.span),
         |c AS (SELECT doc_id, span, lang,
         |  CASE WHEN lag(lang) OVER (PARTITION BY doc_id ORDER BY span)
         |       IS DISTINCT FROM lang THEN 1 ELSE 0 END AS chg FROM sl),
         |g AS (SELECT doc_id, span, lang,
         |  sum(chg) OVER (PARTITION BY doc_id ORDER BY span) AS seg_idx FROM c)
         |SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx, lang,
         |  CAST(min(span) AS BIGINT) AS first_span,
         |  CAST(max(span) AS BIGINT) AS last_span,
         |  CAST(count(*) AS BIGINT) AS n_spans
         |FROM g GROUP BY doc_id, seg_idx, lang
         |ORDER BY doc_id, seg_idx""".stripMargin
    },
    // Same langid vote + the text_subtokens regex; fertility is the
    // integral-div ppm of the same integers on both engines.
    "text_fertility" -> {
      val values = graft.operators.TextAnalysis.stopwordProfiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l','$w')") }.mkString(", ")
      s"""WITH w(lang_cand, word) AS (VALUES $values),
         |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
         |h AS (SELECT doc_id, lang_cand, count(*) AS hits FROM tok JOIN w USING (word) GROUP BY 1, 2),
         |lid AS (SELECT doc_id, lang_cand AS predicted_lang FROM h
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_cand) = 1),
         |cnt AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(text,
         |    '[^a-zA-Z0-9[:space:]][a-zA-Z0-9]*|[a-zA-Z0-9]+')) AS BIGINT) AS n_subtokens
         | FROM documents)
         |SELECT predicted_lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS sum_words,
         |  CAST(sum(n_subtokens) AS BIGINT) AS sum_subtokens,
         |  CAST((sum(n_subtokens) * 1000000) // sum(n_words) AS BIGINT)
         |    AS fertility_ppm
         |FROM lid JOIN cnt USING (doc_id)
         |GROUP BY predicted_lang ORDER BY predicted_lang""".stripMargin
    },
    "text_keyterms" ->
      """WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |            FROM documents),
        |d AS (SELECT token, count(*) AS df FROM tok GROUP BY token)
        |SELECT doc_id, token, df, rk FROM (
        | SELECT doc_id, token, df,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, token) AS rk
        | FROM tok JOIN d USING (token)) t
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // Counts recomputed from word/bigram STRINGS (the Spark side uses
    // injective token/gram hashes — every checked quantity is invariant);
    // ratio columns divide the same integers in both engines.
    // Same regex heuristics + floor divisions, list lambdas for the
    // per-word vowel-run floor — BIGINT end-to-end, hash-exact.
    "text_readability" ->
      """WITH b AS (SELECT doc_id, lower(text) AS t FROM documents),
        |m AS (SELECT doc_id,
        |  greatest(1, len(regexp_extract_all(t, '[.!?]+'))) AS n_sentences,
        |  len(list_filter(string_split(t, ' '), w -> len(w) > 0)) AS n_words,
        |  list_sum(list_transform(list_filter(string_split(t, ' '),
        |      w -> len(w) > 0),
        |    w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
        |    AS n_syllables
        | FROM b)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_syllables AS BIGINT) AS n_syllables,
        |  CAST(206835000 - (1015000 * n_words) // n_sentences
        |       - (84600000 * n_syllables) // n_words AS BIGINT) AS fre_micro
        |FROM m WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    // Hashing trick: both engines parse the identical md5 hex prefix,
    // so bucket ids match exactly (Spark conv(...,16,10) = ::UBIGINT).
    "text_feathash" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |t2 AS (SELECT token,
        |         CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % 64
        |              AS BIGINT) AS bucket
        |       FROM tok WHERE len(token) > 0)
        |SELECT bucket, count(*) AS n_tokens,
        |       count(DISTINCT token) AS n_distinct
        |FROM t2 GROUP BY bucket ORDER BY bucket""".stripMargin,
    "text_gopher" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words,
        |                  len(string_split(text, ' ')) AS n,
        |                  length(text) AS c
        |           FROM documents),
        |b AS (SELECT doc_id, n, c,
        |       len(list_distinct(words)) AS n_types,
        |       list_max(list_transform(list_distinct(words),
        |         w2 -> len(list_filter(words, x -> x = w2)))) AS top_n,
        |       CASE WHEN n >= 2
        |         THEN (n - 1) - len(list_distinct(list_transform(range(n - 1),
        |           i -> words[i + 1] || ' ' || words[i + 2])))
        |         ELSE 0 END AS dup2
        |      FROM w)
        |SELECT doc_id,
        | CAST(n AS BIGINT) AS n_words,
        | CAST(c - (n - 1) AS DOUBLE) / n AS mean_word_len,
        | CAST(n_types AS BIGINT) AS n_types,
        | CAST(n_types AS DOUBLE) / n AS ttr,
        | CAST(top_n AS BIGINT) AS top_word_n,
        | CAST(top_n AS DOUBLE) / n AS top_word_share,
        | CAST(dup2 AS BIGINT) AS n_dup_2grams,
        | CASE WHEN n >= 2 THEN CAST(dup2 AS DOUBLE) / (n - 1)
        |      ELSE 0.0 END AS dup_2gram_frac
        |FROM b ORDER BY doc_id""".stripMargin,
    // Same gram construction as text_fingerprint's oracle (3-grams from
    // strings, short docs padded to one gram) — df >= 2 means the gram
    // occurs in at least one other doc, since grams are per-doc distinct.
    // Top boilerplate strings: rank ties break on the gram text, so the
    // top-k is total-ordered and hash-stable.
    "text_boilerplate" ->
      """WITH docs AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |grams AS (SELECT d.doc_id, substr(d.text, t.p::BIGINT + 1, 40) AS gram
        |          FROM docs d, unnest(range(0, d.len - 39)) AS t(p)),
        |top AS (SELECT gram, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |        FROM grams GROUP BY gram HAVING count(*) >= 2
        |        ORDER BY n_occ DESC, gram LIMIT 20)
        |SELECT row_number() OVER (ORDER BY n_occ DESC, gram)::BIGINT AS rk,
        |       gram, n_occ::BIGINT AS n_occ, n_docs::BIGINT AS n_docs
        |FROM top ORDER BY rk""".stripMargin,
    "text_dupgrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |gr AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, greatest(len(toks) - 2, 1) + 1),
        |         i -> array_to_string(toks[i:i+2], ' ')))) AS gs
        |       FROM t),
        |d AS (SELECT gs, count(*) AS df FROM gr GROUP BY gs)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_grams,
        | CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS shared_frac
        |FROM gr JOIN d USING (gs)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // n_true_pairs recomputes the gate's sequence-level ground truth
    // (3-gram shingle-set jaccard >= 0.9) from gram STRINGS — jaccard over
    // distinct sets is invariant to the per-element hash, so the DuckDB
    // count pins the Spark side's hashed-gram prefix join.
    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |        range(1, greatest(len(toks) - 2, 1) + 1),
        |        i -> array_to_string(toks[i:i+2], ' '))) AS gs
        |      FROM t),
        |p AS (SELECT a.doc_id FROM g a, g b WHERE a.doc_id < b.doc_id
        |      AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
        |          (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.9)
        |SELECT (SELECT count(*) FROM documents) AS n_docs,
        | (SELECT count(*) FROM p) AS n_true_pairs,
        | true AS all_counts_valid,
        | true AS neardup_overlap_ok,
        | true AS exactdup_identical""".stripMargin,
    // Image rows: the engine reports stats of the DECODED PNG raster;
    // the oracle recomputes them from the pixel formula
    // v(x,y) = 32 + ((x + y + doc_id) % 64) over the w×h grid — it never
    // sees a PNG, so agreement proves the encode->store->decode loop.
    // Audio rows: same for the DECODED WAV frames,
    // v(i) = 32 + ((7i + doc_id) % 64) over n = 32 + doc_id % 41
    // samples. Video rows: same for the DECODED GVID frame rasters —
    // frame f of asset id has scene scn = (id + 17f) % 48, dims
    // (4 + scn%5, 3 + scn%4), v(x,y) = 32 + ((x + 2y + 5·scn) % 64);
    // stats fold over all frames, width = frame count, height = 1.
    "multimodal_features" ->
      """WITH g AS (SELECT doc_id, 4 + (doc_id % 13) AS w, 3 + (doc_id % 7) AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |xs AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM g),
        |px AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
        |istats AS (SELECT doc_id, count(*) AS n,
        |            CAST(sum(32 + ((x + y + doc_id) % 64)) AS BIGINT) AS s,
        |            min(32 + ((x + y + doc_id) % 64)) AS mn,
        |            max(32 + ((x + y + doc_id) % 64)) AS mx
        |           FROM px GROUP BY doc_id),
        |apx AS (SELECT doc_id, 32 + ((7 * i + doc_id) % 64) AS v FROM
        |         (SELECT doc_id, unnest(range(0, 32 + doc_id % 41)) AS i
        |          FROM documents WHERE doc_id % 3 = 1)),
        |astats AS (SELECT doc_id, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
        |            min(v) AS mn, max(v) AS mx FROM apx GROUP BY doc_id),
        |vfr AS (SELECT doc_id, unnest(range(0, 4 + doc_id % 9)) AS f
        |        FROM documents WHERE doc_id % 3 = 2),
        |vs1 AS (SELECT doc_id, f, (doc_id + 17 * f) % 48 AS scn FROM vfr),
        |vxs AS (SELECT doc_id, f, scn, 3 + scn % 4 AS h,
        |         unnest(range(0, 4 + scn % 5)) AS x FROM vs1),
        |vpx AS (SELECT doc_id, f, scn, x, 32 + ((x + 2 * y + 5 * scn) % 64) AS v
        |        FROM (SELECT doc_id, f, scn, x, unnest(range(0, h)) AS y FROM vxs)),
        |vstats AS (SELECT doc_id, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
        |            min(v) AS mn, max(v) AS mx FROM vpx GROUP BY doc_id)
        |SELECT d.doc_id AS asset_id,
        | CASE WHEN d.doc_id % 3 = 0 THEN 'image'
        |      WHEN d.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        | CAST(CASE WHEN d.doc_id % 3 = 0 THEN 4 + (d.doc_id % 13)
        |      WHEN d.doc_id % 3 = 1 THEN 32 + (d.doc_id % 41)
        |      ELSE 4 + (d.doc_id % 9) END AS INTEGER) AS width,
        | CAST(CASE WHEN d.doc_id % 3 = 0 THEN 3 + (d.doc_id % 7)
        |      ELSE 1 END AS INTEGER) AS height,
        | COALESCE(i.n, a.n, v.n) AS n_bytes,
        | COALESCE(i.s, a.s, v.s) AS px_sum,
        | CAST(COALESCE(i.mn, a.mn, v.mn) AS INTEGER) AS px_min,
        | CAST(COALESCE(i.mx, a.mx, v.mx) AS INTEGER) AS px_max
        |FROM documents d
        |LEFT JOIN istats i ON i.doc_id = d.doc_id
        |LEFT JOIN astats a ON a.doc_id = d.doc_id
        |LEFT JOIN vstats v ON v.doc_id = d.doc_id
        |ORDER BY asset_id""".stripMargin,
    // The oracle re-derives each SAMPLED frame's decoded raster (scene
    // formula, row-major chr() string) and hashes it — never seeing a
    // GVID container or a PNG, so agreement pins the container parse,
    // the per-frame PNG decode and the stride skip end to end.
    "multimodal_frames" ->
      """WITH v AS (SELECT doc_id AS asset_id,
        |            unnest(range(0, 4 + doc_id % 9, 4)) AS f
        |           FROM documents WHERE doc_id % 3 = 2),
        |s1 AS (SELECT asset_id, f, (asset_id + 17 * f) % 48 AS scn FROM v),
        |xs AS (SELECT asset_id, f, scn, 3 + scn % 4 AS h,
        |        unnest(range(0, 4 + scn % 5)) AS x FROM s1),
        |px AS (SELECT asset_id, f, scn, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT asset_id, f AS frame_idx,
        | sha256(string_agg(chr(CAST(32 + ((x + 2 * y + 5 * scn) % 64) AS INTEGER)),
        |                   '' ORDER BY y, x)) AS frame_sha
        |FROM px GROUP BY asset_id, f
        |ORDER BY asset_id, frame_idx""".stripMargin,
    // aHash rebuilt from the pixel-generation formula (the dupframes
    // stance: decode fidelity is pinned by multimodal_summary's content
    // hashes; here the formula is the oracle's raster), then ALL-PAIRS
    // Hamming <= 3 — the oracle may brute-force what the Spark side
    // reaches through the banded join.
    // Window hashes rebuilt from the sample formula (the dupframes /
    // phash stance); sha over the same 8-byte window byte strings.
    "multimodal_audiofp" ->
      """WITH a AS (SELECT doc_id AS id, CAST(32 + doc_id % 41 AS BIGINT) AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |off AS (SELECT id, unnest(range(0, n - 7)) AS o FROM a),
        |j AS (SELECT id, o, unnest(range(0, 8)) AS jj FROM off),
        |w AS (SELECT id, o,
        |        sha256(string_agg(chr(CAST(32 + (7 * (o + jj) + id) % 64
        |          AS INTEGER)), '' ORDER BY jj)) AS fp
        |      FROM j GROUP BY id, o)
        |SELECT fp AS fp_sha, count(DISTINCT id) AS n_assets,
        |       CAST(count(*) AS BIGINT) AS n_windows
        |FROM w GROUP BY fp HAVING count(DISTINCT id) >= 2
        |ORDER BY fp_sha""".stripMargin,
    "multimodal_phash" ->
      """WITH img AS (SELECT doc_id AS id, CAST(4 + doc_id % 13 AS BIGINT) AS w,
        |                    CAST(3 + doc_id % 7 AS BIGINT) AS h
        |             FROM documents WHERE doc_id % 3 = 0),
        |gi AS (SELECT id, w, h, unnest(range(0, 8)) AS i FROM img),
        |gj AS (SELECT id, w, h, i, unnest(range(0, 8)) AS j FROM gi),
        |px AS (SELECT id, i, j,
        |        32 + ((i * w) // 8 + (j * h) // 8 + id) % 64 AS g FROM gj),
        |tot AS (SELECT id, sum(g) AS s FROM px GROUP BY id),
        |bits AS (SELECT p.id,
        |    sum(CASE WHEN 64 * p.g >= t.s AND p.j * 8 + p.i < 32
        |        THEN (CAST(1 AS BIGINT) << CAST(p.j * 8 + p.i AS INTEGER))
        |        ELSE 0 END) AS lo,
        |    sum(CASE WHEN 64 * p.g >= t.s AND p.j * 8 + p.i >= 32
        |        THEN (CAST(1 AS BIGINT) << CAST(p.j * 8 + p.i - 32 AS INTEGER))
        |        ELSE 0 END) AS hi
        |  FROM px p JOIN tot t USING (id) GROUP BY p.id),
        |pd AS (SELECT a.id AS ia, b.id AS ib
        |       FROM bits a JOIN bits b ON a.id < b.id
        |       WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
        |cnt AS (SELECT id, count(*) AS n FROM
        |         (SELECT ia AS id FROM pd UNION ALL SELECT ib AS id FROM pd)
        |        GROUP BY id)
        |SELECT b.id AS asset_id, CAST(b.lo AS BIGINT) AS ahash_lo,
        |       CAST(b.hi AS BIGINT) AS ahash_hi,
        |       COALESCE(c.n, 0) AS n_neardup
        |FROM bits b LEFT JOIN cnt c ON c.id = b.id
        |ORDER BY asset_id""".stripMargin,
    // Frame-to-frame diff replayed from the generation formula on the
    // canonical 8x8 grid (decode fidelity pinned by multimodal_summary).
    "multimodal_scenes" ->
      """WITH v AS (SELECT doc_id AS asset_id,
        |            unnest(range(0, 4 + doc_id % 9)) AS f
        |           FROM documents WHERE doc_id % 3 = 2),
        |s1 AS (SELECT asset_id, f, (asset_id + 17 * f) % 48 AS scn FROM v),
        |gi AS (SELECT asset_id, f, scn, 4 + scn % 5 AS w, 3 + scn % 4 AS h,
        |        unnest(range(0, 8)) AS i FROM s1),
        |gj AS (SELECT asset_id, f, scn, w, h, i,
        |        unnest(range(0, 8)) AS j FROM gi),
        |px AS (SELECT asset_id, f, i, j,
        |        32 + ((i * w) // 8 + 2 * ((j * h) // 8) + 5 * scn) % 64 AS g
        |       FROM gj),
        |d AS (SELECT a.asset_id, a.f, sum(abs(a.g - b.g)) AS diff_sum
        |      FROM px a JOIN px b ON b.asset_id = a.asset_id
        |                AND b.f = a.f - 1 AND b.i = a.i AND b.j = a.j
        |      WHERE a.f >= 1 GROUP BY a.asset_id, a.f)
        |SELECT asset_id, CAST(f AS BIGINT) AS frame_idx,
        |       CAST(diff_sum AS BIGINT) AS diff_sum,
        |       diff_sum >= 1200 AS is_cut
        |FROM d ORDER BY asset_id, frame_idx""".stripMargin,
    // Shots from the cumulative cut count, keyframe = grid-sum argmax
    // (ties earliest) — all replayed from the generation formula.
    "multimodal_keyframes" ->
      """WITH v AS (SELECT doc_id AS asset_id,
        |            unnest(range(0, 4 + doc_id % 9)) AS f
        |           FROM documents WHERE doc_id % 3 = 2),
        |s1 AS (SELECT asset_id, f, (asset_id + 17 * f) % 48 AS scn FROM v),
        |gi AS (SELECT asset_id, f, scn, 4 + scn % 5 AS w, 3 + scn % 4 AS h,
        |        unnest(range(0, 8)) AS i FROM s1),
        |gj AS (SELECT asset_id, f, scn, w, h, i,
        |        unnest(range(0, 8)) AS j FROM gi),
        |px AS (SELECT asset_id, f, i, j,
        |        32 + ((i * w) // 8 + 2 * ((j * h) // 8) + 5 * scn) % 64 AS g
        |       FROM gj),
        |fs AS (SELECT asset_id, f, sum(g) AS fsum FROM px GROUP BY 1, 2),
        |d AS (SELECT a.asset_id, a.f, sum(abs(a.g - b.g)) AS diff_sum
        |      FROM px a JOIN px b ON b.asset_id = a.asset_id
        |                AND b.f = a.f - 1 AND b.i = a.i AND b.j = a.j
        |      WHERE a.f >= 1 GROUP BY a.asset_id, a.f),
        |sh AS (SELECT fs.asset_id, fs.f, fs.fsum,
        |        SUM(CASE WHEN d.diff_sum >= 1200 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY fs.asset_id ORDER BY fs.f) AS shot
        |       FROM fs LEFT JOIN d ON d.asset_id = fs.asset_id AND d.f = fs.f),
        |rk AS (SELECT asset_id, shot, f, fsum,
        |        ROW_NUMBER() OVER (PARTITION BY asset_id, shot
        |          ORDER BY fsum DESC, f) AS r
        |       FROM sh)
        |SELECT s.asset_id, CAST(s.shot AS BIGINT) AS shot_idx,
        |       CAST(min(s.f) AS BIGINT) AS start_frame,
        |       count(*) AS n_frames,
        |       CAST(max(CASE WHEN rk.r = 1 THEN rk.f END) AS BIGINT)
        |         AS key_frame,
        |       CAST(max(CASE WHEN rk.r = 1 THEN rk.fsum END) AS BIGINT)
        |         AS key_sum
        |FROM sh s JOIN rk ON rk.asset_id = s.asset_id AND rk.shot = s.shot
        |            AND rk.f = s.f
        |GROUP BY s.asset_id, s.shot ORDER BY s.asset_id, shot_idx""".stripMargin,
    // Quiet windows replayed from the sample-generation formula; the
    // islands trick (off - rank constant within a run) gives runs.
    "multimodal_silence" ->
      """WITH a AS (SELECT doc_id AS asset_id, 32 + doc_id % 41 AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |o AS (SELECT asset_id, unnest(range(0, n - 7)) AS off FROM a),
        |w AS (SELECT asset_id, off, unnest(range(0, 8)) AS j FROM o),
        |s AS (SELECT asset_id, off,
        |        32 + (7 * (off + j) + asset_id) % 64 AS v FROM w),
        |r AS (SELECT asset_id, off, max(v) - min(v) AS rng
        |      FROM s GROUP BY 1, 2),
        |q AS (SELECT asset_id, off,
        |        off - ROW_NUMBER() OVER (PARTITION BY asset_id
        |          ORDER BY off) AS grp
        |      FROM r WHERE rng <= 52),
        |runs AS (SELECT asset_id, max(cnt) AS longest FROM
        |          (SELECT asset_id, grp, count(*) AS cnt FROM q
        |           GROUP BY 1, 2) GROUP BY 1)
        |SELECT r.asset_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN rng <= 52 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quiet,
        |  CAST(sum(CASE WHEN rng <= 52 THEN off ELSE 0 END) AS BIGINT)
        |    AS sum_quiet_off,
        |  CAST(COALESCE(max(runs.longest), 0) AS BIGINT)
        |    AS longest_quiet_run
        |FROM r LEFT JOIN runs ON runs.asset_id = r.asset_id
        |GROUP BY r.asset_id ORDER BY r.asset_id""".stripMargin,
    "multimodal_dupframes" ->
      """WITH v AS (SELECT doc_id AS asset_id,
        |            unnest(range(0, 4 + doc_id % 9, 4)) AS f
        |           FROM documents WHERE doc_id % 3 = 2),
        |s1 AS (SELECT asset_id, f, (asset_id + 17 * f) % 48 AS scn FROM v),
        |xs AS (SELECT asset_id, f, scn, 3 + scn % 4 AS h,
        |        unnest(range(0, 4 + scn % 5)) AS x FROM s1),
        |px AS (SELECT asset_id, f, scn, x, unnest(range(0, h)) AS y FROM xs),
        |fr AS (SELECT asset_id,
        |        sha256(string_agg(chr(CAST(32 + ((x + 2 * y + 5 * scn) % 64) AS INTEGER)),
        |                          '' ORDER BY y, x)) AS frame_sha
        |       FROM px GROUP BY asset_id, f)
        |SELECT frame_sha, count(DISTINCT asset_id) AS n_assets,
        |       count(*) AS n_frames
        |FROM fr GROUP BY frame_sha HAVING count(DISTINCT asset_id) >= 2
        |ORDER BY frame_sha""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        | length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_words,
        | CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len,
        | least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) *
        |  (CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' '))
        |         BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35
        |ORDER BY vec_a, vec_b""".stripMargin,
    // SemDeDup truth: same cosine pair relation as dedup_embedding (both
    // directions), transitive closure by recursive reachability, rep =
    // component min — the dedup_cluster oracle pattern on the embedding
    // side.
    "dedup_semantic" ->
      """WITH RECURSIVE
        |e AS (SELECT a.vec_id AS src, b.vec_id AS dst
        |      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35),
        |reach(vec_id, r) AS (
        | SELECT vec_id, vec_id FROM embeddings
        | UNION
        | SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.vec_id)
        |SELECT vec_id, min(r) AS rep_id, min(r) = vec_id AS kept
        |FROM reach GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // Trained k-means lists aren't SQL-expressible (Lloyd iterations), so
    // the gate pins list count/balance/quantization-gain booleans and the
    // oracle recomputes the corpus size (Gates.embedClusterGate).
    "embed_cluster" ->
      """SELECT count(*) AS n_vectors, CAST(16 AS BIGINT) AS n_lists,
        | true AS balance_ok, true AS quant_gain_ok
        |FROM embeddings""".stripMargin,
    // Local clustering structure as exact integers (n_tri, C(deg,2)) —
    // no double division, so rows hash-match; DuckDB integer div is //.
    "graph_clustering" ->
      """WITH p AS (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |      FROM m e1 JOIN m e2 ON e1.v = e2.u
        |                 JOIN m e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT a AS vec_id FROM t UNION ALL SELECT b FROM t
        |      UNION ALL SELECT c FROM t),
        |tc AS (SELECT vec_id, count(*) AS n_triangles FROM n GROUP BY vec_id),
        |dg AS (SELECT vec_id, count(*) AS degree FROM
        |        (SELECT u AS vec_id FROM m UNION ALL SELECT v FROM m)
        |       GROUP BY vec_id)
        |SELECT dg.vec_id, coalesce(tc.n_triangles, 0) AS n_triangles,
        |       degree * (degree - 1) // 2 AS n_wedges
        |FROM dg LEFT JOIN tc ON dg.vec_id = tc.vec_id
        |WHERE degree >= 2 ORDER BY dg.vec_id""".stripMargin,
    // Mutual-kNN triangle counts: rank formulation identical to ann_topk's
    // (list_cosine_similarity + id tiebreak, proven hash-stable cross-engine).
    "graph_triangles" ->
      """WITH p AS (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |      FROM m e1 JOIN m e2 ON e1.v = e2.u
        |                 JOIN m e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT a AS vec_id FROM t UNION ALL SELECT b FROM t
        |      UNION ALL SELECT c FROM t)
        |SELECT vec_id, count(*) AS n_triangles FROM n
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // graph_triangles' oracle plus the pinned artifact-equality flag
    // (both builds deterministic from the same corpus, so `true` is a
    // pin, not an assumption).
    "graph_artifact" ->
      """WITH p AS (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |      FROM m e1 JOIN m e2 ON e1.v = e2.u
        |                 JOIN m e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT a AS vec_id FROM t UNION ALL SELECT b FROM t
        |      UNION ALL SELECT c FROM t)
        |SELECT vec_id, count(*) AS n_triangles,
        |       true AS artifact_equals_fresh FROM n
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // Same m edge CTE as the other graph oracles, then the three integer
    // power steps unrolled (MATERIALIZED: each step references the last,
    // and inlining would re-expand the N² kNN window per step).
    "graph_pagerank" ->
      """WITH p AS MATERIALIZED (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS MATERIALIZED (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS MATERIALIZED (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM m
        |      UNION ALL SELECT v AS src, u AS dst FROM m),
        |dg AS MATERIALIZED (SELECT src, count(*) AS deg FROM adj GROUP BY src),
        |r0 AS MATERIALIZED (SELECT src AS vec_id, CAST(1000000 AS BIGINT) AS pr FROM dg),
        |r1 AS MATERIALIZED (SELECT a.dst AS vec_id,
        |        CAST(150000 + (17 * sum(r.pr // g.deg)) // 20 AS BIGINT) AS pr
        |      FROM adj a JOIN r0 r ON a.src = r.vec_id
        |                 JOIN dg g ON g.src = a.src GROUP BY a.dst),
        |r2 AS MATERIALIZED (SELECT a.dst AS vec_id,
        |        CAST(150000 + (17 * sum(r.pr // g.deg)) // 20 AS BIGINT) AS pr
        |      FROM adj a JOIN r1 r ON a.src = r.vec_id
        |                 JOIN dg g ON g.src = a.src GROUP BY a.dst),
        |r3 AS MATERIALIZED (SELECT a.dst AS vec_id,
        |        CAST(150000 + (17 * sum(r.pr // g.deg)) // 20 AS BIGINT) AS pr
        |      FROM adj a JOIN r2 r ON a.src = r.vec_id
        |                 JOIN dg g ON g.src = a.src GROUP BY a.dst)
        |SELECT vec_id, pr FROM r3 ORDER BY vec_id""".stripMargin,
    // Components of the mutual-kNN graph: same m edge CTE as the other
    // graph oracles, made bidirectional for recursive reachability;
    // component_id = min reachable id, singletons label themselves.
    "graph_components" ->
      """WITH RECURSIVE p AS (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |b AS (SELECT u, v FROM m UNION ALL SELECT v AS u, u AS v FROM m),
        |reach(vec_id, r) AS (
        | SELECT vec_id, vec_id FROM embeddings
        | UNION
        | SELECT b.u, reach.r FROM b JOIN reach ON b.v = reach.vec_id),
        |c AS (SELECT vec_id, min(r) AS component_id FROM reach GROUP BY vec_id),
        |sz AS (SELECT component_id, count(*) AS n_members
        |       FROM c GROUP BY component_id)
        |SELECT c.vec_id, c.component_id, sz.n_members
        |FROM c JOIN sz USING (component_id) ORDER BY c.vec_id""".stripMargin,
    // Same mutual-kNN edge CTEs, then the three synchronous LPA rounds
    // UNROLLED (one join + per-node most-frequent-neighbor-label argmax
    // per round, ties to the smallest label — exactly the Spark loop).
    // k-core: the four peels unrolled as chained survivor CTEs (the
    // pageRank power-step precedent); peel_round from first missing set.
    "graph_kcore" ->
      """WITH p AS MATERIALIZED (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS MATERIALIZED (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM m
        |      UNION ALL SELECT v, u FROM m),
        |s0 AS (SELECT DISTINCT src AS vec_id FROM adj),
        |s1 AS (SELECT a.src AS vec_id FROM adj a JOIN s0 t ON a.dst = t.vec_id
        |       WHERE a.src IN (SELECT vec_id FROM s0)
        |       GROUP BY a.src HAVING count(*) >= 3),
        |s2 AS (SELECT a.src AS vec_id FROM adj a JOIN s1 t ON a.dst = t.vec_id
        |       WHERE a.src IN (SELECT vec_id FROM s1)
        |       GROUP BY a.src HAVING count(*) >= 3),
        |s3 AS (SELECT a.src AS vec_id FROM adj a JOIN s2 t ON a.dst = t.vec_id
        |       WHERE a.src IN (SELECT vec_id FROM s2)
        |       GROUP BY a.src HAVING count(*) >= 3),
        |s4 AS (SELECT a.src AS vec_id FROM adj a JOIN s3 t ON a.dst = t.vec_id
        |       WHERE a.src IN (SELECT vec_id FROM s3)
        |       GROUP BY a.src HAVING count(*) >= 3)
        |SELECT v.vec_id,
        |  CAST(CASE WHEN v.vec_id IN (SELECT vec_id FROM s4) THEN 0
        |       WHEN v.vec_id IN (SELECT vec_id FROM s3) THEN 4
        |       WHEN v.vec_id IN (SELECT vec_id FROM s2) THEN 3
        |       WHEN v.vec_id IN (SELECT vec_id FROM s1) THEN 2
        |       ELSE 1 END AS BIGINT) AS peel_round,
        |  v.vec_id IN (SELECT vec_id FROM s4) AS in_core
        |FROM s0 v ORDER BY vec_id""".stripMargin,
    // Link prediction: wedge join minus existing edges, per-node argmax
    // by (common neighbors, exact-integer Jaccard, id).
    "graph_linkpred" ->
      """WITH p AS MATERIALIZED (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS MATERIALIZED (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM m
        |      UNION ALL SELECT v, u FROM m),
        |dg AS (SELECT src, count(*) AS deg FROM adj GROUP BY src),
        |cn AS (SELECT a1.src AS u, a2.dst AS w, count(*) AS n_common
        |       FROM adj a1 JOIN adj a2 ON a1.dst = a2.src
        |       WHERE a1.src <> a2.dst
        |         AND NOT EXISTS (SELECT 1 FROM adj x
        |                         WHERE x.src = a1.src AND x.dst = a2.dst)
        |       GROUP BY a1.src, a2.dst),
        |sc AS (SELECT cn.u, cn.w, cn.n_common,
        |        (1000000 * cn.n_common) // (du.deg + dw.deg - cn.n_common)
        |          AS jacc_micro,
        |        ROW_NUMBER() OVER (PARTITION BY cn.u
        |          ORDER BY cn.n_common DESC,
        |            (1000000 * cn.n_common) // (du.deg + dw.deg - cn.n_common)
        |              DESC, cn.w) AS rk
        |       FROM cn JOIN dg du ON du.src = cn.u
        |               JOIN dg dw ON dw.src = cn.w)
        |SELECT u AS vec_id, w AS pred, CAST(n_common AS BIGINT) AS n_common,
        |       CAST(jacc_micro AS BIGINT) AS jacc_micro
        |FROM sc WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    "graph_lpa" ->
      """WITH p AS (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |b AS (SELECT u, v FROM m UNION ALL SELECT v AS u, u AS v FROM m),
        |l0 AS (SELECT DISTINCT u AS node, u AS lab FROM b),
        |l1 AS (SELECT node, lab FROM (
        |  SELECT e.u AS node, l.lab, count(*) AS c,
        |    ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY count(*) DESC, l.lab) AS rk
        |  FROM b e JOIN l0 l ON l.node = e.v GROUP BY e.u, l.lab) WHERE rk = 1),
        |l2 AS (SELECT node, lab FROM (
        |  SELECT e.u AS node, l.lab, count(*) AS c,
        |    ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY count(*) DESC, l.lab) AS rk
        |  FROM b e JOIN l1 l ON l.node = e.v GROUP BY e.u, l.lab) WHERE rk = 1),
        |l3 AS (SELECT node, lab FROM (
        |  SELECT e.u AS node, l.lab, count(*) AS c,
        |    ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY count(*) DESC, l.lab) AS rk
        |  FROM b e JOIN l2 l ON l.node = e.v GROUP BY e.u, l.lab) WHERE rk = 1),
        |sz AS (SELECT lab, count(*) AS n_members FROM l3 GROUP BY lab)
        |SELECT l3.node AS vec_id, l3.lab AS community, sz.n_members
        |FROM l3 JOIN sz USING (lab) ORDER BY vec_id""".stripMargin,
    // Same LPA rounds, rolled to per-community modularity contributions
    // in exact HUGEINT-backed decimals.
    "graph_modularity" ->
      """WITH p AS (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |b AS (SELECT u, v FROM m UNION ALL SELECT v AS u, u AS v FROM m),
        |l0 AS (SELECT DISTINCT u AS node, u AS lab FROM b),
        |l1 AS (SELECT node, lab FROM (
        |  SELECT e.u AS node, l.lab, count(*) AS c,
        |    ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY count(*) DESC, l.lab) AS rk
        |  FROM b e JOIN l0 l ON l.node = e.v GROUP BY e.u, l.lab) WHERE rk = 1),
        |l2 AS (SELECT node, lab FROM (
        |  SELECT e.u AS node, l.lab, count(*) AS c,
        |    ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY count(*) DESC, l.lab) AS rk
        |  FROM b e JOIN l1 l ON l.node = e.v GROUP BY e.u, l.lab) WHERE rk = 1),
        |l3 AS (SELECT node, lab FROM (
        |  SELECT e.u AS node, l.lab, count(*) AS c,
        |    ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY count(*) DESC, l.lab) AS rk
        |  FROM b e JOIN l2 l ON l.node = e.v GROUP BY e.u, l.lab) WHERE rk = 1),
        |sz AS (SELECT lab AS community, count(*) AS n_members FROM l3
        |       GROUP BY lab),
        |mt AS (SELECT count(*) AS m FROM m),
        |ie AS (SELECT lu.lab AS community, count(*) AS intra_edges
        |       FROM m JOIN l3 lu ON lu.node = m.u
        |              JOIN l3 lv ON lv.node = m.v
        |       WHERE lu.lab = lv.lab GROUP BY lu.lab),
        |dg AS (SELECT l3.lab AS community, count(*) AS degree_sum
        |       FROM b JOIN l3 ON l3.node = b.u GROUP BY l3.lab)
        |SELECT sz.community, sz.n_members,
        |       COALESCE(ie.intra_edges, 0) AS intra_edges, dg.degree_sum,
        |       CAST(4 * mt.m * COALESCE(ie.intra_edges, 0)
        |            - CAST(dg.degree_sum AS HUGEINT) * dg.degree_sum
        |            AS BIGINT) AS q_num,
        |       CAST(4 * CAST(mt.m AS HUGEINT) * mt.m AS BIGINT)
        |         AS q_den
        |FROM sz LEFT JOIN ie USING (community) JOIN dg USING (community)
        |CROSS JOIN mt ORDER BY community""".stripMargin,
    // Same mutual-kNN edge construction as graph_components, then the
    // identical per-level-DISTINCT recursive BFS the Spark side runs
    // (UNION-dedup is unsupported in Spark's recursive CTEs, so both
    // engines expand the frontier with DISTINCT and collapse re-visits
    // with min(hop)).
    "graph_bfs" ->
      """WITH RECURSIVE p AS (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |b AS (SELECT u, v FROM m UNION ALL SELECT v AS u, u AS v FROM m),
        |seed AS (SELECT u AS vec_id FROM b GROUP BY u
        |         ORDER BY count(*) DESC, u LIMIT 1),
        |walk(vec_id, hop) AS (
        |  SELECT vec_id, CAST(0 AS BIGINT) AS hop FROM seed
        |  UNION ALL
        |  SELECT DISTINCT b.v, walk.hop + 1 FROM b JOIN walk ON b.u = walk.vec_id
        |  WHERE walk.hop < 6)
        |SELECT vec_id, min(hop) AS hop FROM walk
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // The maintained edge set is bit-identical to the full build, so its
    // oracle is the mutual-kNN pair SQL itself; the flag is the pinned
    // deterministic equality (both sides deterministic, so `true` is a
    // pin, not a sample — the annArtifact/bitext precedent).
    "graph_incr_artifact" ->
      """WITH p AS (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5)
        |SELECT d1.src AS u, d1.dst AS v, true AS maintained_equals_full
        |FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |WHERE d1.src < d1.dst
        |ORDER BY u, v""".stripMargin,
    // Identical traversal semantics (shortest hop = min over all walks),
    // so the frontier-subtracted Spark loop shares graph_bfs's oracle:
    // subtracting visited nodes never changes any node's min(hop).
    "graph_bfs_frontier" ->
      """WITH RECURSIVE p AS (
        | SELECT q.vec_id AS src, e.vec_id AS dst,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rk
        | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
        |d AS (SELECT src, dst FROM p WHERE rk <= 5),
        |m AS (SELECT d1.src AS u, d1.dst AS v
        |      FROM d d1 JOIN d d2 ON d1.src = d2.dst AND d1.dst = d2.src
        |      WHERE d1.src < d1.dst),
        |b AS (SELECT u, v FROM m UNION ALL SELECT v AS u, u AS v FROM m),
        |seed AS (SELECT u AS vec_id FROM b GROUP BY u
        |         ORDER BY count(*) DESC, u LIMIT 1),
        |walk(vec_id, hop) AS (
        |  SELECT vec_id, CAST(0 AS BIGINT) AS hop FROM seed
        |  UNION ALL
        |  SELECT DISTINCT b.v, walk.hop + 1 FROM b JOIN walk ON b.u = walk.vec_id
        |  WHERE walk.hop < 6)
        |SELECT vec_id, min(hop) AS hop FROM walk
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // Exact cross-language top-1 per bounded query; ivf_ok is the gated
    // scale-leg agreement (deterministic, so `true` is a pin).
    "mine_bitext" ->
      """WITH q AS (SELECT e.vec_id AS qid, e.embedding AS qv, d.lang AS qlang
        |           FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        |           WHERE e.vec_id < 50),
        |c AS (SELECT q.qid AS query_id, e.vec_id AS match_id,
        |        d.lang AS match_lang,
        |        ROW_NUMBER() OVER (PARTITION BY q.qid
        |          ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
        |                   e.vec_id) AS rk
        |      FROM q JOIN embeddings e ON e.vec_id <> q.qid
        |      JOIN documents d ON d.doc_id = e.vec_id
        |      WHERE d.lang <> q.qlang)
        |SELECT query_id, match_id, match_lang, true AS ivf_ok
        |FROM c WHERE rk = 1 ORDER BY query_id""".stripMargin,
    "ann_filtered" ->
      """SELECT query_id, neighbor_id, rank FROM (
        | SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rank
        | FROM embeddings q, embeddings e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id AND e.label <> q.label) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_topk" ->
      """SELECT query_id, neighbor_id, rank FROM (
        | SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rank
        | FROM embeddings q, embeddings e
        | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "mine_hardnegatives" ->
      """WITH ranked AS (
        | SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(q.embedding, e.embedding) AS cosine,
        |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rank
        | FROM embeddings q, embeddings e
        | WHERE q.vec_id < 50 AND e.vec_id <> q.vec_id),
        |top AS (SELECT * FROM ranked WHERE rank <= 64),
        |pos AS (SELECT query_id, neighbor_id AS pos_id FROM top WHERE rank = 1),
        |negs AS (SELECT query_id, neighbor_id AS neg_id,
        |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank) AS neg_rank
        |         FROM top WHERE rank >= 2 AND cosine < 0.35)
        |SELECT p.query_id, p.pos_id, n.neg_id, n.neg_rank
        |FROM pos p JOIN negs n USING (query_id)
        |WHERE n.neg_rank <= 3
        |ORDER BY query_id, neg_rank""".stripMargin,
    // The eigensolve is not SQL-expressible; the oracle recomputes the
    // engine-exact integer anchors (n and trace_num over floor(x*1000)
    // fixed-point values) and the booleans are Spark-side gate results
    // (ann_clustered precedent).
    "embed_pca" ->
      """WITH e AS (SELECT CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS dim,
        |                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS xi
        |           FROM embeddings),
        |a AS (SELECT dim, sum(xi * xi) AS s2, sum(xi) AS s1, count(*) AS n
        |      FROM e GROUP BY dim),
        |t AS (SELECT CAST(sum(n * s2 - s1 * s1) AS BIGINT) AS trace_num,
        |             CAST(max(n) AS BIGINT) AS n FROM a),
        |c AS (SELECT CAST(unnest(range(1, 9)) AS BIGINT) AS comp)
        |SELECT comp, n, trace_num, true AS eig_sum_ok, true AS ortho_ok,
        |       true AS monotone_ok, true AS var_match_ok
        |FROM c, t ORDER BY comp""".stripMargin,
    // Same association order as the Spark side everywhere a double op
    // appears (x*127/amax + 0.5; q*amax/127; |x-deq|*1e9), floor(v+0.5)
    // pinning round-half-up in both engines; all sums integer.
    "embed_quantize" ->
      """WITH e AS (SELECT CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS dim,
        |                  CAST(unnest(embedding) AS DOUBLE) AS x
        |           FROM embeddings),
        |a AS (SELECT dim, max(abs(x)) AS amax FROM e GROUP BY dim),
        |q AS (SELECT e.dim, a.amax, e.x,
        |       CASE WHEN a.amax > 0 THEN CAST(greatest(-127.0, least(127.0,
        |         floor(e.x * 127.0 / a.amax + 0.5))) AS BIGINT)
        |       ELSE 0 END AS q
        |      FROM e JOIN a USING (dim))
        |SELECT dim, amax, count(*) AS n,
        |  CAST(sum(q) AS BIGINT) AS sum_q,
        |  CAST(sum(q * q) AS BIGINT) AS sum_q2,
        |  CAST(sum(CAST(floor(abs(x - CAST(q AS DOUBLE) * amax / 127.0) * 1e9) AS BIGINT)) AS BIGINT) AS err_nano_sum,
        |  CAST(sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat
        |FROM q GROUP BY dim, amax ORDER BY dim""".stripMargin,
    // The identical greedy loop replayed sequentially: a recursive CTE
    // carries the selected-id list, each level appends the argmin of
    // max-cosine-to-selected (ties -> smallest vec_id), seeded at
    // min(vec_id) — the sequential dependence SQL can only express
    // recursively, which is exactly what pins the Spark driver loop.
    // Exact integer dots over the micro-quantized coordinates; the
    // cosine rank is the one correctly-rounded double ratio (rank-only).
    "ann_mips" ->
      """WITH e AS (SELECT vec_id,
        |        CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS idx,
        |        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
        |             AS BIGINT) AS qi
        |      FROM embeddings),
        |n2 AS (SELECT vec_id, sum(qi * qi) AS norm2 FROM e GROUP BY vec_id),
        |qe AS (SELECT vec_id AS qid, idx, qi AS qv FROM e
        |       WHERE vec_id % 53 = 0),
        |d AS (SELECT qe.qid AS query_id, e.vec_id, sum(e.qi * qe.qv) AS dot_num
        |      FROM e JOIN qe ON qe.idx = e.idx AND e.vec_id <> qe.qid
        |      GROUP BY qe.qid, e.vec_id),
        |r AS (SELECT d.query_id, d.vec_id, d.dot_num,
        |       ROW_NUMBER() OVER (PARTITION BY d.query_id
        |         ORDER BY d.dot_num DESC, d.vec_id) AS rk,
        |       ROW_NUMBER() OVER (PARTITION BY d.query_id
        |         ORDER BY CAST(d.dot_num AS DOUBLE) /
        |           sqrt(CAST(n2.norm2 AS DOUBLE)) DESC, d.vec_id) AS cos_rk
        |      FROM d JOIN n2 ON n2.vec_id = d.vec_id)
        |SELECT query_id, rk, vec_id, CAST(dot_num AS BIGINT) AS dot_num,
        |       cos_rk
        |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // Sign-bit signatures: the HUGEINT shifted sum wraps explicitly into
    // the BIGINT two's-complement value Spark's shiftleft produces.
    "embed_binary" ->
      """WITH sigs AS (
        |  SELECT vec_id,
        |    CAST(CASE WHEN s >= 9223372036854775808
        |         THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS sig
        |  FROM (SELECT vec_id,
        |          sum(CASE WHEN b THEN (1::HUGEINT << CAST(idx AS INTEGER))
        |              ELSE 0 END) AS s
        |        FROM (SELECT vec_id,
        |                CAST(unnest(range(0, 64)) AS BIGINT) AS idx,
        |                unnest(list_transform(embedding, x -> x >= 0)) AS b
        |              FROM embeddings)
        |        GROUP BY vec_id)),
        |qs AS (SELECT vec_id AS query_id, sig AS qsig FROM sigs
        |       WHERE vec_id % 53 = 0),
        |qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |       WHERE vec_id % 53 = 0),
        |ham AS (SELECT q.query_id, s.vec_id,
        |          bit_count(xor(q.qsig, s.sig)) AS hamm,
        |          ROW_NUMBER() OVER (PARTITION BY q.query_id
        |            ORDER BY bit_count(xor(q.qsig, s.sig)), s.vec_id) AS rk
        |        FROM qs q JOIN sigs s ON s.vec_id <> q.query_id),
        |cos AS (SELECT q.query_id, e.vec_id,
        |          ROW_NUMBER() OVER (PARTITION BY q.query_id
        |            ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC,
        |              e.vec_id) AS crk
        |        FROM qv q JOIN embeddings e ON e.vec_id <> q.query_id)
        |SELECT h.query_id, CAST(h.rk AS BIGINT) AS rk, h.vec_id,
        |       CAST(h.hamm AS BIGINT) AS hamm,
        |       (c.crk IS NOT NULL AND c.crk <= 5) AS cos_hit
        |FROM ham h LEFT JOIN cos c
        |  ON c.query_id = h.query_id AND c.vec_id = h.vec_id
        |WHERE h.rk <= 5 ORDER BY h.query_id, h.rk""".stripMargin,
    // Prefix-16 integer dots rank (the one correctly-rounded double
    // ratio); full-dim cosine membership via list_cosine_similarity.
    "embed_matryoshka" ->
      """WITH e AS (SELECT vec_id,
        |        CAST(unnest(range(1, 17)) AS BIGINT) AS idx,
        |        CAST(floor(CAST(unnest(embedding[1:16]) AS DOUBLE) * 1000.0)
        |             AS BIGINT) AS qi
        |      FROM embeddings),
        |n2 AS (SELECT vec_id, sum(qi * qi) AS norm16 FROM e GROUP BY vec_id),
        |qe AS (SELECT vec_id AS qid, idx, qi AS qv FROM e
        |       WHERE vec_id % 53 = 0),
        |d AS (SELECT qe.qid AS query_id, e.vec_id, sum(e.qi * qe.qv) AS dot16
        |      FROM e JOIN qe ON qe.idx = e.idx AND e.vec_id <> qe.qid
        |      GROUP BY qe.qid, e.vec_id),
        |r AS (SELECT d.query_id, d.vec_id, d.dot16,
        |       ROW_NUMBER() OVER (PARTITION BY d.query_id
        |         ORDER BY CAST(d.dot16 AS DOUBLE) /
        |           sqrt(CAST(n2.norm16 AS DOUBLE)) DESC, d.vec_id) AS rk
        |      FROM d JOIN n2 ON n2.vec_id = d.vec_id),
        |qv AS (SELECT vec_id AS query_id, embedding AS qe2 FROM embeddings
        |       WHERE vec_id % 53 = 0),
        |cos AS (SELECT q.query_id, x.vec_id,
        |          ROW_NUMBER() OVER (PARTITION BY q.query_id
        |            ORDER BY list_cosine_similarity(q.qe2, x.embedding) DESC,
        |              x.vec_id) AS crk
        |        FROM qv q JOIN embeddings x ON x.vec_id <> q.query_id)
        |SELECT r.query_id, CAST(r.rk AS BIGINT) AS rk, r.vec_id,
        |       CAST(r.dot16 AS BIGINT) AS dot16,
        |       (c.crk IS NOT NULL AND c.crk <= 5) AS cos_hit
        |FROM r LEFT JOIN cos c
        |  ON c.query_id = r.query_id AND c.vec_id = r.vec_id
        |WHERE r.rk <= 5 ORDER BY r.query_id, r.rk""".stripMargin,
    // Per-label outliers: exact integer sum-vector dots (the embed_pca
    // micro-quantization), one correctly-rounded double ratio for rank.
    "embed_outlier" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |        CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS idx,
        |        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
        |             AS BIGINT) AS qi
        |      FROM embeddings),
        |sv AS (SELECT label, idx, sum(qi) AS sv FROM e GROUP BY label, idx),
        |dots AS (SELECT e.vec_id, e.label, sum(e.qi * sv.sv) AS dot_num,
        |                sum(e.qi * e.qi) AS norm2
        |         FROM e JOIN sv ON sv.label = e.label AND sv.idx = e.idx
        |         GROUP BY e.vec_id, e.label),
        |rk AS (SELECT label, vec_id, dot_num,
        |         ROW_NUMBER() OVER (PARTITION BY label
        |           ORDER BY CAST(dot_num AS DOUBLE) /
        |             sqrt(CAST(norm2 AS DOUBLE)) ASC, vec_id) AS rk
        |       FROM dots)
        |SELECT label, rk, vec_id, CAST(dot_num AS BIGINT) AS dot_num
        |FROM rk WHERE rk <= 3 ORDER BY label, rk""".stripMargin,
    // Per-source integer sum-vectors, all source-pair cosines — the one
    // correctly-rounded double ratio of exact integer moments.
    "embed_domains" ->
      """WITH m AS (SELECT e.vec_id AS doc_id, d.source,
        |        CAST(unnest(range(1, len(e.embedding) + 1)) AS BIGINT) AS idx,
        |        CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1000.0)
        |             AS BIGINT) AS qi
        |      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        |sums AS (SELECT source, idx, sum(qi) AS sq FROM m
        |         GROUP BY source, idx),
        |n2 AS (SELECT source, sum(sq * sq) AS n2 FROM sums GROUP BY source),
        |d2 AS (SELECT a.source AS src_a, b.source AS src_b,
        |        sum(a.sq * b.sq) AS dot
        |       FROM sums a JOIN sums b
        |         ON a.idx = b.idx AND a.source < b.source
        |       GROUP BY a.source, b.source)
        |SELECT d2.src_a, d2.src_b, CAST(d2.dot AS BIGINT) AS dot_num,
        |       CAST(d2.dot AS DOUBLE) /
        |         (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
        |         AS cosine
        |FROM d2 JOIN n2 x ON x.source = d2.src_a
        |        JOIN n2 y ON y.source = d2.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "embed_coreset" ->
      """WITH RECURSIVE sel(step, ids) AS (
        |  SELECT 1, [(SELECT min(vec_id) FROM embeddings)]
        |  UNION ALL
        |  SELECT step + 1, list_append(ids, (
        |    SELECT e.vec_id FROM embeddings e
        |    WHERE NOT list_contains(sel.ids, e.vec_id)
        |    ORDER BY (SELECT max(list_cosine_similarity(e.embedding, s.embedding))
        |              FROM embeddings s WHERE list_contains(sel.ids, s.vec_id)) ASC,
        |             e.vec_id
        |    LIMIT 1))
        |  FROM sel WHERE step < 16),
        |f AS (SELECT ids FROM sel WHERE step = 16),
        |u AS (SELECT unnest(ids) AS vec_id, generate_subscripts(ids, 1) AS rk
        |      FROM f)
        |SELECT CAST(rk AS BIGINT) AS rk, vec_id FROM u ORDER BY rk""".stripMargin,
    // Image/audio rows: n_bytes/sha/width are of the DECODED content
    // (raster in row-major (y, x) order / PCM frames in sample order),
    // which the oracle rebuilds as a byte string with chr()/string_agg
    // and hashes — the PNG, WAV and GVID round-trip pins. Video: the
    // concatenated decoded frame rasters in (frame, row, col) order.
    "multimodal_resize" ->
      """WITH g AS (SELECT doc_id, 4 + (doc_id % 13) AS w, 3 + (doc_id % 7) AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, 3)) AS x FROM g),
        |px AS (SELECT doc_id, w, h, x, unnest(range(0, 2)) AS y FROM xs),
        |v AS (SELECT doc_id, w, h, x, y,
        |        32 + (((x * w) // 3) + ((y * h) // 2) + doc_id) % 64 AS val
        |      FROM px),
        |r AS (SELECT doc_id, w, h,
        |        sha256(string_agg(chr(val::INT), '' ORDER BY y, x)) AS resized_sha256,
        |        sum(val)::BIGINT AS px_sum
        |      FROM v GROUP BY doc_id, w, h)
        |SELECT doc_id AS asset_id, w::BIGINT AS src_w, h::BIGINT AS src_h,
        |       3::BIGINT AS width, 2::BIGINT AS height, px_sum, resized_sha256
        |FROM r ORDER BY asset_id""".stripMargin,
    "multimodal_summary" ->
      """WITH g AS (SELECT doc_id, 4 + (doc_id % 13) AS w, 3 + (doc_id % 7) AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |xs AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM g),
        |px AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
        |isha AS (SELECT doc_id, count(*) AS n,
        |          sha256(string_agg(chr(CAST(32 + ((x + y + doc_id) % 64) AS INTEGER)),
        |                            '' ORDER BY y, x)) AS sha
        |         FROM px GROUP BY doc_id),
        |asha AS (SELECT doc_id, count(*) AS n,
        |          sha256(string_agg(chr(CAST(32 + ((7 * i + doc_id) % 64) AS INTEGER)),
        |                            '' ORDER BY i)) AS sha
        |         FROM (SELECT doc_id, unnest(range(0, 32 + doc_id % 41)) AS i
        |               FROM documents WHERE doc_id % 3 = 1)
        |         GROUP BY doc_id),
        |vfr AS (SELECT doc_id, unnest(range(0, 4 + doc_id % 9)) AS f
        |        FROM documents WHERE doc_id % 3 = 2),
        |vs1 AS (SELECT doc_id, f, (doc_id + 17 * f) % 48 AS scn FROM vfr),
        |vxs AS (SELECT doc_id, f, scn, 3 + scn % 4 AS h,
        |         unnest(range(0, 4 + scn % 5)) AS x FROM vs1),
        |vpx AS (SELECT doc_id, f, scn, x, unnest(range(0, h)) AS y FROM vxs),
        |vsha AS (SELECT doc_id, count(*) AS n,
        |          sha256(string_agg(chr(CAST(32 + ((x + 2 * y + 5 * scn) % 64) AS INTEGER)),
        |                            '' ORDER BY f, y, x)) AS sha
        |         FROM vpx GROUP BY doc_id)
        |SELECT d.doc_id AS asset_id,
        | CASE WHEN d.doc_id % 3 = 0 THEN 'image'
        |      WHEN d.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        | CASE WHEN d.doc_id % 3 = 0 THEN i.n
        |      WHEN d.doc_id % 3 = 1 THEN a.n
        |      ELSE v.n END AS n_bytes,
        | CASE WHEN d.doc_id % 3 = 0 THEN i.sha
        |      WHEN d.doc_id % 3 = 1 THEN a.sha
        |      ELSE v.sha END AS payload_sha256,
        | CASE WHEN d.doc_id % 3 = 0 THEN 4 + (d.doc_id % 13)
        |      WHEN d.doc_id % 3 = 1 THEN 32 + (d.doc_id % 41)
        |      ELSE 4 + (d.doc_id % 9) END AS width
        |FROM documents d
        |LEFT JOIN isha i ON i.doc_id = d.doc_id
        |LEFT JOIN asha a ON a.doc_id = d.doc_id
        |LEFT JOIN vsha v ON v.doc_id = d.doc_id
        |ORDER BY asset_id""".stripMargin,
  )
}
