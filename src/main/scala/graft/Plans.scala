package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans of the headline queries to
  * PLANS.md — the .explain audit trail behind SURVEY §4's scale
  * claims. Two sections, matching what the bench ACTUALLY executes:
  * the artifact builds (run once per session/scratch miss, each from
  * the DataFrame WmCache builds it with — a chain kernel's plan plus
  * its RDD lineage, or the stage SQL's plan), then the steady-state
  * query plans rendered with useViews (chain consumers read the g_*
  * views). Usage: runMain graft.Plans [sfDir] */
object Plans {
  private val stageNotes = Map(
    "g_bkt" -> "chain kernel (operators.ChainKernels.buckets): one map-only JVM pass over the embeddings scan normalizes each vector and computes its bucket id per table; no shuffle before the write",
    "g_knn" -> "chain kernel (operators.ChainKernels.knn): one shuffle by (t, b) gives each bucket to one task, which computes each pair's dot product once into a bounded top-16 per member; a second shuffle by src merges the <= 2x16 candidates per vector. The salted SQL self-join is the stage's specification, not what runs",
    "g_indeg" -> "groupBy(dst) count + left join back — both map-side-combinable",
    "g_carriers" -> "distributed two-pass ranking: per-bucket counts + broadcast cumulative offsets + within-bucket windows; no single-partition sort",
    "g_stego" -> "chain kernel (operators.ChainKernels.stego): g_carriers joined to the embeddings scan (broadcast carrier side), then WmEmbed once per carrier vector, map-side",
    "g_ivf_ct" -> "IVF train: integer-threshold PRF sample (E[8*sqrt(N)] rows), 2 Lloyd steps on the sample only — the corpus is scanned once for sampling, never for training",
    "g_ivf_asg" -> "IVF assign: the ONE full-corpus pass — broadcast centroids, map-side-combinable max(struct) argmax, no window",
    "g_pq_ct" -> "PQ train: 512-row PRF sample sliced into 8 subspaces, one Lloyd step per subspace over the sample",
    "g_pq_codes" -> "PQ encode: one corpus pass, 8 codes/vector via map-side max(struct) argmax over broadcast codebooks",
    "g_bq" -> "BQ pack: one corpus explode + integer bit-sum groupBy — 8 bytes/vector of index state")

  private val notes = Map(
    "dedup_cluster_rep" -> "components over the checkpointed g_simpairs scratch (6 min-label rounds, each one join + combinable min agg over materialized pair rows), then ONE quality join and a max(struct(quality, -doc)) argmax per component — no window over the corpus",
    "q10_returns" -> "TPC-H Q10: order-date range + returnflag pushed to the scans, nation broadcast, fact shuffles on the join keys, revenue agg decimal-exact; global top-20 via the q3 bucketed-pre-rank + <=320-survivor pairwise rank — no unpartitioned window",
    "wm_steganalysis" -> "ONE pass buckets original vs stego carrier cells into 41 integer histogram cells (map-side-combinable), KS = max CDF race over a plan-time 41x41 literal grid, mean shift from pre-rounded decimal sums — no pair-by-grid expansion, reads the cached g_stego view",
    "vec_knn_classify" -> "bucket-routed candidates (shared g_bkt view) for the fixed query set only, exact cosine on candidates, per-query top-10 window over candidate rows, majority label via map-side max(struct) argmax — query-set-sized throughout, never a corpus ranking",
    "text_centroid_classify" -> "serving reads the persisted (doc, word) presence artifact (g_docwords — r12: the r11 plan re-ran the corpus explode per reference, 3x, part of the 4-rep-stable regression cluster; the explode now runs once at build, 60 -> 6.8 s at the 100x decade) and BROADCASTS the vocabulary-bounded centroid table wf + the |sources|-row cn norms (the aggregated subtrees carry no size stats; without the hint the scoring join fell to SortMergeJoin) — integer df dots, one division per (doc, source)",
    "dedup_substring" -> "doc-partitioned lead() windows build token spans (<= tokens-per-doc per partition), ONE window-hash groupBy finds repeated spans, semi-join tags the containing docs — nothing pairwise, no global sort",
    "dedup_winnow" -> "winnowing fingerprints from doc-partitioned lead() windows + per-window min (map-side); the DF-cap filter kills boilerplate hot fingerprints BEFORE the pair join, so the candidate join is bounded per fingerprint — the step that keeps shared phrases from going quadratic",
    "dedup_minhash_verify" -> "candidate pairs from the banded minhash join (g_mhsig scratch), then the EXACT-verify stage recomputes true Jaccard only on candidates via the pair-tagged gram groupBy — verification cost scales with candidates, not the corpus",
    "market_basket" -> "basket table checkpointed once (scratch); support/confidence/lift joins run over materialized basket rows — item-pair generation is bounded by per-basket width, aggregations all map-side-combinable",
    "knn_edges_salted" -> "both pair legs read the shared g_bkt view: plain self-join on (t, b), salted join on (t, b, salt) with the 4-replica side exploded map-side; per-bucket counts + the intersection count are three combinable groupBys — the equality witness never leaves the bucket partitioning",
    "wm_vote_margin" -> "one tiny aggregation over the cached 16x16 extraction vote table (min/mean margins + min(struct) weakest-bit argmin) — no corpus work in the steady state",
    "ann_multiprobe_curve" -> "probe expansion is a P+1-way union of map-side bucket-id arithmetic over the query rows; candidates tagged with min-flip in one groupBy, sims computed once for the widest superset, per-level top-10 windows over candidate rows only",
    "sketch_bloom_curve" -> "one shingle pass per side; the 3 geometries expand in ONE projection (m is a column in the position formula), membership is a per-(m,pos) bounded join against the distinct-position sets — no per-level corpus re-scan",
    "text_heaps_law" -> "one explode + per-word MIN prefix level in one combinable groupBy; cumulative counts over 4 levels reconstruct every prefix without per-prefix scans; the OLS fit is a 4-row aggregation",
    "text_lexical_diversity" -> "one (doc, word) groupBy (tokens/types/hapax all combinable) + one vocabulary-sized groupBy cross-joined as a constant column",
    "graph_component_sizes" -> "8 min-label rounds over the cached g_knn view (symmetrized + self-looped union per round — each round references the previous state exactly once); the census is one combinable groupBy over the final labels",
    "multimodal_bmp_features" -> "batched mapPartitions decode (encode24 -> parse -> pixels -> integer features), one combinable label shuffle — same envelope as multimodal_wav_features",
    "wm_key_mismatch" -> "two extract aggregation chains over the cached g_stego view (genuine + wrong-key weights, all plan-time literals) + tiny vote/census joins — no corpus work beyond the two aggregations",
    "q_ship_latency" -> "one orders-lineitem join feeding a (month, latency-day) count; quantiles from a cumulative window over the domain-bounded count table (one window node also carries the per-month totals, so the fact join runs once)",
    "events_ab_cuped" -> "two combinable groupBys (per-user cents totals, then per-variant + pooled cross-moments over <= |users| rows); theta/means/variances/z's are a fixed double tree over the 1-row wide moment table — no windows, no joins beyond the final cross joins of 1-row CTEs",
    "events_boot_ci" -> "ONE corpus scan computes 8 PRF columns and 40 inverse-CDF weights map-side, ONE aggregation folds all 80 weighted bigint sums; everything after (replica unpivot, rank-selected CI, quantized SE moments) is O(B)=40 rows — the Poisson-bootstrap shape that keeps resampling combinable at any corpus size",
    "events_slo_burn" -> "one combinable hourly census (<= 720 calendar-bounded rows), three RANGE-frame rolling sums over the integer hour index in one window node family, map-side burn divisions — the corpus scan is the only at-scale cost",
    "graph_hubness" -> "one left join of the cached g_indeg onto the corpus ids + ONE combinable aggregation folding count/sum/sum2/sum3/max and the hub/antihub censuses — corpus-linear, no windows, no sorts; skewness combination is a fixed double tree over the 1-row moments",
    "q_spearman" -> "two marginal value censuses (domain <= 11 and <= 50 rows) + one joint census (<= 550 cells); midranks from cumulative windows over the census rows; all rank/raw moments fold cnt-weighted exact bigints in one aggregation over the joint cells — the lineitem scan is the only corpus-priced pass",
    "q_customer_deciles" -> "per-customer decimal spend groupBy, then the grid-rank pattern: coarse $1000 bucket counts (<= ~500 domain rows), cumulative offsets over those rows, bucket-LOCAL row_number windows — no global single-partition sort; decile aggregation + 10-row share windows close it",
    "wm_multi_tenant" -> "tenant B's stego overlay (pool re-rank + B-key QIM embed) is scratch-MATERIALIZED once (g_mtb_stego — r12: the r11 inline plan was a 615-node tree with 58 scans / 30 BNLJs / 4 CartesianProducts from Catalyst re-inlining the overlay chain into both extraction legs; now 58 nodes / 4 scans, REPARTITION hint undoes the one-split artifact read); both extractions are one aggregation each over the combined rate*1.5*N carrier rows; all tenant constants are plan-time literals",
    "wm_repair" -> "the damage snapshot (att = sigma-0.04 noise over the cached g_stego) is scratch-MATERIALIZED once (r9 — Catalyst re-inlined the 4x-referenced CTE before; now all four consumers read the parquet rows): pre-extract over the snapshot; damaged set = carriers anti-join CRC-valid ids (broadcastable); re-embed = one masked-sum aggregation over damaged rows only; post-extract over valid-union-repaired — four bounded carrier-row passes, no corpus work, each reading materialized att rows instead of re-deriving them",
    "q_order_reconcile" -> "one exact-integer rollup groupBy over lineitem + one full-outer hash join against headers + one bucket census — the two fact scans are the only at-scale cost; the gap ladder and quantized means are map-side",
    "events_churn_labels" -> "ONE combinable per-user groupBy computes every feature AND the label (conditional aggregates over the same scan — the point-in-time split is a literal predicate, not a second pass); the bucket census folds <= ~12 domain rows",
    "text_burrows_delta" -> "serving is ONE self-join over the persisted (source, word, z) artifact (g_bdz, |sources|*30 rows — r12, r11 verdict item 7: the inline plan was a 710-node / 48-scan tree, Catalyst re-deriving the corpus census per pre/z reference; now 11 nodes / 2 scans, 0.8 s warm); the build pays the word explode for the census + source-count passes once and ranks the censored candidate domain with one row_number window (value-identical to the oracle's union rank)",
    "multimodal_image_dhash" -> "batched mapPartitions decode to 8 bytes/image of hash state; 4-way band explode + band-bucket self-join routes candidates (pigeonhole h<=3), bit_count(xor) Hamming on candidates only; census aggregations are candidate-sized — the image decode is the only corpus-priced pass",
    "ann_recall_at_k_curve" -> "both rankings computed once for the k=20 superset (brute leg bounded O(|Q|*N) on the fixed sample, LSH leg reads the shared g_bkt buckets); the 4 k-rungs are rank FILTERS over the joined hit table — no per-k re-scan; pooled integer hit counts, one division per rung",
    "text_ks_length" -> "one (lang, length) census groupBy — the only corpus pass; pair spine is |langs|^2/2 = 10 rows; CDF race windows partition per pair over length-DOMAIN rows (bounded by max doc length, not corpus size); the KS max is one integer aggregation per pair",
    "events_grouping_sets" -> "one map-side Expand (4 grouping sets) + ONE shuffle into the combined aggregation — the same envelope as rollup/cube; output is domain-bounded (<= 186 rows)",
    "graph_conductance" -> "reads the checkpointed g_lpa labels + cached g_knn edges; simple-edge dedup groupBy, two label joins, and three combinable censuses (cut via union-all counted once per incident community) — no per-community scans, one division per community",
    "wm_delta_curve" -> "the 24 masked projection sums compute ONCE over the cached carrier rows (delta-independent); the 4 rungs run rung-TAGGED through ONE embed + ONE extract chain (delta is a COLUMN over a 4-row spine — the unrolled-per-rung form planned 8 chains and cost 7.5 s; this one is 1.5 s at sf0.1) + an analytic drift column — two carrier-row chains total, no corpus work",
    "events_attribution_curve" -> "ONE interval join at the widest 24h rung (per-user hash join + gap predicate); the 4 rungs are conditional aggregates over the joined pairs — no per-rung re-join; distinct counts fold in the same combinable aggregation",
    "pca_variance_explained" -> "one 44-aggregate covariance pass over the corpus (the ONLY cluster work), then the eigensolve runs as bounded driver math (operators.PcaSolve mirrors the oracle's SQL chain op-for-op in exact IEEE order — the events_attribution_markov convention; was a ~50-deep 1-row HashAggregate chain costing 4.9 s of pure exchange latency)",
    "text_bpe_fertility" -> "vocabulary encode runs once per distinct word against the checkpointed g_bpe_vocab scratch; the per-language rollup is one combinable groupBy over the word stream joined to the tiny encode table — same envelope as text_bpe_encode",
    "sample_balanced" -> "one label census + a label-PARTITIONED rank window (per-partition sorts only) + the broadcast min-class target — the keep decision is a rank filter; the census output folds in one combinable groupBy",
    "events_metric_winsorize" -> "one cents-value census groupBy (domain-bounded by the price grid), one cumulative window over census rows for the exact p99, one combinable aggregation folding raw AND capped moments in the same pass",
    "events_sessions_curve" -> "one lag window pass builds the gap table (user-partitioned, per-partition sorts only); all three rungs are conditional aggregates over the same gap rows + a per-user span census — no per-rung re-pass",
    "wm_audit_curve" -> "the per-id decode-stats table (id, nr, q0..q15, PRF sampling tier) is scratch-MATERIALIZED once (g_audit_dec — r12: inline, the tier censuses + vote ladder re-derived the corpus aggregation per reference); all per-rung votes/censuses are conditional sums over the persisted O(N)-row artifact — never a corpus re-scan (0.7-0.9 s warm, back at the r9 number)",
    "pack_efficiency_curve" -> "the per-source running token sum computes once (pack_sequences' window); each L is a map-side integer division via a 3-row cross join — no second window",
    "dedup_threshold_curve" -> "the dedup_minhash_verify chain (one signature pass, band join, shingle-intersection groupBy) + threshold filters over the verified pair table",
    "events_inter_event_hist" -> "one user-partitioned lag window + a 22-row power-of-two range join; exact counts/sums per bucket",
    "vec_pairwise_dist_hist" -> "3N translational pairs ((id + delta) mod N, plan-time PRF deltas) — linear, two id joins against the normalized view, one bin groupBy",
    "vec_data_drift" -> "one exploded pass into 2*64 aggregation rows (quantized decimal sums), self-join of the two half rows per dim — corpus work is the single explode",
    "vec_label_separation" -> "one corpus explode into per-(label, dim) quantized means, centroids reassembled as ordered arrays (every downstream dot is an ordered fold); the corpus-sized work is one dot join per vector against its own broadcast centroid; the |labels|^2 pair matrix is tiny",
    "events_retention_halflife" -> "per-user first-day table x 14-row k range, one left join against distinct (user, day) — calendar-bounded; the OLS fit is a 14-row aggregation on the integer ln grid",
    "text_novelty_rate" -> "one shingle pass, first-seer per shingle in one combinable min groupBy, novelty share via one join back — no pairwise work",
    "q1_pricing" -> "filter pushed to parquet (PushedFilters on l_shipdate), 6 of 11 columns read, single partial+final agg",
    "q5_nation_rev" -> "5-way join: dims broadcast, one shuffle on the fact join keys",
    "vec_topk_lsh" -> "steady state: candidates from the g_bkt parquet scan (bucket build amortized across the 19 chain consumers)",
    "wm_embed" -> "steady state: one scan of the g_stego parquet",
    "wm_extract" -> "one aggregation over the stego rows + the 16x16 vote aggregation",
    "dedup_minhash" -> "one pass over the text (lead() shingles), signatures ride through the band explode",
    "events_asof" -> "one shuffle on user_id + ordered window (merge-asof shape)",
    "q_window_topn" -> "rank filter rewritten by Spark to WindowGroupLimit (partial + final)",
    "q3_revenue" -> "global top-10 with NO unpartitioned window: bucketed partitioned pre-rank, then pairwise-count ranking over <=160 survivors",
    "dedup_embedding" -> "salted LSH bucket self-join over the g_bkt view (hot bucket fans over 4 reducers), dot product computed once behind the pair groupBy barrier",
    "wm_carriers" -> "steady state: one scan of the g_carriers parquet",
    "wm_knn_edges" -> "steady state: one scan of the g_knn parquet — the graph is built once by the g_knn kernel above",
    "wm_recall_impact" -> "carrier-delta rebuild: only the rate*N stego vectors are reassembled/re-bucketed; the untouched corpus reuses nn + the g_bkt rows via anti-joins",
    "vec_topk_ivf" -> "sqrt(N) sampled cells, Lloyd steps train on an 8*sqrt(N) sample, ONE full-corpus assignment; every assignment is a map-side-combinable max(struct) hash aggregation over the broadcast centroid cross join — no N*k window sort anywhere",
    "pca_project2d" -> "one 44-aggregate covariance pass over the corpus; the power-iteration eigensolve runs as bounded driver math (operators.PcaSolve, hash-pinned to the oracle's SQL chain), and the projection is ONE map-only corpus scan with the solved axes as exact double literals — two corpus passes total, no 1-row aggregation chain",
    "vec_mds2d" -> "landmark pick is a TakeOrderedAndProject (top-32 by PRF rank — no global sort materialized); the 8x8 landmark-moment eigensolve runs as bounded driver math (PcaSolve over 32 collected rows, hash-pinned to the oracle's pivot+chain rendering), and the projection is ONE map-only corpus scan with the solved axes as exact double literals — axes cost O(1) at any corpus size, serve cost = one pass",
    "graph_lpa_curve" -> "(r10) the curve references the label table x3 and the undirected edges x3, so the serving path reads the checkpointed 3-round label scratch (g_lpa_rounds) + the betweenness-shared g_edges_sym view — six cheap parquet scans where the inline form re-ran the LPA rounds and the edge dedup per reference (measured 6.2 -> 0.56 s warm at sf0.1)",
    "search_maxsim_pruned" -> "stage-1 pruning with ZERO added shuffles: the sign-bucket candidate flags are 4 extra max(case bucket in <literal probes>) columns inside the SAME masked-max groupBy that computes the similarity maxes, and the full + candidate-only rankings are two sequential windows over ONE aggregate pass (never two evaluations of the corpus aggregate). The windows here are INHERENT to the eval, not a missed rewrite: n_cand = sum(f) needs every ranked row (no rn<=k filter for RewriteWindowTopK to subsume), and restructuring into three bounded aggregates would re-derive the corpus-priced score table per reference — the SERVING path with the bounded-state ranking is search_maxsim",
    "wm_nn_decode" -> "the MLP forward pass is ONE map-only corpus scan — all ~1.4k multiply-adds per row run as unrolled literal arithmetic inside whole-stage codegen (weights are plan-time literals, the planesFor convention; codegen CSE computes each hidden unit once despite the projection collapse), then one 49-column aggregation and a 24-row readout off the 1-row result (cross join against the literal position grid — the aggregate is referenced ONCE, never per-position)",
    "wm_nn_decode_deep" -> "the depth-6 residual forward pass builds the quantized-logit artifact ONCE per session/dir as a mapPartitions JVM pass (operators.NnDeep — Catalyst optimization alone on the unrolled ~9k-literal tree costs ~45 s per action and its fused codegen units overflow janino's 64 KB method cap; the JVM pass is bit-identical by shared folded constants + identical IEEE step order, hash-proven against the DuckDB inline chain at two SFs); serving = one 49-column aggregation over the <=N-row parquet artifact + the 24-row readout — map-only, no shuffle, embarrassingly parallel at any corpus size",
    "vec_graph_compact" -> "reverse-link merge touching ONLY the affected adjacency: the append batch's beam-search links come from the SHARED g_applinks scratch artifact (built once per session/dir — vec_graph_append reads the same product, so the compact serving leg never re-runs the 3-hop beam), reverse candidates are the forward links flipped (delta-sized), and the K-cap prune is one window over (affected base edges UNION candidates) — the unaffected graph is never re-ranked; census rows are small tagged aggregations",
    "dedup_upsert" -> "pair-table maintenance without a rebuild: the stale drop is a FILTER over the scratch-persisted pair artifact, the re-sign touches only the 5% updated docs, and the new-pair discovery is a DELTA-vs-post band join (delta-sized left side) — the full corpus is never re-paired; the per-hamming census + integer checksums are small aggregations over the maintained set",
    "dedup_upsert_minhash" -> "the dedup_upsert shape for the MINHASH family: stale drop filters the kept g_mhpairs artifact, the re-shingle/re-minhash touches only the 5% updated docs, new pairs come from the delta-vs-post band join over the persisted g_mhsig signatures — the corpus is never re-paired; per-match-count census + integer checksums are small aggregations",
    "vec_ivf_reindex_delete" -> "delete-side IVF maintenance: ONE anti-join of the served g_ivf_asg view against the PRF tombstone set (no retrain, no re-assignment — the production delete path), then two per-cell count aggregations and a left join — cell-count-sized output, corpus touched once",
    "search_maxsim" -> "late-interaction MaxSim with NO (token x term) pair shuffle: query-term vectors are plan-time JVM literals (WmConst.maxsimVec), doc-token vectors derive over the DISTINCT vocabulary (vocab-sized, not token-count-sized), and the per-(doc, term) maxes are 12 masked max columns in ONE map-side-combinable groupBy over the bounded 16-token explode; the two cross joins are against <= 12-row literal tables (broadcast nested loops). Ranking: the rn<=10 window rendering is REWRITTEN by RewriteWindowTopK into the bounded-state graft_topk_rows aggregate (the ObjectHashAggregate pair + posexplode below — map-side partials keep <= 10 rows per query per partition, the exchange carries O(|Q|*10), nothing sorts the |Q|*N stream); MaxSimTopKSpec pins the rewrite",
    "vec_topk_pq" -> "PQ: codebooks train on a 512-row sample, ONE corpus pass encodes 8 codes/vector (map-side max(struct) argmax over broadcast centroids), ADC scan joins the tiny |Q|*M*K lookup onto the code table — corpus-side state is codes, not vectors",
    "graph_pagerank" -> "3 unrolled power-iteration steps over the g_knn view: each one edge join + map-side-combinable groupBy(dst); INTEGER picorank arithmetic so the iterated sums are aggregation-order-proof",
    "vec_quantize" -> "per-dim min/max stats shuffle + map-side clamped-floor encode (constant-dim branch); codes never shuffle, error report is one combinable agg",
    "sketch_distinct" -> "HLL: per-word hash map-side, one groupBy(register) with max(rho) partial-agg — O(64) state replaces a count-distinct shuffle of raw words",
    "sketch_distinct_by_source" -> "per-group HLL (m=256): one groupBy(source, register) partial-agg — O(m) state per group, the production monitoring shape",
    "text_chunk" -> "per-word <=2-chunk k-range explode (map-side) + ONE groupBy (doc, chunk) building ordered-token fingerprints — no windows, no joins",
    "vec_topk_filtered" -> "label predicate prunes the candidate side BEFORE the similarity join (hybrid search shape, brute within the filter)",
    "vec_topk_filtered_lsh" -> "LSH-routed hybrid search: bucket candidates intersected with the metadata predicate — work is O(sum bucket cap filter), independent of unfiltered corpus size",
    "vec_range_search" -> "radius search over the shared LSH buckets: candidates only, exact similarity on candidates",
    "dedup_jaccard" -> "single-pass pair-tagged gram groupBy; grams shuffle as 60-bit hashes, not strings (narrower key for the network-bound exchange at scale)",
    "dedup_simhash_pairs" -> "60-bit simhash, 5x12-bit bands (pigeonhole genuinely covers hamming<=4); 60 masked bit-sums in ONE groupBy, band join touches candidates only",
    "decontaminate" -> "tiny distinct eval-shingle broadcast + one hash join on 60-bit shingle hashes; no pairwise doc comparison",
    "vec_topk_sq" -> "SQ search leg: per-dim stats broadcast + ordered dequant rebuild; corpus-side state is the int8 code table, scoring is one ordered-fold cosine per candidate",
    "wm_ber_quantize" -> "storage-robustness cell: stego stats + map-side SQ round-trip + the shared extract aggregation — no new shuffle shape",
    "vec_topk_sq_lsh" -> "compressed serving shape: shared-bucket candidate routing + semi-joined dequant rebuild of candidates only — sublinear candidates, 4x-smaller scoring state",
    "events_funnel" -> "three min-aggregations on user_id (first qualifying event at-or-after the previous stage) — order-free, no window sorts",
    "text_entropy" -> "one explode + one (doc, word) groupBy + per-doc ordered fold — float sum order pinned by hash-order with value tie-break",
    "q4_priority" -> "EXISTS rewritten to LeftSemi hash join, date filter pushed to the orders scan",
    "q_no_returns" -> "NOT EXISTS rewritten to LeftAnti hash join, returnflag filter shrinks the build side at the scan",
    "events_rollup" -> "rollup expands grouping sets map-side; every level partial-aggregated in one shuffle",
    "vec_topk_ivf_pq" -> "composed serving index: IVF cell routing (broadcast centroids, map-side max(struct) argmax) feeding ADC scoring against the candidates' code table — probe cost sublinear AND per-candidate state 32x smaller",
    "sketch_bloom" -> "Bloom build: distinct set-bit positions aggregate to ONE array row; probe side cross-joins the 1-row bitset (broadcast) and membership-tests map-side — the only shuffles are the two distinct aggregations",
    "decontaminate_bloom" -> "the Bloom bitset broadcast + map-side membership test BEFORE the exact shingle join — only hits reach the join shuffle; row-identical to decontaminate by the no-false-negative contract",
    "sketch_cms" -> "count-min: one (row, col) integer-sum groupBy builds the 4x16 grid (mergeable by addition); point queries join the tiny grid back",
    "sketch_quantiles" -> "serving reads the persisted 128-row histogram artifact (g_qhist carries bin counts + the mn/mx/n stats it was built with): every multi-referenced CTE re-inlines as a tiny view scan instead of re-deriving the corpus chain (the inline form executed ~11 lineitem scans under Catalyst re-inlining — the r10 drift cluster's one real plan cause, 2.2 -> 1.3 s warm at sf0.1); ONE raw scan remains, the exact in-bin rank-selection pass — no global sort",
    "graph_triangles" -> "degree-oriented wedge join over g_knn-derived undirected edges: orientation bounds out-degree at O(sqrt E), closing edge is one hash semi-join; all integer keys",
    "events_anomaly" -> "one (type, hour) groupBy then a type-partitioned 24-row window over INTEGER sums — per-partition state is O(24), float math on exact integers",
    "events_rolling_dau" -> "per-(day,user) distinct once; WAU joins the tiny day grid with a 7-day range predicate (grid side broadcasts) + one combinable count-distinct per grid day",
    "q_corr_subquery" -> "correlated scalar subquery rewritten by Catalyst to a grouped aggregate + broadcast hash join (25 brand rows)",
    "q_set_ops" -> "INTERSECT/EXCEPT planned as distinct aggregations + LeftSemi/LeftAnti hash joins on the integer key",
    "vec_topk_ivf_pq_rerank" -> "three-stage serving pipeline: IVF routing + ADC scoring in code space, then ONLY the top-50 ADC survivors semi-join raw vectors for exact re-ranking — refine cost O(50*|Q|), corpus never rescanned",
    "dedup_containment" -> "shares the single-pass pair-tagged gram chain with dedup_jaccard; the asymmetric ratios are two extra divisions on the same j(pair, i, na, nb) aggregate",
    "events_cube" -> "CUBE expands 4 grouping sets map-side, one shuffle; levels tagged via grouping(), not value sentinels",
    "vec_topk_binary" -> "BQ Hamming scan over the cached g_bq code table: 8 bytes/vector state, codegen'd xor+bit_count, integer ranks — the cheapest possible corpus scan",
    "vec_topk_binary_rerank" -> "two-stage BQ serving: Hamming top-50 in bit space, then the 250-row shortlist BROADCASTS (hinted — windowed subtrees carry no stats) against the vector table for exact cosine — no corpus-side float work",
    "dedup_incremental" -> "delta-vs-corpus minhash: batch-only bands join corpus-only bands — no corpus self-pairs; best match per new doc is one max(struct) aggregation",
    "ann_nprobe_curve" -> "exact sims computed once for the nprobe=8 candidate superset (cellrank tags levels); per-level top-10 is a filter+window; brute leg bounded O(|Q|*N) on the evaluation sample",
    "vec_cluster_stats" -> "index monitoring: one join of the cached assignment table to broadcast centroids + one groupBy(cell); decimal-exact mean after per-row rounding",
    "pack_sequences" -> "per-source running token sum = window partitioned by source (per-partition sorts only); integer sequence ids by division; one groupBy(source)",
    "events_ab_test" -> "one combinable groupBy(variant) over events; the z-statistic is a fixed expression tree over 4 integers from two 1-row CTEs",
    "q18_big_orders" -> "HAVING collapses lineitem before any join; orders/customer broadcast-join the survivor set",
    "wm_capacity" -> "one groupBy(blk) over the cached g_carriers parquet + a 1-row total/min cross join",
    "vec_hard_negatives" -> "LSH bucket candidates intersected with the label predicate riding the join — per-query work O(bucket ∩ other-label)",
    "ann_recall_eval" -> "served-index recall audit: LSH leg reads g_bkt, brute leg bounded on the query sample, hits via one left join",
    "vec_topk_ivf_bq" -> "BIN_IVF composed: IVF cell routing + Hamming over the cached g_bq codes for cell candidates only — sublinear probe, 8-byte scan state, integer math end-to-end",
    "vec_topk_graph" -> "HNSW-style beam search: hub entry via TakeOrderedAndProject (no global window), 3 unrolled hops each = one hash join to the materialized g_knn edge view + broadcast-shortlist scoring + a qid-partitioned window; per-hop state |Q|*16 rows — corpus-size-independent once the graph is built",
    "vec_append" -> "incremental append: the PRF-selected batch streams once through broadcast joins against the KB-sized served centroids/codebooks (max(struct) argmax, no window) + one explode groupBy for the BQ words — the corpus index is never rescanned, g_ivf_asg never touched",
    "vec_topk_grouped" -> "the native bounded-state top-k: partial_graft_topk runs MAP-SIDE (ObjectHashAggregate before the Exchange), so the shuffle carries <=k pairs per (query, label) per partition instead of the full candidate stream a rank window would sort",
    "q2_min_cost_supp" -> "group-wise argmin join-back: two combinable aggs + two partkey shuffles, region-filtered supplier dim broadcasts into both the per-part min and the join-back; the min equality is exact (same IEEE division both sides)",
    "q9_product_profit" -> "five-join star: part LIKE filter prunes at its scan and broadcasts, revenue AND cost ride ONE combinable aggregation pass — no second join tree for the subtrahend",
    "q11_important_parts" -> "fraction-of-global HAVING: the total re-aggregates the per-part OUTPUT (never a second fact scan) and broadcasts back as a 1-row cross join",
    "q16_supplier_cnt" -> "NOT IN over a provably non-null subquery plans as a plain broadcast anti-join; count(distinct) becomes the two-level combinable aggregate via the distinct-pair projection",
    "q20_excess_ship" -> "nested semi-joins: the part filter broadcasts into the fact scan, the qualifying-supplier set is a one-column broadcast LeftSemi against the supplier dim — one fact shuffle total",
    "text_cooccur" -> "skip-gram pairs with NO token self-join: one per-doc lead(1..3) window (per-partition sort), explode position = distance, pair counts in one combinable groupBy; global top-20 via the 16-bucket pre-rank",
    "data_curriculum" -> "per-source ntile over a total order (bounded per-partition sort, the sessionization shape) + one combinable rollup; per-row qualities pre-rounded and summed as exact decimals",
    "graph_communities" -> "3 LPA rounds over the materialized g_knn edges: each round one hash join (labels onto edges) + the map-side-combinable max(struct(count,-label)) mode-argmax — no per-node window, label state referenced once per round",
    "graph_modularity" -> "modularity over the checkpointed label view: integer-only census joins (simple-edge dedup, degree sums, intra-pair count), two double divisions in a 1-row projection",
    "sketch_kmv" -> "one distinct (source, hash) pass; the rank window filtered rn<=256 sits above RewriteWindowTopK's maxK=100 guard, so Spark's own partial+final WindowGroupLimit bounds the exchange at <=256 rows/source/partition instead; all three curve levels read the same shortlist via conditional max",
    "sketch_kmv_overlap" -> "one distinct (source, hash) corpus pass; shortlists are WindowGroupLimit-bounded, the pair spine joins sketch-sized rows (two equijoins, no OR join), the exact-overlap self-join is df-bounded per hash — nothing pairwise at corpus scale",
    "text_kl_divergence" -> "two combinable groupBys (source x word, word) over one explode; the ln-grid bigint terms combine per row before the k multiply, so the per-source sum is one exact aggregation — vocabulary-sized after the explode",
    "text_simpson" -> "one (source, word) groupBy + one per-source bigint fold; the only float op is the final division per source",
    "sketch_kmv_native" -> "one distinct (source, hash) pass into graft_kmv — map-side partials keep <=k hashes per source, the merge is a capped set union; no window, no per-source sort anywhere",
    "events_anomaly_seasonal" -> "one combinable daily-count groupBy; dow means, residual rank selections, and flags all run on the <=|days| aggregated rows (calendar-bounded windows)",
    "q_priority_sla" -> "one combinable groupBy over the orders-lineitem join; the 5-row priority report is domain-sized; latency arithmetic is map-side",
    "q_discount_elasticity" -> "one combinable level groupBy + one 1-row bigint moment fold over the fact scan; the 11-row level table cross-joins the 1-row correlation",
    "events_activity_hist" -> "one combinable per-user groupBy; the ladder bucket is map-side case arithmetic, shares and the cumulative window run on <=40 bucket rows",
    "events_stickiness" -> "one (user, day) distinct projection; the trailing-28-day range join expands <=28 rows per active (user, day) — linear, never user x user — and the per-day distinct count is the only other shuffle",
    "q_order_gap" -> "one distinct (cust, day) projection + customer-partitioned lag windows (bounded by orders/customer); quantiles and mean run on the gap-DOMAIN count table via one cumulative window",
    "events_type_overlap" -> "one distinct (type, user) projection; the pair join fans <=C(|types|,2) per user and the output is type-domain-sized",
    "q_hhi_supplier" -> "one combinable per-supplier fact groupBy (per-row 1e-6-grid quantization, bigint fold); the nation rollup with decimal(38,0) quadratics is |suppliers|-sized; nation dim broadcasts",
    "q_benford" -> "one combinable digit groupBy over the fact scan; the 9-row census joins a literal spine, chi2 folds from 1e-6-grid bigint terms — everything after the scan is constant-sized",
    "q_theilsen" -> "one combinable monthly decimal groupBy is the only corpus pass; the pairwise-slope table is calendar^2-bounded (<=3.5k rows), rank selections and the cents-grid OLS moments run on aggregate-sized tables",
    "events_ewma" -> "one combinable daily-count groupBy; the dyadic-weight cumulative window and the lag forecast run over the <=|days| rows — exact bigint numerators, division only in output columns",
    "events_heatmap" -> "one combinable groupBy onto the <=168-cell grid + one (cell, user) distinct for reach; dow/hod are map-side epoch arithmetic, the share joins the 1-row broadcast total — no windows, no corpus-sized intermediate",
    "events_anomaly_mad" -> "one combinable daily-count groupBy is the only corpus pass; both lower-median rank selections and the z flags run on the <=|days| aggregated rows (calendar-bounded windows)",
    "events_fano" -> "one combinable (type, day) groupBy; the |types| x |days| zero-filling grid and the bigint moment folds are aggregate-sized; F and CV2 are one division each",
    "events_autocorr" -> "one combinable daily-count groupBy is the only corpus pass; the 7-lag alignment self-join and row_number run on the <=|days| aggregated rows; ACF folds from exact bigint moments, one division per lag",
    "events_survival" -> "one combinable per-user groupBy; risk sets, hazards and the KM running product live on <=|days| duration rows — the product is an exact integer prefix sum of 1e-7-grid hazards, exp only in the output column",
    "vec_kmeans_step" -> "one 64*N exploded groupBy(cell,pos) for the member means (decimal-exact after the roundAway grid) + one member-dot pass for before-inertia; after-inertia folds from the new centroid alone — no second member pass",
    "graph_kcore" -> "8 peel rounds carrying the EDGE set forward; both endpoint degrees from node-partitioned count windows (<=K rows per partition, never a corpus sort); every round's state referenced exactly once",
    "graph_assortativity" -> "simple-graph census joins (the modularity shape) + ONE aggregation folding four exact integer degree moments; assortativity is one double division",
    "graph_beam_curve" -> "three independent |Q|*beam-bounded hop chains over the g_knn view (each hop: dedup'd expansion + scored broadcast join + per-query top-beam window), tagged union re-rank, brute reference bounded O(|Q|*N)",
    "wm_overwrite" -> "the pirate embed is ONE masked-sum partial-aggregation over the cached carrier rows + a broadcast join back (the stego build shape under the second key's literals); both extractions are one aggregation + the tiny vote each",
    "vec_pq_distortion" -> "one join of the cached 8-byte/vector code table to the subvector projection + KB-sized codebook; MSE expands to ordered-fold dots (no array zip), means decimal-exact after the roundAway grid",
    "events_attribution_markov" -> "the journey lag-window pass checkpoints once (the only corpus work); the 8-step x 5-variant ppm power iteration is bounded driver math over the collected <=|types|^2 census, oracle-pinned to the pure-SQL iteration",
    "q_pareto_share" -> "one combinable customer groupBy; Lorenz windows run over the <=|buckets| gridded value domain (the RFM bounding trick) — no per-customer sort at any scale",
    "text_zipf_fit" -> "global top-100 words via the 16-bucket pre-rank + pairwise exact ranks over <=1600 survivors; OLS from exact integer micro-ln moments",
    "sketch_hll_curve" -> "ONE distinct-hash corpus pass shared by all three register counts; each register table is m rows, the estimate an ordered fold",
    "graph_hops_reach" -> "unrolled frontier expansion over self-loop-augmented edges (one distinct join per hop, the beam-carry rule); per-hop census union re-derives O(h^2) bounded edge joins of the cached view",
    "graph_clustering_coeff" -> "the triangle count's degree-oriented wedge join re-emitting vertices; per-node credit via a 3-way union + one combinable groupBy",
    "data_shard_manifest" -> "pure map-side PRF shard assignment + ONE combinable groupBy — no ordering anywhere (sharding, not sorting, is the scalable randomization unit)",
    "text_keywords_llr" -> "two combinable groupBys over one explode; the nine quantized-ln LLR terms sum exactly in bigint; top-5 per source over the vocabulary-sized table",
    "events_new_vs_returning" -> "one (user, day) distinct + per-user min + daily census; the cumulative curve is a window over <=|days| aggregated rows",
    "events_segment_migration" -> "one combinable (user, half) groupBy; median cuts by rank selection over the count DOMAIN; the matrix is <=9 cells",
    "multimodal_wav_features" -> "batched mapPartitions decode + integer DSP per clip; one combinable (source, rate) shuffle — the same dataflow a real feature extractor binds into",
    "sketch_cms_native" -> "ObjectHashAggregate with the 4x16 grid AS the buffer: map-side partials merge by addition, the point-query join touches the 1-row grid",
    "sq_bits_curve" -> "one per-dim stats pass + one map-side quantize/dequantize over N*Dim*4 rows into a combinable per-bits aggregation; exact 1e-12-grid bigint error sums; output is the 4-row ladder",
    "matryoshka_dim_curve" -> "4 map-side prefix projections of the normalized scan unioned; all candidate passes O(|Q|*N) on the bounded query list; per-(dm,qid) top-10 windows over query-partitioned rows only",
    "graph_degree_hist" -> "rides the served g_indeg view: one left join + one combinable census; the bucket is map-side compare-ladder arithmetic; shares and the cumulative window run on <=41 bucket rows",
    "events_user_entropy" -> "two combinable groupBys ((user,type) then user); the 1e-9 ln-grid bigint terms make per-user H exact; bins and the mean fold on the <=8-row domain",
    "vec_lid" -> "rides g_knn: per-src grid-ln terms fold in one combinable groupBy(src); LID is one division per node; the census is <=102 clamped bins",
    "graph_powerlaw_fit" -> "rides g_indeg: one combinable tail fold for alpha; the KS pass is a desc cumulative window over the <=|distinct degrees| domain rows",
    "events_entropy_rate" -> "one user-partitioned lag window + the (src,dst) and src combinable groupBys; both entropies and the gain fold from the same exact bigint census; 1-row output",
    "text_js_divergence" -> "one (source,word) groupBy; the pair spine is C(|sources|,2) rows joined by equality (union + two left joins, no OR-join); per-pair sums are exact bigints",
    "events_peak_concurrency" -> "the session windows (user-partitioned) + per-second boundary groupBy; within-day cumulative is day-partitioned, the carry window runs over <=|days| rows — no global sort",
    "events_rfm" -> "serving reads the persisted per-user RFM feature table (g_rfm_user, O(users) rows — r12: the inline per-user events aggregation was re-derived per reference by the 3 median censuses + count + segment join, 20 events scans in the r11 plan; now the events pass runs once at build and every reference is an O(users) parquet scan with a REPARTITION hint against the one-split read); medians by census cumulative joins over the value DOMAINS, segment agg combinable",
    "search_hybrid_upsert" -> "the full maintained state persists as four artifacts (g_hyb_stats base stats, g_hyb_delta the 5%-re-tokenized delta, g_hyb_post = keep-union-delta, g_hyb_scores_post the refreshed two-leg scores with global stats refolded) — exactly what a CDC maintainer hands back to the serving stack; the readout is censuses over the stat views + the fused top-10 through the shared rrfRankCtes chain over the score view (an inline first cut re-derived the delta explode and score projection per reference — ~2.9 s at sf0.1 vs 1.3-2.0 s artifact-backed, FLAT 3.6-5.2 s across the 10-100x decades)",
    "ann_recall_eval_ivfpq_res" -> "brute cosine truth per fixed query (one |Q| x N scored join) + the ivfpq_res candidate/ADC ranking over cached g_rpq_ct/g_rpq_codes views — candidate work is probed-cell-bounded, the ADC fold is the ordered-array dot, recall join is |Q|*10 rows",
    "dedup_shingle_curve" -> "serving folds the 4 curve rows from the persisted (w,df,m) census artifact (g_shcensus) — zero raw scans at serve time (the r11 inline plan re-inlined the sh/df/dfc CTEs per reference: 13 Window nodes / 12 corpus scans executed, 5.5 s gate; now 0.6-0.9 s warm); the census build is genuinely ONE 8-lead window pass, the 4 widths stack()ed out map-side (a generator, not union branches Catalyst can re-inline the window into), then the distinct/groupBy census",
    "ann_ensemble_recall" -> "three served-index legs at their standalone cost (bucket/cell/bit candidates only) + a fusion join of three <=|Q|*10-row lists; truth leg bounded O(|Q|*N)",
    "events_exp_fit" -> "one user-partitioned lag window + one ladder groupBy; the fit and chi terms fold on <=40 bucket rows with grid-exact arithmetic",
    "text_length_lognormal" -> "one token-count projection + one combinable moment fold; median/p84 by rank selection over the token-count domain — no corpus sort",
    "q_order_size_fit" -> "one combinable groupBy(orderkey) + a <=|k-domain| census joined to the literal factorial ladder; fit and chi terms fold on domain rows",
    "vec_bq_bit_balance" -> "one combinable groupBy(pos) over the exploded scan; the exact mean pairwise Hamming folds from the same Dim-row census — never a pair join",
    "events_forecast_eval" -> "one daily groupBy; train moments, dow profile, and all three predictors are fixed expressions over the <=|days| rows; 3-row output",
    "vec_pq_codebook_balance" -> "one combinable groupBy over the cached g_pq_codes view + a left join of the KB-sized codebook; |subspaces|-row output, no index rebuild",
    "dedup_minhash_calibration" -> "the verify stage's banded pair work re-used (candidates only, never corpus pairs); bin means fold from 1e-4-grid bigint sums on <=11 decile rows",
    "events_mix_shift" -> "one (day,type) groupBy is the only corpus pass; the consecutive-day spine and exact-grid JS folds run on <=|days|*|types| rows",
    "text_boilerplate_share" -> "one 3-gram shingle pass + a vocabulary-sized df groupBy; the N-derived threshold is a 1-row cross join; p90 by rank selection over the <=101-value percent domain",
    "dedup_cross_source" -> "reads the checkpointed g_simpairs scratch (no pair regeneration); two broadcast doc joins + one combinable source-pair groupBy",
    "sketch_cms_err" -> "one shingle window pass + two integer groupBys (exact counts, 4x1024 grid); the one-sided error profile is a K-row lookup join — all integers, no float folds",
    "search_hybrid_rrf" -> "both legs bounded by union-of-posting-list candidates (never corpus-sized); per-leg EXACT global ranks via the grid-rank pattern (bucket counts + broadcast offsets + bucket-local windows); fusion over <=160 survivor rows",
    "events_value_quantiles" -> "per-group 64-bin mergeable histograms read from the persisted per-type artifact (g_evqhist carries each type's bin counts + mn/mx/n) — ONE raw events scan remains (the exact in-bin rank selection, (type,bin) windows), every other reference is a <=|types|*64-row view scan (the r11 inline plan re-inlined mm/bn per reference: 30 parquet scans executed; the sketch_quantiles g_qhist fix extended per-group, r11 verdict item 3)",
    "wm_ber_curve" -> "ONE bounded carrier-row extract chain over the cached g_stego view — sigma is a COLUMN over a 4-row spine (r12 template fix: the per-sigma unrolled form planned 4 chains; the executed plan is 49 nodes / 1 scan), keyed noise per rung is map-side arithmetic — no corpus work",
    "minhash_band_curve" -> "one signature pass (g_mhsig scratch); each band geometry re-bands the 16 cached hashes map-side, candidate joins touch banded pairs only; precision/recall folds against the verified pair table",
    "index_recall_ladder" -> "four bounded O(|Q|*N) scoring passes over CACHED code tables (SQ grid, PQ codes+codebooks, BQ words, prefix slices) + one truth leg; hits fold in one groupBy over <=5*|Q|*10 rows",
    "graph_rich_club" -> "club membership joins the served g_indeg view to a 4-row k ladder; intra-club edges join g_knn on both endpoints — club-sized work per level",
    "events_funnel_time" -> "the funnel's three min-aggregations (order-free) + a minute-grid groupBy; median/p90 by rank selection over the time-span-bounded grid",
    "q_open_lines_backlog" -> "one orders-lineitem join into a per-day boundary groupBy; the backlog cumulative runs over <=|distinct days| calendar rows — never lineitem-sized",
    "events_cohort_ltv" -> "per-user min + one (cohort, age) groupBy (decimal-exact value sums); the payback cumulative windows over the <=|weeks|^2 matrix rows",
    "text_entropy_rate" -> "one doc-partitioned lead window + the (w1,w2) and w1 combinable groupBys; both entropies fold from the same exact bigint census; 1-row output",
    "ann_refine_curve" -> "one 8-byte Hamming corpus scan + exact sims computed once for the R=100 superset; inner depths are filters, per-(R,qid) top-10 windows over <=100 candidate rows",
    "graph_path_length" -> "the hops_reach unrolled BFS (4 distinct joins over g_knn) folded through ONE window pass — each BFS state referenced once (a cn self-join re-inlined the chain 3x: 4.7 -> 1.5 s)",
    "events_value_anova" -> "one combinable (type) moment groupBy; SS terms quantized per type and bigint-summed over <=|types| rows — no float fold; two final divisions",
    "events_ab_srm_check" -> "ONE conditional distinct-count scan (no CTE re-reference); the chi-square is exact-integer arithmetic over the 1-row census",
    "events_rate_peaks" -> "two combinable groupBys ((user,minute) then user-max); the ladder census and thresholds fold on <=40 bucket rows",
    "wm_collusion" -> "one extra embed chain (clean carrier rows, plan-time colluder constants) + the per-cell average join + one extract aggregation — all bounded rate*N carrier work over the cached views",
    "events_ab_value_ttest" -> "ONE combinable per-variant moment groupBy; t and the Welch df are fixed expression trees over the 1-row pivot — no second scan",
    "sketch_quantile_curve" -> "serving reads the persisted 3-level histogram artifact (g_qhist_curve, <=336 rows with carried mn/mx/n); cumulatives window over the aggregated bin rows; the exact leg is the ONE remaining raw scan, rank-selecting inside the finest level's target bins only",
    "dedup_semantic_curve" -> "the dedup_embedding bucketed pair chain once; the 4-rung ladder is filters over candidate pairs — zero extra corpus work",
    "graph_lpa_curve" -> "3 LPA rounds over the cached g_knn edges with each round's labels referenced once by the union (prefix rounds re-derive per branch, <=2x LPA cost); modularity censuses join the <=3N label rows",
    "events_chi2" -> "one combinable groupBy onto the <=7x|types| grid; marginals and the full row x col expected grid are tiny cross joins; chi terms fold on the 1e-6 bigint grid",
    "events_xcorr" -> "one daily groupBy is the only corpus pass; the 8-row lag range joins the <=|days| zero-filled spine; all Pearson moments exact bigints",
    "events_mann_kendall" -> "one daily groupBy; the pairwise sign walk runs over the |days|^2-per-type CENSUS (calendar-bounded), never events; tie sums and 18*Var integer to the end",
    "q_yoy_growth" -> "decimal-exact revenue per ship-year in one combinable groupBy; the lag window runs over the <=|years| aggregate only",
    "vec_kmeans_elbow" -> "reads the cached g_ivf_asg assignments; one explode pass builds per-cell component sums; every k-level folds from those <=cells x dim sufficient statistics (map-side, no per-k corpus work)",
    "vec_silhouette" -> "one explode for the label centroids + one broadcast N x |labels| dot join; per-vector argmax via conditional max aggregation, no window over the corpus",
    "graph_eigen_centrality" -> "3 integer walk-count steps over the cached g_knn edges (each step one join + combinable sum, predecessor referenced once); the share normalizes once at readout (w3 read twice - bounded re-derivation, the lpa_curve convention)",
    "text_word_burstiness" -> "one (doc, word) groupBy + one vocabulary-sized groupBy; zeros enter via closed-form moments, never a doc x vocab grid",
    "q_key_skew" -> "three column-pruned single-column scans union into per-key counts; all readouts fold over the count-of-counts census with domain-bounded windows",
    "vec_topk_ip" -> "brute O(|Q| x N) raw-dot baseline over the 5-query literal set; per-query window over candidate rows only (WindowGroupLimit + the graft_topk rewrite apply)",
    "vec_topk_l1" -> "64-term unrolled |a-b| literal sum inside whole-stage codegen; same |Q| x N candidate shape as the other brute baselines",
    "vec_topk_ip_lsh" -> "MIPS rung via norm-augmentation (Bachrach 2014): aug coordinate = one sqrt over (1-row broadcast max norm, per-row norm), bucket ids are unrolled +/-1-literal arithmetic over (Dim+1) components inside whole-stage codegen (zero shuffles to route), candidates from (t, b) equality, exact IP re-rank bounded-state under the graft_topk rewrite",
    "ann_recall_eval_ip" -> "the ann_recall_eval protocol on the MIPS rung: brute leg bounded O(|Q| x N) on the literal query set, rung leg re-joins the shared candidate CTE, hits via one left join",
    "vec_topk_ivfpq_res" -> "residual IVFADC serving: coarse routing against the cached centroid view, candidates from the cached assignment view, ADC against the cached residual codebook/codes artifacts (g_rpq_ct/g_rpq_codes, built once per session over the IVF views) -- query-time work = |Q| x nprobe residual LUTs + the per-candidate 8-code join, folded through the ordered-array dot; nothing re-trains or re-encodes",
    "vec_ivfpq_res_distortion" -> "both schemes' reconstruction errors from their cached code/codebook artifacts (raw: g_pq_ct/g_pq_codes; residual: g_rpq_ct/g_rpq_codes + the rsub derivation over cached IVF views) -- two per-subspace exact-decimal aggregations and an 8-row join",
    "vec_topk_l1_lsh" -> "L1 rung via Cauchy p-stable hashes (Datar 2004): floor((a.x + b)/w) with a as JVM-computed decimal literals (libm tan never crosses an engine), J=2 joint-equality hashes per table, exact unrolled-L1 re-rank only within candidates",
    "ann_recall_eval_l1" -> "the ann_recall_eval protocol on the L1 rung: brute leg bounded O(|Q| x N), rung leg re-joins the shared candidate CTE, hits via one left join",
    "events_corr_matrix" -> "one daily groupBy; the all-pairs Pearson join runs over the |types| x |days| zero-filled census grid, never events",
    "wm_rate_curve" -> "degree census + ES scores computed once off the cached g_indeg; each rung is a prefix cutoff of one global degree ranking; only the within-pool two-pass score ranking re-runs per rung over <= 1.5 r N rows",
    "q_promo_did" -> "part dim broadcast onto the fact scan, one combinable groupBy onto 4 cells; all estimate columns are tiny cell cross joins",
    "events_ab_power" -> "one conditional per-variant aggregation (same scan as events_ab_test); everything downstream is 2-row arithmetic",
    "wm_extract_ids" -> "registry-path extraction: the persisted carrier-id scratch table broadcast-semi-joins the attacked full corpus (rate*N matched rows), then ONE masked-sum decode aggregation + the tiny vote groupBy — no selection-chain rebuild, no full-table CRC noise floor",
    "vec_graph_append" -> "incremental HNSW insert: the beam-search product (per-new-vector forward links) is the scratch-persisted g_applinks artifact — built once per session/dir (PRF-selected batch map-side from the nv scan, 3 beam hops against the cached g_knn edge view with broadcast shortlist joins, per-qid rank windows bounded-state under the graft_topk rewrite) and SHARED with vec_graph_compact; the readout joins the links view against the per-src worst-edge aggregate — O(|batch|*hops*beam*K) score rows once, the existing graph is never rescanned",
    "search_rerank_agreement" -> "reads the cached g_hybrid_scores two-leg table; shortlist via the bucketed pre-rank (no single-partition corpus window); every rank, tau pair count, and overlap computation is a cross join over <= 30 survivor rows (<= 435 pairs) — constant-sized at any corpus",
    "ann_filter_strategy_curve" -> "post-filter leg ranks the shared g_bkt candidates once (per-qid bounded windows), each selectivity rung is a conditional re-rank of <= 40 survivors; the pre-filter truth leg scores the |Q|*N pair grid once and re-ranks per rung — the crossover's two cost axes land as columns, not re-scans",
    "dedup_tier_eval" -> "truth chain is SAMPLE-SIZED end to end (10% PRF docs -> 3-gram sets -> shared-gram pair join); tier decisions read the served scratch tables (g_mhsig band re-join restricted to the sample, g_simpairs filtered) — the eval costs O(sample), never the corpus; TP/FP/FN are two left joins against the materialized truth-pair set",
    "data_budget_curve" -> "ONE corpus scan builds the (quality-bucket x source) census; cumulative sums, the three budget cuts, and all shares fold over <= 101*|src| census rows (the descending cumulative window is domain-bounded) — no per-rung corpus re-scan, no global ranking",
    "graph_spectral" -> "four walk-count steps over the cached g_knn edges (each one join + combinable integer sum, predecessor referenced once); the Prony solve is closed-form scalar math over four 1-row totals — the graph is never materialized as a matrix",
    "multimodal_audio_fp" -> "batched mapPartitions decode to one 15-bit print per clip; the census is two combinable groupBys — no pair join, so the key stays linear even when the print domain collapses",
    "graph_percolation_curve" -> "degree census + bounded cumulative window pick the per-rung cutoffs; ONE rung-tagged edge pass derives surviving degrees; Molloy-Reed moments are integer sums — no pair or path joins anywhere",
    "wm_recover_registry" -> "the wm_extract_ids pipeline + a 32-row reassembly tail: persisted carrier-id scratch broadcast-semi-joins the attacked corpus, ONE masked-sum decode aggregation + the tiny vote groupBy, votes fold to per-character integer codes against the 16x2 literal grid — no selection-chain rebuild; the AES-GCM decrypt is a spec-side JVM call on THIS key's output (the only stage left outside the oracle gate)",
    "vec_topk_graph_filtered" -> "unfiltered navigation over the cached g_knn edges (same hub entries / 3 hops / beam 16 as vec_topk_graph — per-qid rank windows bounded-state under the graft_topk rewrite), predicate pushed into RESULT COLLECTION: the visited union b0..b3 joins labels once and ranks within the filter — no re-scored corpus, no filtered traversal that would disconnect the graph",
    "dedup_paragraph" -> "one word explode + one (doc, window) groupBy builds the 8-token window hashes; the DF-cap filter (df between 2 and 20) kills boilerplate hot hashes BEFORE the pair self-join, so pair work is bounded per hash — linear in windows; containment is a per-pair division against the tiny per-doc window census",
    "vec_bq_rotation" -> "the rotation is ONE 64-masked-sum HashAggregate over the exploded rows (codegen'd AND an optimizer barrier — the per-row unrolled-dot and array-lambda-butterfly forms both fell out of codegen and cost 28-41 s at 20k vectors; this form is 2.9 s); both legs' balance censuses are single combinable aggregations, and the two Hamming rankings join the 8-byte code tables — bit-math scans, the raw-vector table is touched only by the exact-cosine truth leg on the fixed query set",
    "decontaminate_ngram_curve" -> "ONE 13-lead window pass; all three shingle hashes are prefix projections of the same leads, rung expansion is a 3-row cross join (never a 3x re-window), one (n, g) hash join feeds the per-n census — zero-filled from the rung spine",
    "text_lang_mix" -> "one (doc, window) stopword-hit groupBy, one doc-partitioned lag over classified windows, majority via the two-aggregation argmax (max count then min lang) — no corpus windows, all censuses combinable",
    "events_periodogram" -> "one daily census + ONE 18-column exact-integer aggregation (quantized-trig literal arrays indexed by day % P); everything after is scalar math over the 1-row moment table cross-joined to the 4-row period spine",
    "dedup_quality_impact" -> "components over the checkpointed CONTRACTED graph (r10: equal-signature contraction — docs sharing a sig are a clique, so propagation runs over 174k reps / 2.5M rep edges instead of 500k docs / 22.5M pairs at 100x; labels provably unchanged), every multi-referenced propagation input parquet-backed; quality folds to x10^4 integers in one doc join; both keeper policies are combinable aggregations per component (min(id), max(struct(qi, -id))), and the three per-source means are integer-sum groupBys — no float accumulation, no corpus re-scan",
    "dedup_components" -> "equal-signature contraction then 6 min-label rounds over the parquet-backed rep graph (g_simreps/g_simrpairs/g_simnodes/g_simsym — Catalyst re-inlines multi-referenced CTEs, so every 6x-referenced input must be a cheap scan, never a derivation); expansion is one rep-join back to docs. 100x serving leg 9.0 s vs 66 s uncontracted",
    "graph_betweenness" -> "walk-count chain over the scratch-persisted symmetrized edges (each level one join + one combinable sum, referenced once by its successor); sigma extracted with one min(struct) aggregation; the Brandes backward pass is two successor joins with 1e-6-quantized integer dependency sums — frontiers are O(S*K^d), independent of N",
    "graph_closeness" -> "the betweenness forward chain minus path counts: per-hop DISTINCT expansion over the SAME scratch-persisted symmetrized edge table (levels bounded by the reach set, each referenced once); distance = min(step) in one combinable groupBy; 1e-6-quantized 1/d bigint folds — frontiers O(S*K^d), independent of N",
    "q12_shipmode" -> "one orders-lineitem hash join with the ship-date range pushed to the fact scan, latency computed map-side, conditional bimodal counts in one combinable aggregation — output domain-bounded (2 rows), no windows",
    "q21_waiting_supplier" -> "the Q21 exists/not-exists double-correlation folded into ONE fact scan: late tag map-side, per-order distinct-supplier rollup (combinable), join back on the order key keeps lone-late-supplier rows, supplier dim broadcasts into the final count — one fact pass where the textbook plan pays three",
    "q_gini_revenue" -> "per-customer cents-exact spend groupBy to a $100 grid census, ONE domain-bounded cumulative window, Gini from the tie-block rank-sum identity + Lorenz shares in one aggregation — never a per-customer global sort",
    "ann_recall_after_delete" -> "ann_recall_eval's protocol with broadcastable tombstone anti-joins on both legs (ground truth and LSH candidates restricted to the alive set); candidate work stays bucket-bounded, brute leg stays O(|Q|*N) on the fixed query sample",
    "events_markov_stationary" -> "transition census scratch-materialized (the only corpus pass); the 8-step ppm power iteration is bounded driver math over <= |types|^2 collected rows (the attribution convention) — no per-step shuffled aggregations",
    "graph_knn_degree_curve" -> "reads the scratch-persisted symmetrized edge table (shared with betweenness/closeness) — the edge set is referenced ~5x and the inline form re-derived the kNN build per reference (36.5 s vs 1.1 s at 30x); neighbor-degree sums are combinable groupBys; per-bucket output is an exact integer ratio, domain-bounded by the max degree",
    "events_ab_uplift_deciles" -> "per-user rollup (one combinable groupBy) feeds a domain-bounded pre-activity census; ONE cumulative window over the census assigns tie-block deciles; the census join back is broadcastable; final 10-row agg — two corpus scans total, no per-user window",
    "vec_pca_residual" -> "JVM-solved axes inlined as exact double literals (the pca_project2d convention): the residual pass is ONE map-only corpus scan with per-row 1e-6 quantization + one rollup aggregation — no 1-row CTE chain at serve time",
    "multimodal_bmp_resize" -> "batched mapPartitions decode -> integer 2x2 box downsample -> features over the 4x4 thumbnail, one combinable label shuffle — same envelope as multimodal_bmp_features (the resize adds O(pixels) map-side work, nothing shuffled grows)")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def fmt(df: org.apache.spark.sql.DataFrame): String = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // keep the operator tree, drop the verbose node details
      plan.linesIterator.takeWhile(_.trim.nonEmpty).mkString("\n")
    }
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `runMain graft.Plans` on `$sfDir` with\n")
    sb.append("`useViews = true` (the WmCache-backed renderings the bench\n")
    sb.append("actually executes) after `WmCache.ensureAll`. Section 1 audits\n")
    sb.append("the one-off artifact BUILDS as WmCache runs them (the chain\n")
    sb.append("kernels with their RDD lineage, the selection chain and the\n")
    sb.append("index SQL); section 2 audits the steady-state query plans.\n")
    Tables.register(spark, sfDir)
    // build every artifact first so view-backed renderings resolve;
    // stage-build plans are explained against the registered views, as
    // WmCache materializes them — from the same rendering SparkEntry
    // and WmCache use for this dir
    WmCache.ensureAll(spark, sfDir)
    val genViews = SparkEntry.sparkGenFor(spark, sfDir)
    sb.append("\n# Section 1 — artifact builds (once per session / scratch miss)\n")
    for ((view, _) <- genViews.cacheStages) {
      // a kernel's plan is one scan of its output rows: its RDD lineage
      // shows the passes and shuffles that compute them
      val df = WmCache.stageFrame(spark, sfDir, view)
      val lineage = df.queryExecution.logical match {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          s"\n\nRDD lineage:\n${r.rdd.toDebugString.replaceAll(" at (\\$anonfun\\S*|\\S+\\.(scala|java):\\d+)", "")}"
        case _ => ""
      }
      sb.append(s"\n## build $view\n\n${stageNotes(view)}\n\n```\n${fmt(df)}$lineage\n```\n")
    }
    sb.append("\n# Section 2 — steady-state query plans (view-backed)\n")
    for ((name, note) <- notes.toSeq.sortBy(_._1)) {
      // method-based keys (checkpointed-scratch consumers) render via
      // the driver entrypoint, which sets up their g_* temp views
      val df =
        if (genViews.keys.contains(name) && !SparkEntry.programmaticKeys(name))
          spark.sql(genViews.sql(name))
        else SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$note\n\n```\n${fmt(df)}\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${genViews.cacheStages.size} stages + ${notes.size} queries) at $sfDir useViews=true")
    spark.stop()
  }
}
