package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Regenerates PLANS.md: the formatted physical plans of the headline
  * queries, with the scale-relevant lines annotated. Run after plan-shape
  * changes: `sbt "runMain graft.PlanDoc"`. */
object PlanDoc {
  val Headline = Seq(
    "q1_pricing" -> "full-scan multi-aggregate: one partial+final hash agg, no extra exchange",
    "q_filter_events" -> "predicate + projection pushed into the parquet scan",
    "q_enrich_join" -> "dimension broadcast — fact side never shuffles",
    "q5_region_revenue" -> "6-way join: date range pushed to orders scan, dims broadcast",
    "q_sim_topk" -> "1-row probe broadcast + TakeOrderedAndProject (per-partition heaps)",
    "q_dedup_minhash" -> "shingle shuffle → 16-column min agg → band bucket self-join → verify",
    "q_tumbling_window" -> "windowed agg = single hash partial/final pair on (window, key)",
    "q_asof_join" -> "as-of join as union + running last_value — ZERO join operators, no range-join explosion",
    "q_ngram_jaccard" -> "df-cut: hot-shingle list broadcast (anti/semi), rare self-join, exact verify",
    "q_simhash_pairs" -> "packed 64-bit fingerprints, int chunk keys, bit_count Hamming verify",
    "q_ivf_assign" -> "IVF quantizer: broadcast centroids, codegen scoring, map-side argmax agg",
    "q_decontaminate" -> "bench shingle set broadcast-probes the corpus — no corpus shuffle for the membership test",
    "q_seq_pack" -> "sequence packing: one window exchange on the shard key, running sums within",
    "q_domain_mix" -> "broadcast rate table + deterministic hash filter — corpus scans once, never shuffles pre-agg",
    "q_sim_topk_batch" -> "batched top-k: bounded ObjectHashAggregate partial/final (tasks×p×k shuffle rows), probe set broadcast, no window sort",
    "q_quality_cut" -> "per-group percentile threshold (tiny agg) broadcast back over the scan-side quality projection",
    "q_corpus_stats" -> "scan-side quality/token projection → (source, lang) partial agg → (source) agg, all integer sums",
    "q_fixed_sample" -> "exact-n-per-group sample: one corpus scan → bounded ObjectHashAggregate on the id hash — no window sort",
    "q_chunking" -> "overlapping token chunks: tokenize → sequence → posexplode → slice, one projection chain, zero shuffle",
    "q_quantize_int8" -> "int8 quantization: exploded (id, pos, x) rows + d-row codebook broadcast — no corpus shuffle",
    "q_gap_fill" -> "gap fill: grid/join/window all at (key, bucket) cardinality — the event corpus never hits a window",
    "q_semdedup" -> "semantic dedup: broadcast-centroid quantize, in-cell pairs only, left-anti against the pair-sized dup set",
    "q_semdedup_tree" -> "hierarchical semantic dedup: per-level bounded-agg seed pick + argmax re-assign of only still-oversized cells (~n log n total), leaf-bounded pairs, left-anti drop",
    "q_semdedup_tree_multi" -> "tree x multi semantic dedup: primary hierarchy identical to the tree lane, one frozen shadow membership per split (TopKHits(2) rn=2, NaN->+Inf ordering), <= 1+depth memberships — 0.367->0.849 drop recall at sf1 for 3.5x at 10x data",
    "q_semdedup_multi" -> "multi-assignment semantic dedup: top-2 cells per vector via bounded TopKHits, pairs in any shared cell + distinct — the measured recall lever (0.67->0.89 drop recall at sf1)",
    "q_edit_pairs" -> "edit-distance verify: banded candidates only — thresholded Levenshtein never sees a corpus cross product",
    "q_decontam_bloom" -> "Bloom pre-filter scan-side kills non-overlap shingles before the exact-verify shuffle join",
    "q_repeated_spans" -> "sliding-window spans: generate + projection, one partial-agg shuffle keyed on the span",
    "q_winsorize" -> "percentile band agg broadcast back over the scan — corpus never shuffles",
    "q_bpe_pairs" -> "word-freq agg (corpus-sized, map-side combined) then vocabulary-sized pair explode + agg",
    "q_curation_indexed" -> "curation over the STORED cluster table: label equi-joins replace the inline minhash+CC kernel",
    "q_train_shards" -> "deterministic training shards: scan-side hash, ONE exchange on shard_id, window after it",
    "q_eval_split" -> "train/val/test split: the hash IS the operator — pure projection + 3-row agg, zero corpus shuffle",
    "q_bigram_lp" -> "bigram LM: token-sized explode into one map-side-combinable count agg; context totals re-aggregate the Zipf-small relation",
    "q_ivf_assign2" -> "2-iter refined assignment: still broadcast centroids + map-side argmax — refit never changes the plan shape",
    "q_ivf_batch" -> "batched IVF probe: PartitionFilters-pruned union-of-cells scan, broadcast (probe, cell) restriction, bounded per-probe top-k agg",
    "q_skew_report" -> "key-skew report: map-side-combinable count agg, then top-k + broadcast total over the keys-sized relation — the corpus scans once",
    "q_dp_user" -> "user-level DP: (group,user)-grain clamp agg → group sum → scan-side seeded-noise projection — both aggs map-side combinable, noise is groups-sized",
    "q_knn_classify" -> "kNN vote: broadcast probe panel → one corpus scan → bounded top-k agg → p·k-row vote argmax — nothing corpus-sized after the scan",
    "q_ivf_topk2" -> "probe of the refined-centroid index: partition-pruned cell scan + 1-row probe broadcast + TakeOrderedAndProject",
    "q_bigram_score" -> "LM scoring pass: pair stream joins ONLY broadcast relations (trimmed model, unigram vocab, 1-row total) then one per-doc agg",
    "q_source_overlap" -> "DISTINCT (source, shingle) self-join — per-key fan-out bounded by source count, no df-cut needed",
    "q_gopher_flags" -> "per-rule quality gates: one codegen projection chain, zero shuffle",
    "q_scd2" -> "SCD2 intervals: lag-compress + lead-close share ONE key exchange; output ≤ input rows",
    "q_join_profile" -> "join profile: per-side keys-sized count relations join each other — the corpora scan once and never join",
    "q_kmv_distinct" -> "KMV cardinality sketch: ≤ k-long partial states combine map-side — the sketch shuffles, never the distinct value set",
    "q_weighted_sample" -> "Sequential Poisson sample: scan-side key projection → bounded TopKHits agg → broadcast winner join-back, no window sort",
    "q_cluster_sample" -> "cluster-diversity sample: broadcast centroids → map-side argmax cells → cells-sized pct table broadcast back — zero corpus shuffles",
    "q_dsir" -> "DSIR weights: one vocab agg builds BOTH models; vocab + totals broadcast back over the token stream into one per-doc agg",
    "q_mad_outliers" -> "median/MAD outliers: two exact-percentile group passes, groups-sized medians broadcast back over the scan",
    "q_range_join" -> "range join as bucketed equi-join: interval table exploded into buckets, fact side computes its bucket scan-side — hash join, NOT BroadcastNestedLoop",
    "q_markov_chain" -> "Markov transitions: one key exchange + lead scan, transition-grain agg, from-totals broadcast back",
    "q_top_paths" -> "top paths: per-key lead scan → paths-sized count agg → TakeOrderedAndProject",
    "q_oov_rate" -> "OOV rate: vocab via TakeOrdered over the token agg, broadcast back over the token stream, per-doc agg",
    "q_silhouette" -> "silhouette: n·d centroid agg → k-row broadcast → scan-side cosine panel → labels-sized final agg",
    "q_dim_variance" -> "per-dimension moments: posexplode into ONE map-side-combinable pos-keyed agg — zero joins, zero corpus shuffle",
    "q_sem_decontam" -> "semantic decontamination: bench panel broadcast over one corpus scan, left-anti on the hits-sized id set — corpus never shuffles for the membership test",
    "q_pagerank" -> "PageRank: per-iteration = src-keyed join + dst-keyed agg over the EDGE relation only — the event corpus is scanned once to build edges, never per iteration",
    "q_triangles" -> "triangles: the 4-way fact join derives the bounded edge relation; degree-ordered orientation caps wedge fan-out at O(√m) per node",
    "q_ewma" -> "EWMA: ONE key exchange + window pass shared by ALL lag terms — an integer dot product, no recursive state",
    "q_regression" -> "OLS trend: one map-side-combinable 5-sum decimal agg at group grain — the corpus scans once, nothing downstream exceeds group cardinality",
    "q_corpus_diff" -> "snapshot diff: scan-side md5 fingerprints, one full-outer key join carrying (key, fp) only",
    "q_posting_lists" -> "inverted index: ONE term-keyed agg builds df + postings together; df band cuts the Zipf head",
    "q_novelty" -> "novelty: shingle-keyed min agg + join-back — two partial-agg shuffles, no self-join blowup",
    "q_table_profile" -> "column profile: ONE corpus pass for every per-column stat (Expand for exact distincts), |cols|-row reshape",
    "q_knn_graph" -> "kNN graph: broadcast-centroid cells → in-cell pair join → bounded per-source TopKHits agg, no window sort",
    "q_knn_graph_scaled" -> "same graph at the production k = ⌊√n⌋ (AutoCells) — identical plan shape, cells sized to survive corpus growth",
    "q_knn_graph_multi" -> "multi-probe kNN graph: argmax corpus cells (stored-index layout) joined by the top-nProbe probe-side assignment — recall linear in nProbe (0.081->0.334 at p8, sf1), same bounded TopKHits ranking",
    "q_knn_graph_tree" -> "tree-blocked kNN graph: leaf-bounded candidates (n·maxLeaf) replace the flat family's n^1.5 law — 3.1x at 10x data",
    "q_knn_graph_tree_multi" -> "shadow-membership kNN graph: tree leaves + frozen runner-up memberships, duplicate pairs collapsed INSIDE the bounded TopKHits(distinct) state (no candidate-grain exchange) — recall 0.179 at sf1 with a ~linear wall-time law (5.7x at 10x)",
    "q_bfs_hops" -> "BFS round: frontier equi-join against the cached edge relation + map-side-combinable min agg; lineage truncated per round (stats-flat)",
    "q_dbscan" -> "grid-blocked DBSCAN: 9-cell key explode + cell equi-join (lossless — cell width = eps), density-bounded fan-out, no all-pairs cross",
    "q_itemsets3" -> "apriori triples: frequent-pair tier reused 3×, candidates closed by LeftSemi joins BEFORE the basket verify fan-out",
    "q_join_delta" -> "join-view delta rule: both delta sides broadcast — the masters scan once each and NEVER reshuffle on the view key",
    "q_quantile_sketch" -> "quantile summary: bounded bottom-k sample agg (ObjectHashAggregate) + broadcast join-back; the rank window sees only groups×k sample rows",
    "q_func_deps" -> "FD profile: pair panel stacks into ONE corpus scan → two map-side-combinable aggs — P candidates never cost P scans",
    "q_ldp_freq" -> "k-RR release: domain broadcast twice (index, decode), perturbation is a scan-side md5 projection, one domain-grain count agg",
    "q_hits" -> "HITS: per-half-step = edge-keyed join + agg + 1-row broadcast normalize — edges scanned, never self-joined",
    "q_pq_adc" -> "PQ ADC top-k: m·k LUT broadcast onto the CODES relation (3 small ints/row, not dim floats), integer sum, TakeOrderedAndProject",
    "q_anomaly_z" -> "rolling z²: ONE key exchange; count/s1/s2 and the cross-multiplied k-sigma test share a single window pass",
    "q_cusum" -> "CUSUM via prefix form: keys-sized mean agg broadcast back, then running sum + running min in one ordered pass — no recursion in the plan",
    "q_global_shuffle" -> "global shuffle order WITHOUT a global sort: bucket counts prefix-summed over a buckets-sized window, broadcast back, rank within bucket",
    "q_pmi" -> "PMI pairs: doc-keyed self-join (per-doc bounded fan-out), vocab²-bounded pair agg, unigram counts + N broadcast",
    "q_triplets" -> "contrastive triplets: one cell exchange (rank + lead share it), k-row sizes broadcast, (cell, rank) equi-join — no pair explosion",
    "q_expectations" -> "expectation suite: every rule folds into ONE wide aggregate — one scan however many rules, |rules|-row reshape",
    "q_psi" -> "PSI drift: two scan-side bucket counts (map-side combinable), fixed-B grid merge, 1-row totals broadcast — nothing corpus-sized after the scans",
    "q_link_tables" -> "record linkage: per-side band kernels, (band, band_key) cross-table join — candidates, never the cross product, reach the thresholded Levenshtein",
    "q_user_sequences" -> "user sequences: rank-truncate BEFORE collect (bounded buffers); groupBy reuses the window's key partitioning",
    "q_cuped" -> "CUPED: one 5-sum global agg (1 row, broadcast) + one variant-grain agg — the unit frame scans twice, nothing exceeds variant cardinality",
    "q_kcore" -> "k-core: per round ONE nodes-sized degree agg + two semi-joins; edges shrink monotonically, never self-join; localCheckpoint per round",
    "q_kmv_overlap" -> "KMV set algebra: ONE corpus scan into bounded sketches; all pair estimates run on the groups²×k sketch relation — the corpus is never rescanned per pair",
    "q_heavy_hitters" -> "count-min: ONE base digest per item behind a projection boundary, affine row buckets, grid-bounded count agg; the ≤ depth·width-cell sketch broadcasts to the probe",
    "q_autocorr" -> "ACF: ONE key exchange + window pass shared by every lag's lead, then one map-side-combinable decimal agg at key grain",
    "q_covisit" -> "co-occurrence: basket-keyed self-join with capped per-basket fan-out; supports and the 1-row N attach by broadcast",
    "q_label_prop" -> "label propagation: per round one edges-grain vote shuffle + (node,label) agg + per-node window cut over neighbor-label rows only",
    "q_rand_proj" -> "JL projection: sign literals baked at plan build — scan → filter → one codegen projection → stack, ZERO shuffle, no hash evaluation",
    "q_zorder" -> "Z-order key: 1-row min/max agg broadcast back, then one shift-and-mask interleave projection — the layout writer adds a single range exchange",
    "q_token_budget" -> "token budget: sources-sized relation; per round ONE 1-row aggregate broadcast back — the corpus is never touched",
    "q_calibrate" -> "quantile calibration: ONE group exchange; rank() and count() share the window pass — the approx grid variant replaces the sort with a broadcast",
    "q_mix_execute" -> "mixture execution: avail agg → water-fill rounds on the sources-sized relation → plan BROADCAST back over one corpus scan — plan and execution are one lazy DAG",
    "q_pit_join" -> "point-in-time join: SCD2 lag-compress + as-of union/last_value — ZERO join operators between facts and history",
    "q_margin_mine" -> "margin mining: in-cell A×B candidates (never a side cross join), bounded per-side top-k aggs, id-keyed margin joins",
    "q_ivfpq_topk" -> "IVF-PQ probe: PartitionFilters-pruned code partitions, broadcast m·k LUT, vector-free (id, sub, code) scan, TakeOrdered cut",
    "q_bm25_topk" -> "BM25: panel filter BEFORE the tf agg (the one shuffle carries query-term postings, not the vocabulary), df/panel/stats broadcast, bounded per-query TopKHits agg",
    "q_bm25_stored" -> "stored-stats BM25 scoring: driver-side idf constants + per-row panel tf/length from ONE native byte pass (panel_term_stats, zero HOFs, whole-stage codegen) — pure projection + explode, ZERO shuffle (the plan a percolating stream runs); sf10 scoring wall 89s -> 14.8s",
    "q_rrf_fusion" -> "RRF: both ranker legs are top-k-bounded before the fuse — the full-outer join + rank window touch ≤ 2k rows",
    "q_rank_metrics" -> "ranking eval: system/gold are bounded ranker outputs; hit join, per-group aggs and the ≤k-element IDCG fold are all groups-sized",
    "q_char_entropy" -> "char entropy: ONE native byte-pass kernel per row, fixed-order 26-term fold — scan → project, zero shuffle",
    "q_embed_cov" -> "covariance: narrow nested explode builds the i≤j pair stream (no self-join) — the ONLY shuffle is the (i,j) partial agg, output d²-bounded",
    "q_media_dups" -> "media dedup: typed-map aHash, 16-bit chunk bucket self-join — candidates, never the payload cross product",
    "q_jaro_pairs" -> "Jaro-Winkler linkage: blocked equi-join candidates, codegen'd JW verify — the scorer never sees a cross product",
    "q_bootstrap" -> "Poisson bootstrap: ONE corpus scan, per-resample affine counts explode into a map-side-combinable b-grain agg (tasks×B shuffle rows)",
    "q_hll_registers" -> "HyperLogLog: scan-side hash/bucket/rank projection into one bounded two-phase MAX agg — 64 rows per group at any corpus size",
    "q_woe" -> "WOE/IV: bin-grain agg + 1-row totals broadcast back — the corpus shuffles once at bin grain",
    "q_target_encode" -> "LOO target encoding: category agg + 1-row rate broadcast back onto the scan — no window, no self-join",
    "q_conformal" -> "conformal bound: distinct-cents reduction, domain-bounded cumulative window, 1-row rank/threshold broadcasts — no corpus sort",
    "q_compress_ratio" -> "entropy-coded size: char explode collapses map-side to docs×alphabet before the exchange, doc-grain sizes join — the r9 oracle-able compressibility lane",
    "q_link_indexed" -> "stored-index linkage: reference bands+texts read from parquet (kernel paid at build), delta-side kernel + candidates-only Levenshtein verify",
    "q_semdedup_indexed" -> "stored-index semantic dedup: delta assigns against the broadcast centroid table, screens ONLY its touched index cells (partition-pruned IN literal) — delta-sized per-batch cost, never a corpus rescan",
    "q_spearman" -> "Spearman rho: two value-domain rank relations join back on (group, value) — the corpus shuffles twice at row grain, windows only ever sort the value domain",
    "q_item_cf" -> "item-item CF: basket-gated pairing self-join, supports attach by BROADCAST, top-k via a per-item window — no global sort, ranking on truncated integer cos²",
    "q_js_sources" -> "per-source JSD: (source, word) agg + vocab/source-grain totals; absent-word mass folds in closed form — no source×vocab cross join in the plan",
    "q_skyline" -> "2-D skyline: value-domain agg, per-x max window, one domain-bounded running max — the corpus contributes a single scan, nothing pairwise",
    "q_cms_join_size" -> "CMS join-size: two scan-side sketch builds into depth×width cells, cell-join dot product — the estimated join never runs, inputs never shuffle",
    "q_spearman_sketch" -> "Spearman sketch lane: Bernoulli-by-hash sample filter scan-side, groups×k model collected+broadcast, per-partition binary-search ranks folding the Pearson partials — zero corpus shuffles (vs the exact lane's two row-grain rank joins)",
    "q_fs_matches_scaled" -> "FS scale lane: capBlocks row_number windows bound every (nat, postcode) block at 12/side BEFORE the candidate equi-join — pair volume is cap²·|blocks| at any corpus density",
    "q_dbscan_clusters" -> "DBSCAN labels: partition-local union-find contraction (mapPartitions, no shuffle) collapses chains into stars before the flat-checkpointed pointer-doubling loop — global rounds scale with cross-partition hops, not component diameter")

  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.local(SessionTuning.cpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDoc\"` at sf0.001. The plan-shape\n")
    sb.append("invariants asserted in `PlanSpec` are visible here: pushdown/pruning at\n")
    sb.append("the scans, broadcasts for dimensions, TakeOrderedAndProject for top-k.\n")
    for ((q, note) <- Headline) {
      sb.append(s"\n## $q — $note\n\n```\n")
      val plan = SparkEntry.queries(q)(spark, d).queryExecution
        .explainString(FormattedMode)
      // keep the operator tree + scan details; drop the long per-node dumps
      val lines = plan.split("\n")
      val treeEnd = lines.indexWhere(_.trim.isEmpty)
      val tree = if (treeEnd > 0) lines.take(treeEnd) else lines
      val scans = lines.filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema"))
      (tree ++ Array("") ++ scans).foreach(l => sb.append(l).append("\n"))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
