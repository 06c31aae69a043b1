package graft

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan invariants — the properties that make these operators
  * viable at 100 TB. Asserted so a refactor can't silently regress them:
  * filter/column pushdown must reach the parquet scan, dimension joins must
  * broadcast (never shuffle the fact side), and top-k must be a
  * TakeOrderedAndProject (per-partition heaps), not a global sort. */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** The query's plan — for a [[ContractSorted]] entry, its body's plan:
    * the barrier truncates the declared plan above the kernels. */
  private def plan(q: String): String = (SparkEntry.queries(q) match {
    case c: ContractSorted => c.body(spark, d)
    case f => f(spark, d)
  }).queryExecution.explainString(FormattedMode)

  test("filters and projection push down to the parquet scan") {
    val p = plan("q_filter_events")
    assert(p.contains("EqualTo(event_type,click)"), "filter must reach PushedFilters")
    assert(p.contains("GreaterThan(value,10.0)"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props"), "unused columns must be pruned from the scan")
  }

  test("column pruning: projection query reads only needed columns") {
    val readSchema = plan("q_project_revenue").linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"))
  }

  test("dimension enrichment broadcasts the small side") {
    val p = plan("q_enrich_join")
    assert(p.contains("BroadcastHashJoin"), "dim join must broadcast, not shuffle the fact side")
    assert(!p.contains("SortMergeJoin"))
  }

  test("multi-way join pushes the date-range predicate into the orders scan") {
    val p = plan("q5_region_revenue")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "range filter must reach the scan")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q_topk_users").contains("TakeOrderedAndProject"))
    assert(plan("q_sim_topk").contains("TakeOrderedAndProject"))
  }

  test("as-of join compiles to union + window — no join operator anywhere") {
    // The range theta-join formulation would show a Join with a non-equi
    // condition (quadratic per hot key); the union-of-streams form must not
    // contain ANY join node — its only shuffles are the right side's
    // pre-aggregation and the window sort.
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), "asofJoin must not plan a join operator")
    assert(p.contains("Window"), "running last_value window expected")
  }

  test("ngram df-cut: hot-shingle split uses broadcast anti/semi joins") {
    val p = plan("q_ngram_jaccard")
    assert(p.contains("BroadcastHashJoin") &&
      (p.contains("LeftAnti") || p.contains("LeftSemi")),
      "rare/hot split must broadcast the hot-shingle list, not shuffle the shingle relation")
  }

  test("packed SimHash pairing verifies with codegen'd bit_count, not string hamming") {
    val p = plan("q_simhash_pairs")
    assert(p.contains("bit_count"), "Hamming verify must be bit_count over packed longs")
  }

  test("decontamination probes the corpus via broadcast — no corpus-side shuffle join") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "bench shingle set must broadcast; the corpus must not shuffle for the membership test")
    assert(!p.contains("SortMergeJoin"))
  }

  test("domain mix: rate table broadcasts and the keep filter runs scan-side") {
    val p = plan("q_domain_mix")
    assert(p.contains("BroadcastHashJoin"), "rate table must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("sequence packing: one shard-key window shuffle plus the final sort, nothing more") {
    // The running sum must cost exactly one data shuffle (hashpartitioning
    // on the shard key for the window); the only other exchange is the
    // query's own deterministic orderBy (rangepartitioning). A third
    // exchange would mean the pack-id arithmetic re-shuffled.
    val p = plan("q_seq_pack")
    assert(p.contains("Window"), "running token sum must be a window function")
    val exchangeOps = p.linesIterator.count(_.matches(""".*[+:]- Exchange \(\d+\)"""))
    assert(exchangeOps == 2,
      s"expected exactly 2 exchanges (window hash + orderBy range), got $exchangeOps:\n$p")
    assert(p.contains("hashpartitioning(shard"), "window must partition by the shard key")
  }

  test("feature normalization broadcasts the per-group stats back over the scan") {
    val p = plan("q_feature_norm")
    assert(p.contains("BroadcastHashJoin"), "stats join must broadcast")
    assert(!p.contains("SortMergeJoin"), "the event scan must not shuffle for the stats join")
  }

  test("IVF probe scans only its nprobe cells of the stored index — no per-probe quantization") {
    // q_ivf_topk builds the index (side effect), then returns the PROBE
    // plan. That plan must (a) prune the index scan down to the nprobe
    // winning cells via PartitionFilters, and (b) contain no aggregate —
    // the argmax quantization belongs to the build, and its presence here
    // would mean the probe re-quantizes the corpus (round-2's `weak`).
    val p = plan("q_ivf_topk")
    val pruned = p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("centroid_id") && !l.contains("PartitionFilters: []"))
    assert(pruned, s"probe must partition-prune on centroid_id:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      "probe plan must contain no aggregate (no per-probe quantization)")
    assert(p.contains("TakeOrderedAndProject"), "final top-k must be per-partition heaps")
  }

  test("batched IVF probe: pruned index scan, probed-cell broadcast, no window sort") {
    // One scan of the union of probed cells (PartitionFilters on
    // centroid_id), candidates restricted by the broadcast (probe, cell)
    // relation, per-probe top-k via the bounded aggregate — a per-probe
    // loop or a row_number window would both be regressions.
    val p = plan("q_ivf_batch")
    val pruned = p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("centroid_id") && !l.contains("PartitionFilters: []"))
    assert(pruned, s"batch probe must partition-prune on centroid_id:\n$p")
    assert(p.contains("ObjectHashAggregate"), "bounded top-k agg expected")
    assert(!p.contains("Window"), "no window sort of the scored candidates")
    assert(p.contains("BroadcastHashJoin"), "(probe, cell) relation must broadcast")
    assert(!p.contains("SortMergeJoin"), "the pruned scan must not shuffle to meet the probes")
  }

  test("indexed semantic dedup: the screen reads only the delta's touched cells") {
    // q_semdedup_indexed builds the master index (side effect), then
    // returns the SCREEN plan. The index member read must partition-prune
    // to the delta's touched cells (the bounded cell-list IN literal) —
    // an unpruned scan would re-read the whole canonical corpus per
    // delta, the exact cost the stored index exists to avoid.
    val p = plan("q_semdedup_indexed")
    val pruned = p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("centroid_id") && !l.contains("PartitionFilters: []"))
    assert(pruned, s"index member scan must partition-prune on centroid_id:\n$p")
    assert(!p.contains("Window"), "no window sort anywhere in the screen")
  }

  test("batched top-k: bounded aggregate with map-side combine, no window sort") {
    // The scored (probe × corpus) rows must reach the shuffle already
    // reduced to ≤ k per (task, probe) by the TopKHits partial aggregate —
    // a row_number window here would shuffle AND sort the full scored set.
    val p = plan("q_sim_topk_batch")
    assert(p.contains("ObjectHashAggregate"), "typed top-k agg must object-hash-aggregate")
    assert(p.toLowerCase.contains("partial_topkhits"),
      "partial (map-side) aggregation mode expected before the shuffle")
    assert(!p.contains("Window"), "no window sort of the scored set")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "probe set must broadcast")
  }

  test("quality percentile cut: one corpus scan, thresholds broadcast back") {
    val p = plan("q_quality_cut")
    assert(p.contains("BroadcastHashJoin"), "per-group thresholds must broadcast")
    assert(!p.contains("SortMergeJoin"), "the corpus must not shuffle for the threshold join")
    // one scan for the quality side, one feeding the threshold agg — the
    // keepCols plumbing means no THIRD scan/self-join for the group column.
    // Path-based reads have no table name on the node line, so count the
    // scan NODES (this plan reads only the documents table). FormattedMode
    // prints each node twice — tree line "Scan parquet  (n)" and detail
    // header "(n) Scan parquet" — so match the tree form only.
    assert(scanNodes(p) == 2, s"expected exactly 2 document scans:\n$p")
  }

  test("fixed-size sample: bounded aggregate, no window sort, single corpus scan") {
    // Same contract as the batched top-k: the per-group ranking must be
    // the map-side-combinable TopKHits aggregate, not a row_number window
    // over every row.
    val p = plan("q_fixed_sample")
    assert(p.contains("ObjectHashAggregate"), "typed top-n agg must object-hash-aggregate")
    assert(p.toLowerCase.contains("partial_topkhits"),
      "partial (map-side) aggregation mode expected before the shuffle")
    assert(!p.contains("Window"), "no window sort of the corpus")
    assert(scanNodes(p) == 1, "exactly one corpus scan")
  }

  test("boilerplate strip: hot-span head broadcasts as LEFT ANTI, no window sort") {
    // The membership test must join against the small `df > maxDf` head
    // (broadcast anti), never the near-corpus-sized kept-span relation —
    // same df-cut idiom as the ngram Jaccard pairs.
    val p = plan("q_boilerplate")
    assert(p.contains("BroadcastHashJoin LeftAnti"),
      "hot-span membership must be a broadcast anti join")
    assert(!p.contains("SortMergeJoin"), "the chunk stream must not shuffle for the cut")
    assert(!p.contains("Window"), "reassembly is a groupBy agg, not a window sort")
  }

  test("unigram logprob: vocabulary broadcasts back over the token stream") {
    val p = plan("q_unigram_lp")
    assert(p.contains("BroadcastHashJoin"), "vocab join must broadcast")
    assert(!p.contains("SortMergeJoin"), "the token stream must not shuffle for the vocab join")
    assert(!p.contains("Window"))
  }

  test("PII redaction is a pure scan-side projection — no join, agg, or shuffle before the sort") {
    val p = plan("q_pii_redact")
    assert(!p.contains("Join"), "redaction must not join")
    assert(!p.contains("Aggregate"), "redaction must not aggregate")
    // exactly one exchange: the final presentation orderBy
    assert(p.linesIterator.count(l => l.matches(""".*\bExchange\s+\(\d+\)\s*""")) == 1,
      s"only the presentation sort may exchange:\n$p")
  }

  test("gap fill: one event scan (bucket agg reused by both branches), window after the agg") {
    val p = plan("q_gap_fill")
    // the cached relation's inner plan is PRINTED under each
    // InMemoryTableScan, so count DISTINCT scan node ids, not occurrences
    val scanIds = """Scan parquet\s+\((\d+)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1,
      s"span/grid and join branches must share the persisted bucket aggregate:\n$p")
    assert(p.contains("InMemoryRelation"),
      "the bucket-grain aggregate must be the shared cached relation")
    // the window must consume the post-aggregate bucket stream: exactly one
    // Window node, and the grid side joins it without shuffling the corpus
    assert(p.linesIterator.count(l => l.matches(""".*\bWindow\s+\(\d+\)\s*""")) == 1)
  }

  test("edit-distance pairs: banded candidates only — no cartesian, no corpus cross join") {
    val p = plan("q_edit_pairs")
    assert(!p.contains("CartesianProduct"), "the verify must never see a cross product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be an equi-join on (band, band_key)")
  }

  test("Bloom decontamination: the pre-filter runs scan-side, BELOW the exact-verify join") {
    val p = plan("q_decontam_bloom")
    // operators above the join print BEFORE the join line in the formatted
    // tree, descendants after — so "UDF filter's tree line comes after the
    // verify join's" pins the probe to the join's input side, where it
    // kills rows before the shuffle. Find the UDF-bearing Filter node id in
    // the detail section, then locate both nodes in the tree.
    val tree = p.linesIterator.takeWhile(_.nonEmpty).toSeq
    // anchor on the LAST join in the tree (the deepest — the verify join):
    // a future plan gaining an upper join must not loosen the pin
    val joinLine = tree.lastIndexWhere(_.contains("Join"))
    assert(joinLine >= 0, s"expected a join in:\n$p")
    // detail headers read "(n) Filter"; the node's condition follows within
    // a few lines — the native bloom_might_contain probe marks the
    // bloom-probe filter (previously a UDF; now codegen'd, so the plan
    // must show the named expression instead of a UDF wall)
    val bloomFilterIds = """\((\d+)\) Filter""".r.findAllMatchIn(p).map(_.group(1))
      .toSeq.distinct.filter { id =>
        p.split(java.util.regex.Pattern.quote(s"($id) Filter")).lift(1)
          .exists(_.linesIterator.take(4).mkString("\n").contains("bloom_might_contain"))
      }
    assert(bloomFilterIds.nonEmpty,
      s"expected a bloom_might_contain Filter node in:\n$p")
    assert(!p.contains("UDF"), s"no UDF wall may remain in the bloom plan:\n$p")
    val bloomLines = bloomFilterIds.map(id => tree.indexWhere(_.matches(s".*\\bFilter \\($id\\)\\s*")))
    assert(bloomLines.exists(_ > joinLine),
      s"the bloom-probe Filter must sit BELOW the verify join (pre-shuffle):\n$p")
  }

  /** Scan NODES in a FormattedMode plan: tree lines read "Scan parquet  (n)"
    * while the detail section repeats "(n) Scan parquet" — count tree form. */
  private def scanNodes(p: String): Int =
    p.linesIterator.count(l => l.matches(""".*Scan parquet\s+\(\d+\)\s*"""))

  test("training shards: one hash exchange on shard_id, window after it, no extra shuffle") {
    // shard assignment is a scan-side projection; the ONLY exchange is the
    // hash partition on shard_id that the in-shard row_number needs (and
    // which the sharded write pays anyway), plus the deterministic
    // ORDER BY's range exchange. A second hash exchange would mean the
    // scramble column leaked into its own shuffle stage.
    val p = plan("q_train_shards")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"exactly one hash exchange (shard_id), got $hashEx:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("Arguments: hashpartitioning(shard_id")),
      "the one hash exchange must key on shard_id")
    assert(p.contains("Window"), "in-shard positions come from one window over the sharded rows")
  }

  test("LM scoring: the corpus-sized pair stream joins ONLY broadcast relations") {
    // the model/vocab/total sides each aggregate (their own exchanges are
    // Zipf-small); the PAIR stream itself must never hit a sort-merge
    // join or re-shuffle before the final per-doc agg
    val p = plan("q_bigram_score")
    assert(!p.contains("SortMergeJoin"),
      s"pair stream must broadcast-join, never sort-merge:\n$p")
    // ≥2: the model (outer) and vocab joins on the pair stream; the
    // model-INTERNAL cnt⋈ctx join may legitimately broadcast too
    val bhj = p.linesIterator.count(_.matches(""".*BroadcastHashJoin.*\(\d+\)\s*"""))
    assert(bhj >= 2, s"model (outer) + vocab joins broadcast, got $bhj:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row total attaches as a broadcast cross join")
  }

  test("source overlap: bounded self-join on the distinct relation, sizes broadcast back") {
    val p = plan("q_source_overlap")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge join:\n$p")
    // the tiny per-source size table must broadcast onto the pair rows
    assert(p.contains("BroadcastHashJoin"), s"sizes must broadcast:\n$p")
  }

  test("gopher flags: pure projection — zero exchanges before the sort") {
    val p = plan("q_gopher_flags")
    // the only exchange allowed is the deterministic ORDER BY's range
    // partition; any hash exchange means a rule computation shuffled
    assert(!p.contains("Arguments: hashpartitioning"),
      s"no hash exchange in a projection chain:\n$p")
    assert(scanNodes(p) == 1, "one corpus scan")
  }

  test("KMV sketch: bounded partial aggregate — the sketch, not the distinct set, shuffles") {
    // The whole point of the sketch: no exact-distinct exchange of every
    // (group, value) pair; the ≤ k-long partial states combine map-side.
    val p = plan("q_kmv_distinct")
    assert(p.contains("ObjectHashAggregate"), "typed sketch agg must object-hash-aggregate")
    assert(p.toLowerCase.contains("partial_kmvsketch"),
      "partial (map-side) sketch state expected before the shuffle")
    assert(!p.contains("Window"), "no window, no distinct materialization")
    assert(scanNodes(p) == 1, "exactly one corpus scan")
  }

  test("weighted sample: bounded selection agg plus broadcast winner join-back, no window sort") {
    val p = plan("q_weighted_sample")
    assert(p.toLowerCase.contains("partial_topkhits"),
      "selection must be the bounded TopKHits aggregate")
    assert(!p.contains("Window"), "no window sort of the corpus")
    assert(p.contains("BroadcastHashJoin"), "n-row winner list re-attaches by broadcast")
    assert(!p.contains("SortMergeJoin"), "the corpus must never shuffle for the join-back")
  }

  test("cluster sample: corpus never self-shuffles — centroids and keep-pcts broadcast") {
    val p = plan("q_cluster_sample")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "centroid scoring and pct attach must ride broadcasts")
    assert(!p.contains("SortMergeJoin"), "no shuffle join anywhere in the sampler")
    assert(!p.contains("Window"), "argmax must be the max(struct) agg, not a window")
  }

  test("DSIR: vocabulary and totals broadcast back over the token stream") {
    // Same contract as unigram logprob: the Zipf-small vocab relation
    // broadcasts; the corpus-sized token stream never sort-merge joins.
    val p = plan("q_dsir")
    assert(p.contains("BroadcastHashJoin"), "vocab must broadcast")
    assert(!p.contains("SortMergeJoin"), "token stream must not shuffle for the model join")
  }

  test("PQ ADC: LUT broadcasts onto the codes relation; the cut is TakeOrdered") {
    val p = plan("q_pq_adc")
    assert(p.contains("BroadcastHashJoin"), "the m·k LUT must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k cut must be per-partition heaps, not a global sort")
  }

  test("kNN graph: per-source ranking is the bounded TopKHits agg, not a window") {
    val p = plan("q_knn_graph")
    assert(p.toLowerCase.contains("partial_topkhits"),
      "ranking must be the map-side-combinable bounded aggregate")
    assert(!p.contains("Window"), "no window sort of the pair relation")
  }

  test("global shuffle: the corpus-sized window is PARTITIONED; only the buckets-sized offsets window is global") {
    val p = plan("q_global_shuffle")
    // the per-bucket rank must partition by the bucket id…
    assert(p.contains("windowspecdefinition(__b#") ||
      p.contains("windowspecdefinition(__b,"),
      s"per-row rank must be keyed on the bucket: missing partitioned spec")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets attach by broadcast")
    assert(!p.contains("SortMergeJoin"), "the corpus must not shuffle-join for offsets")
  }

  test("expectations: one scan, one aggregate, however many rules") {
    val p = plan("q_expectations")
    assert(scanNodes(p) == 1, "every rule folds into a single corpus pass")
    assert(!p.contains("Join"), "no joins anywhere in the validation pass")
  }

  test("count-min: the grid broadcasts to the probe; the stream never shuffle-joins") {
    val p = plan("q_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤ depth·width-cell sketch must attach by broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a shuffle join of probe×grid would defeat the sketch's point")
  }

  test("random projection: no hash exchange, no join — sign matrix is plan literals") {
    val p = plan("q_rand_proj")
    assert(!p.linesIterator.exists(_.contains("Arguments: hashpartitioning")),
      s"the projection must not shuffle (ORDER BY range aside):\n$p")
    assert(!p.contains("Join"), "no joins — the sign matrix is plan literals")
  }

  test("z-order key: min/max attach as a 1-row broadcast; no corpus hash exchange") {
    val p = plan("q_zorder")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row min/max relation must broadcast")
    assert(!p.linesIterator.exists(l => l.contains("Arguments: hashpartitioning")),
      s"no hash exchange anywhere — keying happens scan-side:\n$p")
  }

  test("IVF-PQ probe: pruned code partitions, broadcast LUT, no raw vectors read") {
    val p = plan("q_ivfpq_topk")
    val pruned = p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("centroid_id") &&
        !l.contains("PartitionFilters: []"))
    assert(pruned, s"probe must partition-prune the codes scan on centroid_id:\n$p")
    assert(p.contains("BroadcastHashJoin"), "the m·k LUT must broadcast")
    // the CODES relation must stay vector-free: a scan whose schema holds
    // both `code` and `embedding` means the codes table regressed to
    // carrying raw vectors. (The 1-row query-vector fetch legitimately
    // reads the embeddings table — it carries no `code`.)
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.exists(l => l.contains("code") && !l.contains("embedding")),
      "the vector-free codes scan must exist")
    assert(!schemas.exists(l => l.contains("code") && l.contains("embedding")),
      s"the codes relation must never carry raw vectors:\n${schemas.mkString("\n")}")
  }

  test("mix execution: the plan relation broadcasts; the corpus never shuffle-joins it") {
    val p = plan("q_mix_execute")
    assert(p.contains("BroadcastHashJoin"),
      "the sources-sized allocation must attach by broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle for its own sampling plan:\n$p")
  }

  test("point-in-time join keeps the as-of zero-join shape (union + window, no range join)") {
    val p = plan("q_pit_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin"),
      s"as-of must stay union + running last_value — no theta join:\n$p")
    assert(p.contains("Window"), "the running last_value window must exist")
  }

  test("approx calibration replaces the per-group sort with a broadcast grid") {
    val df = graft.operators.Curation.calibrateScoresApprox(
      graft.operators.TextAnalysis.qualityScore(
        Tables.load(spark, d, "documents"), "text", "doc_id",
        keepCols = Seq("source")),
      "source", "quality", "doc_id")
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), "grid must broadcast")
    assert(!p.contains("Window"), s"no rank window over the corpus:\n$p")
  }

  test("BM25: panel/df broadcast, bounded top-k agg, no corpus rank window") {
    val p = plan("q_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), "panel and df must broadcast")
    assert(p.contains("ObjectHashAggregate"), "per-query top-k must be the bounded agg")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join anywhere in BM25:\n$p")
    assert(!p.contains("Window"), s"no rank window over scored docs:\n$p")
  }

  test("stored-stats BM25 scoring is a pure scan-side projection (the percolator plan)") {
    val p = plan("q_bm25_stored")
    // scan → project → explode → filter, NO exchange at all
    assert(!p.contains("Join"), s"no join in the scoring pass:\n$p")
    assert(!p.contains("Aggregate"), s"no aggregate in the scoring pass:\n$p")
    assert(!p.contains("Exchange"), s"the scoring pass never shuffles:\n$p")
    // r13: the scoring projection is the fused native kernel — whole
    // panel + token length in one byte pass, NO interpreted array HOF
    // (no lambda anywhere in the plan), and the scan-side stage stays
    // inside whole-stage codegen
    assert(p.contains("panel_term_stats"), s"fused kernel must score:\n$p")
    assert(!p.contains("lambdafunction"),
      s"no interpreted higher-order function may remain:\n$p")
    assert(p.contains("codegen id"), s"the scan stage must codegen:\n$p")
  }

  test("char entropy never shuffles — scan, project, output sort only") {
    val p = plan("q_char_entropy")
    assert(!p.contains("Join") && !p.contains("Aggregate"), s"pure projection:\n$p")
  }

  test("Hamming top-k: packed probes broadcast, bounded agg, no window sort") {
    val p = plan("q_hamming_topk")
    assert(p.toLowerCase.contains("partial_topkhits"),
      s"per-probe top-k must be the bounded aggregate:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the probe panel must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the packed corpus must never shuffle for the probe:\n$p")
    assert(!p.contains("Window"), s"no rank window over distances:\n$p")
  }

  test("feature hashing: one (doc, idx) aggregate exchange, no joins at all") {
    val p = plan("q_feature_hash")
    assert(!p.contains("Join"), s"hashing-trick features need no dictionary join:\n$p")
    assert(p.linesIterator.count(_.trim.matches("\\+?-? ?Exchange.*")) <= 2,
      s"only the feature agg and output sort may exchange:\n$p")
  }

  test("linear scoring: the weight table broadcasts, the corpus never sort-merges") {
    val p = plan("q_linear_score")
    assert(p.contains("BroadcastHashJoin"), s"weights must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join for the weight attach:\n$p")
  }

  test("duplicate spans: banded candidates only — no cartesian, doc-bounded window") {
    val p = plan("q_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"window matching must be key-equi, never all-pairs:\n$p")
    // every window spec partitions by doc — bounded by document length
    assert(p.contains("windowspecdefinition(doc"),
      s"island merge is a per-doc window:\n$p")
    assert(p.linesIterator.filter(_.contains("windowspecdefinition"))
        .forall(_.contains("windowspecdefinition(doc")),
      s"windows must partition by doc:\n$p")
  }

  test("upsampling: rates broadcast; the corpus side is scan -> join -> Generate") {
    val p = plan("q_upsample")
    assert(p.contains("BroadcastHashJoin"), s"rate table must broadcast:\n$p")
    // aggregates exist only on the sources-sized rate derivation; the
    // corpus side must stay join -> Generate with no shuffle or window
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"pure scan-side expansion:\n$p")
    assert(p.contains("Generate"), s"copies come from an explode:\n$p")
  }

  test("t-closeness: the m-value domain broadcasts; windows stay domain-bounded") {
    val p = plan("q_tcloseness")
    assert(!p.contains("CartesianProduct"),
      s"the groups-by-domain grid must ride a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"grid joins must not reshuffle the corpus:\n$p")
  }

  test("zone map: one scan, one aggregate — no join, no window") {
    val p = plan("q_zone_map")
    val scanIds = """Scan parquet\s+\((\d+)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"zone stats build in the writing scan:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"pure map-side-combinable aggregate:\n$p")
  }

  test("pairwise wins: pair-grain aggregation, never a self-join of the event log") {
    val p = plan("q_pairwise_wins")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"),
      s"comparisons derive from min_by/max_by partial aggs, not a join:\n$p")
  }

  test("bradley-terry: the loop kernel checkpoints each round — the final plan is item-sized, corpus-free") {
    val p = plan("q_bradley_terry")
    // the MM loop consumes the ONE persisted win matrix at build time and
    // truncates lineage per round (else iteration k embeds k-1 twice —
    // 2^iters plan growth, measured 42 s vs 0.5 s at sf0.1); what remains
    // is the checkpointed item-cardinality strength relation
    assert(p.contains("Scan ExistingRDD"),
      s"rounds must checkpoint (loop-kernel discipline):\n$p")
    assert(!p.contains("Scan parquet"),
      s"the event log must not reappear above the checkpoint:\n$p")
  }

  test("attribution: one window pass over the log, no join, no second scan") {
    val p = plan("q_attribution")
    val scanIds = """Scan parquet\s+\((\d+)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1 && !p.contains("Join"),
      s"last-touch is a running window, not a scan-back join:\n$p")
    assert(p.linesIterator.count(l => l.matches(""".*\bWindow\s+\(\d+\)\s*""")) == 1,
      s"exactly one window pass:\n$p")
  }

  test("correlated scalar subquery decorrelates to an aggregate+join — no per-row subquery") {
    val p = plan("q17_smallqty")
    // Catalyst rewrites the TPC-H Q17 shape into per-part aggregate +
    // join; a surviving per-row scalar subquery would re-scan lineitem
    // once per probe row
    assert(!p.contains("Subquery") && !p.contains("ScalarSubquery"),
      s"the correlated threshold must decorrelate:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"decorrelation lands as a join:\n$p")
  }

  test("entity resolution: candidates ride the blocking equi-join — never a cartesian") {
    val p = plan("q_er_matches")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"scoring must only see block-bounded candidates:\n$p")
  }

  test("link prediction: wedge join is key-equi on the center; existing edges leave via anti join") {
    val p = plan("q_link_predict")
    // (the one BroadcastNestedLoopJoin in this plan is the 1-row totals
    // crossJoin inside the shared trade-edge derivation — corpus-safe)
    assert(!p.contains("CartesianProduct"),
      s"wedges must join on the common-neighbor key:\n$p")
    assert(p.contains("LeftAnti"), s"existing edges are an anti join:\n$p")
  }

  test("curriculum shards: the rank window partitions by the group — no global sort of the corpus") {
    val p = plan("q_curriculum")
    assert(p.contains("windowspecdefinition(source"),
      s"rank must be per-source, never a single global window:\n$p")
  }

  test("equi-depth histogram: assignment is a scan-side when-chain — no join over the corpus") {
    val p = plan("q_histogram")
    assert(!p.contains("Join"),
      s"boundaries are driver-collected literals, not a joined relation:\n$p")
    val scanIds = """Scan parquet\s+\((\d+)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"one assignment scan:\n$p")
  }

  test("readability: pure scan-side projection — no join, no window, no extra exchange") {
    val p = plan("q_readability")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"), s"scan -> project -> sort only:\n$p")
  }

  test("linear scan scoring: no join, no aggregate-exchange — scan -> project -> filter only") {
    val p = plan("q_linear_scan")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the weight vector rides the plan as a literal:\n$p")
    // the only exchange is the final orderBy's range partitioning
    val exchIds = """Exchange\s+\((\d+)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchIds.size == 1 && p.contains("rangepartitioning"),
      s"no shuffle before the sort:\n$p")
  }

  test("jaro pairs: candidates ride the brand equi-join — never a cartesian; scan pruned to 3 columns") {
    val p = plan("q_jaro_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must stay an equi-join:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("p_brand") && readSchema.contains("p_name") &&
      !readSchema.contains("p_retailprice"),
      s"scan must prune to the blocked fields:\n$readSchema")
  }

  test("contract-sorted queries sort directly over the materialized body") {
    // one body execution per query: the range partitioner samples the
    // checkpointed relation, never the kernel (see ContractSorted)
    val sorted = SparkEntry.queries.collect {
      case (q, c: ContractSorted) => q -> c
    }
    assert(sorted.nonEmpty, "no ContractSorted registry entries found")
    for ((q, c) <- sorted) {
      val p = c(spark, d).queryExecution.explainString(FormattedMode)
      val nodes = p.linesIterator.drop(1).takeWhile(_.trim.nonEmpty)
        .map(_.replaceAll("""^[\s:|+-]*""", "").replaceAll("""\s*\(\d+\)$""", ""))
        .filterNot(_ == "AdaptiveSparkPlan").toSeq
      assert(nodes == Seq("Sort", "Exchange", "Scan ExistingRDD") &&
        p.contains("rangepartitioning"),
        s"$q must sort over the checkpoint barrier:\n$p")
    }
  }

  test("poisson bootstrap: ONE corpus scan, explode into a combinable agg, no join") {
    val p = plan("q_bootstrap")
    assert(!p.contains("Join"), s"all B resamples ride one scan:\n$p")
    assert(p.contains("Generate"), "the per-resample counts explode scan-side")
    assert("""Scan parquet\s+\((\d+)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size == 1,
      s"exactly one corpus scan:\n$p")
  }

  test("hll registers: scan -> projection -> bounded two-phase agg; no join, no window") {
    val p = plan("q_hll_registers")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the sketch is one aggregation:\n$p")
    assert("""Scan parquet\s+\((\d+)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size == 1, s"one scan:\n$p")
  }

  test("woe panel: bin-grain agg with the 1-row totals broadcast back") {
    val p = plan("q_woe")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"totals must attach as a broadcast, never shuffle the bins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("DP releases: noise rides the groups-sized projection, no corpus-sized window or cross join") {
    // user-level: two map-side-combinable aggs ((group,user) clamp, then
    // group sum) — the corpus shuffles at (group,user) grain once and
    // nothing larger; the Laplace draw is a projection over the final
    // groups-sized relation
    val pu = plan("q_dp_user")
    assert(pu.toLowerCase.contains("partial_least") ||
      pu.toLowerCase.contains("partial_count"),
      s"map-side combine expected on the user clamp agg:\n$pu")
    assert(!pu.contains("CartesianProduct") && !pu.contains("Window"),
      "noise must be a projection, never a window or cross join")
    // fixed-support: the public domain attaches to the groups-sized
    // counts as a broadcast join — the corpus side never reshuffles for it
    val pd = plan("q_dp_domain")
    assert(pd.contains("BroadcastHashJoin"),
      s"domain left join must broadcast at groups grain:\n$pd")
    assert(!pd.contains("CartesianProduct"))
  }

  test("BFS final round: one edge-keyed equi-join + node min-agg, no cartesian, no window") {
    // localCheckpoint truncates earlier rounds; the visible round IS the
    // per-round shape — an equi-join of the checkpointed frontier against
    // the edge relation and a map-side-combinable min aggregate
    // (the edge relation's own derivation contains coOccurrence's 1-row
    // lift-total broadcast cross — that BNLJ lives in the cached edge
    // plan, not in the round, so only CartesianProduct is banned here)
    val p = plan("q_bfs_hops")
    assert(!p.contains("CartesianProduct"),
      s"frontier relaxation must stay an equi-join:\n$p")
    assert(p.toLowerCase.contains("partial_min"),
      s"hop relaxation must combine map-side:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"the frontier join must be an equi-join:\n$p")
  }

  test("frequent triples: semi-join pruned verification, no cartesian, hot-basket window bounded by the basket key") {
    val p = plan("q_itemsets3")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate verification must stay equi-joins:\n$p")
    assert(p.contains("LeftSemi"),
      s"apriori pruning must reach the plan as semi-joins:\n$p")
  }

  test("quantile sketch: bounded sample aggregate, window only after the sample join") {
    // the corpus feeds the TopKHits ObjectHashAggregate (≤ k state per
    // task×group) and the total count; the rank window runs on the
    // groups×k sample attached back by broadcast — never on the corpus
    val p = plan("q_quantile_sketch")
    assert(p.contains("ObjectHashAggregate"),
      s"sampling must be the bounded top-k aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the sample must attach by broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("join-view delta: masters broadcast-probe the deltas — no master-side shuffle join") {
    val p = plan("q_join_delta")
    assert(p.contains("BroadcastHashJoin"),
      s"delta sides must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the masters must never shuffle on the view key:\n$p")
  }

  test("DBSCAN: neighbor pairs form on the cell-key equi-join — never an all-pairs cross") {
    val p = plan("q_dbscan")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"grid blocking must plan as an equi-join on (__kx, __ky):\n$p")
    val pc = plan("q_dbscan_clusters")
    assert(!pc.contains("CartesianProduct") &&
      !pc.contains("BroadcastNestedLoopJoin"),
      s"cluster labeling must stay on the core-edge graph:\n$pc")
  }

  test("entropy-coded size: char explode collapses map-side before any exchange; doc-grain join only") {
    // the explode is chars-per-doc rows, but the (doc, char) count must
    // partially aggregate BEFORE the shuffle — otherwise the exchange
    // carries the whole character stream (corpus-bytes-sized) instead of
    // docs × alphabet
    val p = plan("q_compress_ratio")
    assert(p.toLowerCase.contains("partial_count"),
      s"map-side combine expected on the char histogram:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "sizes-bits join must stay a doc-keyed equi-join")
  }

  test("vector kernels score with native dot and fast_round inside whole-stage codegen — " +
      "no lambda, no Spark round on the candidate scores") {
    for (q <- Seq("q_pq_codes", "q_neardup_cosine")) {
      val df = SparkEntry.queries(q) match {
        case c: ContractSorted => c.body(spark, d)
        case f => f(spark, d)
      }
      df.collect() // the executed (final adaptive) plan, not the initial one
      val p = df.queryExecution.explainString(FormattedMode)
      // node ids of the final adaptive plan (its initial plan carries no
      // codegen ids), then their "(n) Name [codegen id : k]" detail blocks
      val tree = p.split("\n\n").head
      val fin = tree.indexOf("== Initial Plan ==") match {
        case -1 => tree
        case i => tree.substring(0, i)
      }
      val id = """\((\d+)\)""".r
      val finalIds = id.findAllMatchIn(fin).map(_.group(1)).toSet
      val nodes = p.split("\n\n").map(_.trim)
        .filter(n => id.findPrefixMatchOf(n).exists(m => finalIds(m.group(1))))
      val scoring = nodes.filter(n => n.contains("dot(") || n.contains("cosine_sim("))
      assert(scoring.nonEmpty, s"$q: no scoring node found:\n$p")
      scoring.foreach { n =>
        assert(n.linesIterator.next().contains("[codegen id :"),
          s"$q: the scoring node must sit inside whole-stage codegen:\n$n")
        assert(n.contains("fast_round("), s"$q: scores must round with fast_round:\n$n")
      }
      assert(!Seq("lambdafunction", "zip_with(").exists(p.contains) &&
        """(?<![\w])aggregate\(""".r.findFirstIn(p).isEmpty,
        s"$q: no higher-order-function lambda may remain in the plan:\n$p")
      assert("""(?<![\w])round\(""".r.findFirstIn(scoring.mkString("\n")).isEmpty,
        s"$q: Spark's BigDecimal round must not score candidates:\n${scoring.mkString("\n\n")}")
    }
  }
}
