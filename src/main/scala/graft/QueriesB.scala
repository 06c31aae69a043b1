package graft

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query registry, second half (split out of SparkEntry; composed back in `SparkEntry.queries`). */
private[graft] object QueriesB extends QueryShared {
  private[graft] val m: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_top_paths" -> ((s, d) => {
      Sequences.topPaths(t(s, d, "events"), "user_id", "event_type",
        Seq("ts", "event_id"), len = 3, k = 15)
    }),

    // ---- text: out-of-vocabulary rate per document ----
    "q_oov_rate" -> ((s, d) => {
      TextAnalysis.oovRate(t(s, d, "documents"), "text", "doc_id",
          vocabSize = 20)
        .orderBy("doc")
    }),

    // ---- text: Zipf rank-frequency panel ----
    "q_zipf_panel" -> ((s, d) => {
      TextAnalysis.zipfPanel(t(s, d, "documents"), "text",
          ranks = Seq(1, 2, 4, 8, 16))
        .orderBy("rank_lo")
    }),

    // ---- embeddings: centroid silhouette per label ----
    "q_silhouette" -> ((s, d) => {
      Similarity.silhouetteByLabel(t(s, d, "embeddings"), "embedding",
          "vec_id", "label")
        .select(col("label").cast("long").as("label"), col("n_vecs"),
          col("mean_sil"))
        .orderBy("label")
    }),

    // ---- embeddings: per-dimension moments panel ----
    "q_dim_variance" -> ((s, d) => {
      Similarity.dimStats(t(s, d, "embeddings"), "embedding")
        .orderBy("pos")
    }),

    // ---- graph: weighted PageRank over the event-type transition graph ----
    // Edges = the Markov matrix's transition counts; 3 exact-integer
    // damped iterations. The graph op is generic over any edge relation.
    "q_pagerank" -> ((s, d) => {
      val edges = Sequences.markovTransitions(t(s, d, "events"), "user_id",
        "event_type", Seq("ts", "event_id"))
      Graphs.pageRank(edges, "from_type", "to_type", "n", iters = 3)
        .select(col("node"), (round(col("rank"), 6) + lit(0.0)).as("rank"))
        .orderBy("node")
    }),

    // ---- embeddings: bitext mining by ratio margin ----
    // Sides = vec_id parity (the synthetic two-language split); forward
    // mining, best margin per A vector above the threshold.
    "q_margin_mine" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.marginMining(
          emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
          emb.filter(pmod(col("vec_id"), lit(2L)) =!= 0),
          "embedding", "vec_id", cells = 8, kNN = 4, thresholdBp = 10200L)
        .orderBy("id_a")
    }),

    // Margin mining under the production k = ⌊√n⌋ of the UNION corpus
    // (AutoCells resolves on the two sides' union inside marginMining —
    // the parity split partitions the embeddings table, so n is the full
    // table count, matching the oracle's subquery).
    "q_margin_mine_scaled" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.marginMining(
          emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
          emb.filter(pmod(col("vec_id"), lit(2L)) =!= 0),
          "embedding", "vec_id", cells = Similarity.AutoCells, kNN = 4,
          thresholdBp = 10200L)
        .orderBy("id_a")
    }),

    // ---- embeddings: JL random projection to the integer grid ----
    "q_rand_proj" -> ((s, d) => {
      Similarity.randomProjection(t(s, d, "embeddings"), "embedding",
          "vec_id", outDims = 8, dim = 64)
        .orderBy("vec_id", "out_dim")
    }),

    // ---- clustering: DBSCAN roles on the projected embedding plane ----
    // Density classification in the 2-D JL plane (jlCoords2d): grid-
    // blocked in the engine (lossless — cell width = eps), brute-force
    // all-pairs in the oracle — different algorithms, equal relation.
    // eps/minPts picked so all three roles are live at sf0.01
    // (33 cores / 32 borders / 435 noise).
    "q_dbscan" -> ((s, d) => {
      Similarity.dbscanClassify(
          // tw (r14): the JL fold is CPU-dense per row and was
          // scan-serialized
          Similarity.jlCoords2d(tw(s, d, "embeddings"), "embedding",
            "vec_id", dim = 64),
          "vec_id", "x", "y", eps = 1000L, minPts = 6)
        .orderBy("vec_id")
    }),

    // ---- clustering: DBSCAN cluster labels (cores + borders) ----
    // Core components carry min-id labels (fixpoint CC); borders attach
    // to the MIN cluster id among their core neighbors — the textbook
    // algorithm's one nondeterminism pinned. 8 clusters at sf0.01,
    // singleton cores included.
    "q_dbscan_clusters" -> ((s, d) => {
      Similarity.dbscanClusters(
          Similarity.jlCoords2d(tw(s, d, "embeddings"), "embedding",
            "vec_id", dim = 64),
          "vec_id", "x", "y", eps = 1000L, minPts = 6)
        .orderBy("vec_id")
    }),

    // ---- layout: Z-order key over (part, supplier) ----
    "q_zorder" -> ((s, d) => {
      Outputs.zOrderKey(
          t(s, d, "lineitem").select("l_orderkey", "l_linenumber",
            "l_partkey", "l_suppkey"),
          Seq("l_partkey", "l_suppkey"), bits = 16)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("zval"))
        // zval breaks the tie left by the synthetic data's duplicate
        // (orderkey, linenumber) pairs
        .orderBy("l_orderkey", "l_linenumber", "zval")
    }),

    // ---- embeddings: semantic decontamination (paraphrase leakage) ----
    // Same synthetic split as q_decontaminate (vec_id % 20 == 0 is the
    // bench set); the kept-id contract matches the n-gram op's.
    "q_sem_decontam" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val bench = emb.filter(pmod(col("vec_id"), lit(20L)) === 0)
      val train = emb.filter(pmod(col("vec_id"), lit(20L)) =!= 0)
      Similarity.semanticDecontaminate(train, bench, "embedding", "vec_id",
          threshold = 0.35)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // ---- embeddings: semantic decontamination, FIXED-size bench ----
    // bench = vec_id < 100 — absolute, so it does NOT scale with the
    // corpus: the measured linear counterpart of q_sem_decontam's
    // bench-grows-too scale artifact (BASELINE sf1 table).
    "q_sem_decontam_fixed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.semanticDecontaminate(
          emb.filter(col("vec_id") >= 100),
          emb.filter(col("vec_id") < 100), "embedding", "vec_id",
          threshold = 0.35)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // ---- graph: triangles + clustering on the nation trade graph ----
    // Edges = (customer nation, supplier nation) co-occurrences on a
    // lineitem; the relative weight cut (w·n_pairs >= Σw, exact integer
    // cross-multiply) keeps the graph non-degenerate at every SF. The
    // heavy linear work is the edge DERIVATION (4-way join over the fact
    // tables); the triangle kernel then runs on the bounded edge relation.
    "q_triangles" -> ((s, d) => {
      Graphs.triangleStats(nationTradeEdges(s, d), "u", "v").orderBy("node")
    }),

    // ---- graph: k-core membership on the nation trade graph ----
    // 4 peel rounds — measured convergence is 2 at every SF, so the
    // survivors ARE the 3-core (the fixed-round contract).
    "q_kcore" -> ((s, d) => {
      Graphs.kCore(nationTradeEdges(s, d), "u", "v", k = 3, rounds = 4)
        .orderBy("node")
    }),

    // ---- graph: label-propagation communities on the trade graph ----
    "q_label_prop" -> ((s, d) => {
      Graphs.labelPropagation(nationTradeEdges(s, d), "u", "v", "w",
          rounds = 3)
        .orderBy("node")
    }),

    // ---- graph: modularity of REGIONS as trade communities ----
    // "Does world trade cluster along geographic regions?" — communities
    // = each nation's region key, a 5-community panel with intra- and
    // cross-region mass both live. (LP-label modularity is spec-pinned
    // on planted cliques; on the dense trade graph LP collapses to one
    // community, whose 0-contribution degenerate the spec also pins.)
    "q_modularity" -> ((s, d) => {
      val labels = t(s, d, "nation")
        .select(col("n_nationkey").cast("string").as("node"),
          col("n_regionkey").cast("string").as("community"))
      Graphs.modularity(nationTradeEdges(s, d), "u", "v", "w",
          labels, "node", "community")
        .orderBy("community")
    }),

    // ---- graph: item co-occurrence with lift (market-basket pairs) ----
    // Baskets = orders, items = parts; cap 10 drops the >10-item tail
    // (live at sf0.01: max basket is 13) and minCount 2 cuts the
    // single-occurrence noise floor — both guard branches exercised.
    "q_covisit" -> ((s, d) => {
      Graphs.coOccurrence(
          t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", maxBasketSize = 10, minCount = 2)
        .orderBy("item_a", "item_b")
    }),

    // ---- graph: multi-source BFS hop distance on the co-purchase graph ----
    // "How many recommendation hops from the promoted parts is each
    // part?" — seeds = every 97th part key, edges = the q_covisit pair
    // graph (shared derivation), fixed horizon 4. Seeds outside the graph
    // still emit at hop 0 (a seed reaches itself); nodes past the horizon
    // are absent — the fixed-round contract the oracle unrolls.
    "q_bfs_hops" -> ((s, d) => {
      val edges = Graphs.coOccurrence(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", maxBasketSize = 10, minCount = 2)
      val seeds = t(s, d, "part")
        .filter(col("p_partkey") % 97 === 0).select(col("p_partkey"))
      Graphs.bfsHops(edges, "item_a", "item_b", seeds, "p_partkey",
          rounds = 4)
        .select(col("node").cast("bigint").as("node"), col("hops"))
        .orderBy("node")
    }),

    // ---- graph: apriori frequent triples (3-itemset tier) ----
    // Candidate-pruned in the engine (pair tier → closed candidates →
    // basket verify); the oracle brute-counts all basket triples and
    // filters — equal sets by the apriori property (support(abc) ≥ mc ⟹
    // every pair ≥ mc ⟹ abc is a candidate), so the two sides verify
    // each other across DIFFERENT algorithms, the strongest oracle shape.
    "q_itemsets3" -> ((s, d) => {
      Graphs.frequentTriples(
          t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", maxBasketSize = 10, minCount = 2)
        .orderBy("item_a", "item_b", "item_c")
    }),

    // ---- time series: bounded-lookback EWMA (exact integer weights) ----
    // ewma is in CENTS (the caller-quantized unit) — the 1e6/2^i weight
    // ladder makes it bit-identical on any engine/partitioning.
    "q_ewma" -> ((s, d) => {
      Timeseries.ewmaSmooth(
        t(s, d, "events").withColumn("__cents", cents(col("value"))),
        "user_id", Seq("ts", "event_id"), "__cents",
        idCols = Seq("event_id", "user_id"), lookback = 8)
        .orderBy("event_id")
    }),

    // ---- time series: per-group OLS trend (exact integer micro-slope) ----
    // x = hour bucket since epoch, y = cents; slope is cents/hour.
    "q_regression" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("x"),
        cents(col("value")).as("y"))
      Timeseries.olsTrend(ev, "event_type", "x", "y")
        .orderBy("event_type")
    }),

    // ---- corpus maintenance: snapshot diff (two crawl versions) ----
    // Synthetic versions: old is missing doc_id%7==3 (→ added later), new
    // is missing doc_id%11==5 (→ removed), and every doc_id%5==0 got a
    // new revision (→ changed). All four statuses live at every SF.
    "q_corpus_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
      val newSnap = docs.filter(pmod(col("doc_id"), lit(11L)) =!= 5)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5L)) === 0,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      RelationalOps.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "status").agg(count(lit(1)).as("n"))
        .orderBy("source", "status")
    }),

    // ---- text: inverted index (posting lists) over 2-gram terms ----
    // 2-grams because the synthetic vocabulary is ~31 words — every
    // unigram's df is near the corpus size, which is exactly the Zipf
    // head the df band exists to cut.
    "q_posting_lists" -> ((s, d) => {
      TextAnalysis.postingLists(t(s, d, "documents"), "text", "doc_id",
          minDf = 5, maxDf = 200, termNgram = 2)
        .orderBy("term")
    }),

    // ---- text: shingle novelty by ingest order ----
    "q_novelty" -> ((s, d) => {
      TextAnalysis.noveltyScore(t(s, d, "documents"), "text", "doc_id",
          shingleSize = 3)
        .orderBy("doc")
    }),

    // ---- relational: column-level data profile ----
    // The sparse derived column keeps the null branch live (the raw
    // tables are fully dense at every SF); cents casting keeps min/max
    // strings engine-portable (raw DOUBLE renderings differ).
    "q_table_profile" -> ((s, d) => {
      val ev = tw(s, d, "events")
      RelationalOps.profileColumns(ev, Seq(
        "event_id" -> col("event_id"),
        "event_type" -> col("event_type"),
        "user_id" -> col("user_id"),
        "big_cents" -> when(col("value") > 400, cents(col("value")))))
        .orderBy("column")
    }),

    // ---- embeddings: kNN graph within IVF cells ----
    // Every vector's top-3 cellmates — the adjacency relation SemDeDup /
    // label-propagation stages consume. Bounded TopKHits agg, no window.
    "q_knn_graph" -> ((s, d) => {
      Similarity.knnGraph(tw(s, d, "embeddings"), "embedding", "vec_id",
          k = 8, kNeighbors = 3)
        .orderBy("src", "rnk")
    }),

    // The SAME graph under the production default k = ⌊√n⌋ clamped to
    // [8, 65536] (Similarity.AutoCells → defaultCells): cells stay
    // ~√n-sized as the corpus grows, so in-cell pair work is n^1.5, not
    // the n²/k of a fixed k — the measured fix for the one 100 TB
    // scale-killer of the IVF family. The k=8 variant above stays as the
    // oracle-pinned small-k shape.
    "q_knn_graph_scaled" -> ((s, d) => {
      Similarity.knnGraph(t(s, d, "embeddings"), "embedding", "vec_id",
          k = Similarity.AutoCells, kNeighbors = 3)
        .orderBy("src", "rnk")
    }),

    // MULTI-PROBE variant (r12 verdict task 2): the corpus keeps argmax
    // cells (the stored-index layout) while every source probes the
    // members of its top-2 cells — the measured fix for single-probe's
    // 0.081 edge recall@3 at sf1 (recall table in BASELINE.md).
    "q_knn_graph_multi" -> ((s, d) => {
      Similarity.knnGraphMulti(t(s, d, "embeddings"), "embedding", "vec_id",
          k = Similarity.AutoCells, kNeighbors = 3, nProbe = 2)
        .orderBy("src", "rnk")
    }),

    // TREE-blocked kNN graph (r13): the n·log n adjacency lane — leaf-
    // bounded candidates (n·maxLeaf) replace the flat family's n^1.5
    // in-cell law; same bounded TopKHits ranking. Recall priced in
    // BASELINE.md next to the flat and multi-probe rows.
    "q_knn_graph_tree" -> ((s, d) => {
      Similarity.knnGraphTree(t(s, d, "embeddings"), "embedding", "vec_id",
          kNeighbors = 3)
        .orderBy("src", "rnk")
    }),

    // ... and with the shadow-membership recall lever composed on
    // (duplicate pairs collapsed at candidate grain before ranking).
    "q_knn_graph_tree_multi" -> ((s, d) => {
      Similarity.knnGraphTreeMulti(tw(s, d, "embeddings"), "embedding",
          "vec_id", kNeighbors = 3)
        .orderBy("src", "rnk")
    }),

    // ---- graph: weighted HITS over the event-type transition graph ----
    // Same edge relation as q_pagerank; 2 exact-integer mean-normalized
    // half-step pairs. Hubs ≠ authorities on a directed flow graph —
    // both columns carry signal.
    "q_hits" -> ((s, d) => {
      val edges = Sequences.markovTransitions(tw(s, d, "events"), "user_id",
        "event_type", Seq("ts", "event_id"))
      Graphs.hits(edges, "from_type", "to_type", "n", iters = 2)
        .select(col("node"),
          (round(col("auth"), 6) + lit(0.0)).as("auth"),
          (round(col("hub"), 6) + lit(0.0)).as("hub"))
        .orderBy("node")
    }),

    // ---- embeddings: product-quantization codes (4 subspaces × 16) ----
    "q_pq_codes" -> ((s, d) => {
      Similarity.pqCodes(tw(s, d, "embeddings"), "embedding", "vec_id",
          m = 4, k = 16, dim = 64)
        .orderBy("vec_id", "sub")
    }),

    // ---- embeddings: asymmetric-distance top-k over the PQ codes ----
    "q_pq_adc" -> ((s, d) => {
      Similarity.pqTopK(tw(s, d, "embeddings"), "embedding", "vec_id",
        queryId = 0L, m = 4, k = 16, dim = 64, topK = 10)
    }),

    // ---- embeddings: two-stage retrieval (ADC shortlist → exact rerank) ----
    "q_pq_rerank" -> ((s, d) => {
      Similarity.pqRerank(tw(s, d, "embeddings"), "embedding", "vec_id",
        queryId = 0L, m = 4, k = 16, dim = 64, shortlist = 40, topK = 10)
    }),

    // ---- time series: rolling z-score anomaly flags (exact integers) ----
    "q_anomaly_z" -> ((s, d) => {
      Timeseries.rollingAnomalies(
        t(s, d, "events").withColumn("__cents", cents(col("value"))),
        "user_id", Seq("ts", "event_id"), "__cents",
        idCols = Seq("event_id", "user_id"), lookback = 8, kSigma = 3)
        .orderBy("event_id")
    }),

    // ---- time series: CUSUM change-point alarms (prefix-sum form) ----
    // slack/threshold in cents; tuned so alarms exist at every oracle SF
    // (10 of 10k rows at sf0.01, 265 of 100k at sf0.1).
    "q_cusum" -> ((s, d) => {
      Timeseries.cusumAlarms(
        t(s, d, "events").withColumn("__cents", cents(col("value"))),
        "user_id", Seq("ts", "event_id"), "__cents",
        idCols = Seq("event_id", "user_id"),
        slack = 1000L, threshold = 50000L)
        .orderBy("event_id")
    }),

    // ---- time series: per-type ACF at lags 1..4 (exact integer bp) ----
    "q_autocorr" -> ((s, d) => {
      Timeseries.autocorr(
        t(s, d, "events").withColumn("__cents", cents(col("value"))),
        "event_type", Seq("ts", "event_id"), "__cents", maxLag = 4)
        .orderBy("event_type", "lag")
    }),

    // ---- time series: hour-of-day seasonal index per event type ----
    "q_seasonal" -> ((s, d) => {
      Timeseries.seasonalProfile(
        t(s, d, "events").withColumn("__cents", cents(col("value"))),
        "event_type", "ts", "__cents", season = "hour")
        .orderBy("event_type", "bucket")
    }),

    // ---- streaming twin: per-day trending top-k event types ----
    // The batch form of streaming.Trending — identical window bucketing,
    // ranking, and tie-break (spec-pinned equal to the live stream).
    "q_trending" -> ((s, d) => {
      graft.streaming.Trending.topKPerWindowBatch(
          t(s, d, "events"), "ts", "event_type", "1 day", k = 3)
        .orderBy("window_start", "rnk")
    }),

    // ---- observability: gate-attrition report over the Gopher rules ----
    "q_gate_attrition" -> ((s, d) => {
      RelationalOps.gateAttrition(
          TextAnalysis.gopherQualityFlags(t(s, d, "documents"), "text",
            "doc_id"),
          Seq("r_words", "r_mean_len", "r_alpha", "r_stop"))
        .orderBy("ord")
    }),

    // ---- QA: id-sequence gap detection (planted every-97th hole) ----
    "q_id_gaps" -> ((s, d) => {
      RelationalOps.idGaps(
          t(s, d, "documents").filter(pmod(col("doc_id"), lit(97L)) =!= 13),
          "doc_id")
        .orderBy("gap_start")
    }),

    // ---- QA: decade histogram of event cents per type ----
    "q_decade_hist" -> ((s, d) => {
      RelationalOps.decadeHistogram(
          t(s, d, "events").select(col("event_type"),
            cents(col("value")).as("v")),
          "event_type", "v")
        .orderBy("event_type", "decade")
    }),

    // ---- QA: Benford first-digit panel over event cents ----
    "q_benford" -> ((s, d) => {
      RelationalOps.benfordPanel(
          t(s, d, "events").select(cents(col("value")).as("v")), "v")
        .orderBy("digit")
    }),

    // ---- robust aggregation: weighted median value per event type ----
    "q_weighted_median" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type"),
        cents(col("value")).as("v"), (pmod(col("user_id"), lit(5L)) + 1).as("w"))
      RelationalOps.weightedMedian(ev, "event_type", "v", "w")
        .orderBy("event_type")
    }),

    // ---- governance: k-anonymity audit over quasi-identifiers ----
    // k=8 against a min class size of 5 at sf0.01 — both flag branches
    // live at the gate SF.
    "q_kanon" -> ((s, d) => {
      RelationalOps.kAnonymity(
          t(s, d, "customer")
            .withColumn("c_nationkey", col("c_nationkey").cast("long")),
          Seq("c_nationkey", "c_mktsegment"), k = 8)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // ---- privacy: ε-DP Laplace releases (seeded mechanism) ----
    // The MECHANISM side of the privacy family (k-anon/l-div/t-closeness
    // are audits): noisy counts and clamped noisy sums, deterministic by
    // the seeded-noise contract so the oracle reproduces them exactly.
    // Each release carries its OWN nonce (never reused across releases —
    // shared noise across two releases of evolving data exposes the delta)
    "q_dp_counts" -> ((s, d) => {
      RelationalOps.dpGroupCounts(t(s, d, "events"), "event_type",
          epsilonMicro = 500000L, releaseNonce = "graft-r10-evcounts")
        .orderBy("event_type")
    }),

    "q_dp_sum" -> ((s, d) => {
      RelationalOps.dpGroupSum(t(s, d, "orders"), "o_orderstatus",
          round(col("o_totalprice") * 100).cast("long"),
          clampCents = 10000000L, epsilonMicro = 1000000L,
          releaseNonce = "graft-r10-ordsum")
        .orderBy("o_orderstatus")
    }),

    // Fixed-support DP release over a PUBLIC key domain: customers of
    // one region counted per nation, released over ALL 25 nation names —
    // the 20 absent nations get a noised zero, so the support is a
    // constant of the release and add/remove adjacency holds (the
    // support-leak fix: without the domain, a vanished group would
    // distinguish neighbors with certainty).
    "q_dp_domain" -> ((s, d) => {
      val nat = t(s, d, "nation")
      val data = t(s, d, "customer")
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_regionkey") === 1L)
        .select(col("n_name"))
      RelationalOps.dpGroupCounts(data, "n_name", epsilonMicro = 500000L,
          releaseNonce = "graft-r10-natdomain",
          keyDomain = Some(nat.select(col("n_name"))))
        .orderBy("n_name")
    }),

    // ---- LOCAL-DP frequency release (k-ary randomized response) ----
    // The local-model leg of the privacy family: every event's type is
    // perturbed row-side (p = 0.75 keep, the rest uniform over the other
    // 4 public categories, ε = ln(12) ≈ 2.48), then the observed
    // histogram debiases. The domain is the schema's public event-type
    // enum — the release support is the domain, never the data.
    "q_ldp_freq" -> ((s, d) => {
      import s.implicits._
      val domain = Seq("click", "error", "purchase", "signup", "view")
        .toDF("event_type")
      RelationalOps.ldpFrequency(tw(s, d, "events"), "event_id",
          "event_type", domain, pMicro = 750000L,
          releaseNonce = "graft-r10-ldp")
        .orderBy("event_type")
    }),

    // ---- data quality: functional-dependency discovery ----
    // Candidate panel over orders with all outcomes live at sf0.01:
    // the key FD holds exactly; custkey→status, status→priority and
    // date→priority are violated with measured g3 error.
    "q_func_deps" -> ((s, d) => {
      RelationalOps.fdProfile(t(s, d, "orders"), Seq(
          ("o_orderkey", "o_custkey"),
          ("o_custkey", "o_orderstatus"),
          ("o_orderstatus", "o_orderpriority"),
          ("o_orderdate", "o_orderpriority")))
        .orderBy("fd")
    }),

    // ---- Mann–Whitney U rank-sum test (tie-corrected) ----
    // Nonparametric two-sample test: click values vs view values in
    // exact integer cents — midranks in half-units, integer tie term,
    // one double z at the end. Cents collide heavily (ties live).
    "q_mannwhitney" -> ((s, d) => {
      RelationalOps.mannWhitneyU(
          t(s, d, "events")
            .filter(col("event_type").isin("click", "view")),
          cents(col("value")), col("event_type") === "click")
    }),

    // ---- Kruskal–Wallis H: did ANY event type shift the value
    // distribution? (the k-sample sibling of q_mannwhitney — same
    // midrank-on-the-cents-domain kernel, ppm-truncated group means) ----
    "q_kruskal" -> ((s, d) => {
      Stats.kruskalWallisH(t(s, d, "events"), cents(col("value")),
        "event_type")
    }),

    // ---- one-way ANOVA F + eta² over the same framing: the parametric
    // twin of q_kruskal (rank-free, so it reads effect SIZE in value
    // units — together they bracket "shift exists" vs "shift matters") ----
    "q_anova" -> ((s, d) => {
      Stats.anovaF(t(s, d, "events"), cents(col("value")), "event_type")
    }),

    // ---- Spearman rank correlation per return flag: monotone
    // quantity↔price association, tie-corrected (quantity's tiny integer
    // domain collides constantly — midranks carry the ties exactly) ----
    "q_spearman" -> ((s, d) => {
      Stats.spearmanRho(t(s, d, "lineitem"), "l_returnflag",
          cents(col("l_quantity")), cents(col("l_extendedprice")))
        .orderBy("l_returnflag")
    }),

    // ---- the SKETCH lane of q_spearman: ranks against a broadcast
    // 512-row sample ECDF per group (DKW ±6% quantile error at 95%) —
    // one corpus scan, no corpus-grain rank joins; error priced vs the
    // exact twin in BASELINE.md ----
    "q_spearman_sketch" -> ((s, d) => {
      Stats.spearmanSketch(
          t(s, d, "lineitem").withColumn("__rowid",
            col("l_orderkey") * 10L + col("l_linenumber")),
          "l_returnflag", "__rowid",
          cents(col("l_quantity")), cents(col("l_extendedprice")), k = 512)
        .orderBy("l_returnflag")
    }),

    // ---- Kendall tau-b on the nation-grain panel (bounded all-pairs by
    // construction: 25 nations → 300 pairs; corpus-grain rank association
    // is q_spearman's linear kernel) ----
    "q_kendall" -> ((s, d) => {
      val nat = t(s, d, "customer").groupBy(col("c_nationkey").cast("long")
          .as("nk"))
        .agg(sum(cents(col("c_acctbal"))).as("bal"),
          count(lit(1)).as("cnt"))
      Stats.kendallTauB(nat, "nk", col("bal"), col("cnt"))
    }),

    // ---- sketch: CMS inner-product join-size estimate vs the exact
    // Σf² — the planner-side "how big would this self-join on user_id
    // get?" answered from sketch cells without running the join ----
    "q_cms_join_size" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id").cast("string").as("uid"))
      val est = Sketches.cmsJoinSize(ev, "uid", ev, "uid")
      // NULL keys join nothing: excluded from BOTH lanes (SQL semantics)
      val exact = t(s, d, "events").filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("__f"))
        .agg(sum(expr("CAST(__f AS DECIMAL(38,0)) * __f")).cast("long")
          .as("exact_join_size"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_join_size"), col("est_join_size"),
          expr("(10000 * est_join_size) div exact_join_size").as("est_bp"))
    }),

    // ---- experimentation guardrail: sample-ratio mismatch on the
    // user-parity variants vs their 1:1 assignment (df=1 critical value
    // 3.8415) — the check that runs BEFORE any metric readout ----
    "q_srm" -> ((s, d) => {
      RelationalOps.srmCheck(
        t(s, d, "events").select(concat(lit("v"),
          pmod(col("user_id"), lit(2L)).cast("string")).as("variant")),
        "variant", Seq(("v0", 1L), ("v1", 1L)), critMicro = 3841500L)
    }),

    // ---- causal diagnostic: covariate overlap (1 − TV distance) between
    // the variants over the PSI value bins — positivity before weighting ----
    "q_overlap_tv" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("__c", cents(col("value")))
      RelationalOps.overlapTv(ev, expr("__c div 2500"),
        pmod(col("user_id"), lit(2L)) === 0)
    }),

    // ---- skyline: the price/size pareto frontier of the parts catalog
    // (no other part is cheaper-or-equal AND bigger-or-equal) ----
    "q_skyline" -> ((s, d) => {
      RelationalOps.skyline2d(t(s, d, "part"),
          cents(col("p_retailprice")), col("p_size"))
        .orderBy("min_value")
    }),

    // ---- Cramér's V over the q_chi2 framing — the [0,1] effect size
    // that makes chi2 comparable across table sizes ----
    "q_cramers_v" -> ((s, d) => {
      Stats.cramersV(
        t(s, d, "events").withColumn("isodow",
          (weekday(col("ts")) + 1).cast("long")),
        "event_type", "isodow")
    }),

    // ---- robust trend: Theil–Sen slope of daily revenue — the pair
    // panel is calendar-grain (days²), data-independent at any SF ----
    "q_theil_sen" -> ((s, d) => {
      val daily = t(s, d, "orders")
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      Stats.theilSen(daily, col("day"), col("rev"))
    }),

    // ---- changepoint: the single best mean-shift split of the daily
    // revenue series — argmax decided on the exact integer gain ----
    "q_changepoint" -> ((s, d) => {
      val daily = t(s, d, "orders")
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      Timeseries.changepointMean(daily, col("day"), col("rev"))
    }),

    // ---- effect sizes: Cohen's d / Hedges' g of each event type's value
    // vs the rest — gaps in sd units, comparable where z/F are not ----
    "q_effect_size" -> ((s, d) => {
      Stats.cohensD(t(s, d, "events"), cents(col("value")), "event_type")
        .orderBy("event_type")
    }),

    // ---- randomness audit: Wald–Wolfowitz runs test on daily revenue
    // around its median — too few runs = trend/level shifts (the
    // q_changepoint signal), too many = oscillation ----
    "q_runs_test" -> ((s, d) => {
      val daily = t(s, d, "orders")
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).cast("long").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      Stats.runsTest(daily, col("day"), col("rev"))
    }),

    // ---- experimentation: two-proportion z on the purchase conversion
    // rate between the user-parity variants (pooled variance) ----
    "q_two_proportions" -> ((s, d) => {
      Stats.twoProportionsZ(t(s, d, "events"),
        col("event_type") === "purchase",
        pmod(col("user_id"), lit(2L)) === 0)
    }),

    // ---- graph: degree assortativity of the nation trade graph — do
    // hub nations trade with hubs (positive) or spokes (negative)? ----
    "q_assortativity" -> ((s, d) => {
      Graphs.assortativity(nationTradeEdges(s, d), "u", "v")
    }),

    // ---- profiling: inclusion dependencies across the star schema —
    // the referential-integrity audit before trusting a join key (the
    // cross-table companion of q_func_deps; two planted non-keys) ----
    // Plain t(...) loads, deliberately (optimization r14): r13 conditioned
    // all six scans and the profile REGRESSED 1.73 → 3.50 s reproducibly
    // at both 8 and 32 cores — per-candidate work is a distinct projection
    // + one value-domain join, join-light per byte, so the six extra
    // exchanges cost more than the parallelism buys (VERDICT.md r13 §Next
    // round #1; the revert was re-measured isolated this round).
    "q_inclusion_deps" -> ((s, d) => {
      RelationalOps.inclusionProfile(Seq(
        ("customer.c_nationkey<nation.n_nationkey",
          t(s, d, "customer"), "c_nationkey", t(s, d, "nation"), "n_nationkey"),
        ("lineitem.l_orderkey<orders.o_orderkey",
          t(s, d, "lineitem"), "l_orderkey", t(s, d, "orders"), "o_orderkey"),
        ("lineitem.l_partkey<part.p_partkey",
          t(s, d, "lineitem"), "l_partkey", t(s, d, "part"), "p_partkey"),
        ("lineitem.l_partkey<supplier.s_suppkey",
          t(s, d, "lineitem"), "l_partkey", t(s, d, "supplier"), "s_suppkey"),
        ("orders.o_custkey<customer.c_custkey",
          t(s, d, "orders"), "o_custkey", t(s, d, "customer"), "c_custkey"),
        ("orders.o_orderkey<lineitem.l_orderkey",
          t(s, d, "orders"), "o_orderkey", t(s, d, "lineitem"), "l_orderkey")))
    }),

    // ---- feature screen: mutual information + NMI between event type
    // and hour-of-day (floored-nano cell contributions keep the
    // cross-cell sum order-invariant) ----
    "q_mutual_info" -> ((s, d) => {
      Stats.mutualInfo(t(s, d, "events"), col("event_type"), hour(col("ts")))
    }),

    // ---- causal: difference-in-differences on the CUPED framing (same
    // user-parity variants and 2024-01-16 cut; CUPED adjusts variance,
    // DiD removes the shared time trend) ----
    "q_did" -> ((s, d) => {
      val cut = lit("2024-01-16").cast("timestamp")
      Stats.diffInDiff(t(s, d, "events"), cents(col("value")),
        pmod(col("user_id"), lit(2L)) === 0, col("ts") >= cut)
    }),

    // ---- recommender: item-item cosine CF over the co-purchase baskets
    // (q_covisit's relation; lift mines surprise, cosine ranks "users
    // also bought" — ranked on truncated integer cos², never double) ----
    "q_item_cf" -> ((s, d) => {
      Graphs.itemItemCf(
          tw(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", maxBasketSize = 10, minCount = 2, k = 5)
        .orderBy("item", "rank")
    }),

    // ---- curation: Jensen–Shannon divergence of each source's unigram
    // distribution vs the rest — the training-mix outlier panel (absent
    // words fold in closed form; no source×vocab cross join) ----
    "q_js_sources" -> ((s, d) => {
      TextAnalysis.sourceJsDivergence(t(s, d, "documents"), "text", "source")
        .orderBy("source")
    }),

    // ---- LM: interpolated Kneser–Ney bigram probabilities — one exact
    // rational per bigram with D=3/4 cleared through the 4x denominator;
    // same token stream and model cut as q_bigram_score ----
    "q_kneser_ney" -> ((s, d) => {
      TextAnalysis.kneserNeyBigram(t(s, d, "documents"), "text",
          minPairCount = 25L)
        .orderBy("w1", "w2")
    }),

    // USER-LEVEL DP: event counts per type where the privacy unit is the
    // USER — each user's contribution clamps to 20 events per type, so
    // the release is ε-DP under removing an entire user's history
    "q_dp_user" -> ((s, d) => {
      RelationalOps.dpUserCounts(t(s, d, "events"), "event_type", "user_id",
          capPerUser = 20L, epsilonMicro = 500000L,
          releaseNonce = "graft-r10-usercounts")
        .orderBy("event_type")
    }),

    // Thresholded ("stable histogram") DP release of a PRIVATE key set:
    // the corpus vocabulary with noisy term frequencies, rare strings
    // dropped by the noisy threshold — the release form for key sets
    // with no public domain (ε=0.5, tau=25 → δ ≈ 3e-6).
    "q_dp_vocab" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(
          graft.expressions.Exprs.wordShingles(col("text"), 1)).as("word"))
        .filter(col("word") =!= "")
      RelationalOps.dpStableCounts(toks, "word", epsilonMicro = 500000L,
          tau = 25L, releaseNonce = "graft-r10-vocab")
        .orderBy("word")
    }),

    // ---- privacy: l-diversity over the k-anonymity quasi key ----
    // Sensitive attribute = the account-balance band (floor/1000 — floor,
    // not cast: double→int casts ROUND in DuckDB and TRUNCATE in Spark).
    "q_ldiversity" -> ((s, d) => {
      RelationalOps.lDiversity(
        t(s, d, "customer")
          .withColumn("c_nationkey", col("c_nationkey").cast("long"))
          .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 3)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // ---- privacy: t-closeness (EMD over the ordered balance bands) ----
    "q_tcloseness" -> ((s, d) => {
      RelationalOps.tCloseness(
        t(s, d, "customer")
          .withColumn("c_nationkey", col("c_nationkey").cast("long"))
          .withColumn("bal_band", floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", tPpm = 200000L)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // ---- quality: compressibility (order-0 entropy-coded size) ----
    // The oracle-able form of the compression-ratio signal: the zlib
    // kernel (TextAnalysis.compressionRatio) stays in the library
    // spec-pinned, but the DRIVER-CHECKED query models the entropy-coding
    // stage exactly (round(ln·1e6) micro-bit lane) so the hash gate
    // covers it — r9 closed the last rows-only slot with this swap.
    "q_compress_ratio" -> ((s, d) => {
      TextAnalysis.entropyCodedSize(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // ---- curation: per-source quantile calibration of quality ----
    "q_calibrate" -> ((s, d) => {
      val scored = TextAnalysis.qualityScore(t(s, d, "documents"), "text",
        "doc_id", keepCols = Seq("source"))
      Curation.calibrateScores(scored, "source", "quality", "doc_id")
        .orderBy("doc_id")
    }),

    // ---- curation: exact rank-sum ROC-AUC (length as an en-ness probe) ----
    "q_auc" -> ((s, d) => {
      Curation.aucExact(
        t(s, d, "documents").select(col("n_chars"),
          (col("lang") === "en").as("is_en")),
        "n_chars", "is_en")
    }),

    // ---- curation: Cohen's kappa, langid heuristic vs the lang column ----
    "q_kappa" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.cohenKappa(
        docs.join(TextAnalysis.languageId(docs, "text", "doc_id"), "doc_id"),
        "lang", "lang_pred")
    }),

    // ---- curation: token-budget water-filling across sources ----
    // Budget 21732 = ~80% of the sf0.01 corpus's ws tokens — chosen so
    // the cap cascade spans all 3 rounds at the gate SF (7, 2, then 2
    // sources cap; simulated). Weights derive from the source suffix on
    // both sides.
    "q_token_budget" -> ((s, d) => {
      val avail = t(s, d, "documents").groupBy("source")
        .agg(sum(TextFunctions.tokenCount(col("text"))).cast("long")
          .as("avail"))
      val wts = avail.select(col("source"),
        ((expr("CAST(substring(source, 4) AS INT)") % 5 + 1) * 1000)
          .cast("long").as("w"))
      Curation.tokenBudget(avail, "source", "avail", wts, "source", "w",
          budget = 21732L, rounds = 3)
        .orderBy("source")
    }),

    // ---- curation: mixture plan EXECUTED — water-fill ∘ rate sample ----
    // One lazy DAG: avail counts → tokenBudget → per-source bp filter.
    "q_mix_execute" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val avail = docs.groupBy("source")
        .agg(sum(TextFunctions.tokenCount(col("text"))).cast("long")
          .as("avail"))
      val wts = avail.select(col("source"),
        ((expr("CAST(substring(source, 4) AS INT)") % 5 + 1) * 1000)
          .cast("long").as("w"))
      val plan = Curation.tokenBudget(avail, "source", "avail", wts,
        "source", "w", budget = 21732L, rounds = 3)
      Curation.allocationSample(docs, "doc_id", "source", plan, "source",
          "rate_bp")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // ---- curation: deterministic global shuffle (epoch permutation) ----
    "q_global_shuffle" -> ((s, d) => {
      Curation.globalShuffleOrder(t(s, d, "documents"), "doc_id",
          buckets = 64)
        .orderBy("doc_id")
    }),

    // ---- text: PMI word-association pairs ----
    "q_pmi" -> ((s, d) => {
      TextAnalysis.pmiPairs(t(s, d, "documents"), "text", "doc_id",
          minPairCount = 5)
        .orderBy("x", "y")
    }),

    // ---- embeddings: contrastive triplet mining over quantizer cells ----
    "q_triplets" -> ((s, d) => {
      Similarity.contrastiveTriplets(t(s, d, "embeddings"), "embedding",
          "vec_id", k = 8)
        .orderBy("anchor_id")
    }),

    // ---- relational: data-quality expectation suite ----
    // The value-mass rule FAILS by design (≈13% of events sit ≥ 100
    // against a 10% budget at every SF) — both verdict branches live.
    "q_expectations" -> ((s, d) => {
      RelationalOps.expectations(t(s, d, "events"), Seq(
        ("event_id_not_null", col("event_id").isNull, 0),
        ("value_in_range", col("value") < 0 || col("value") > 1000, 0),
        ("type_known", !col("event_type").isin("click", "view", "purchase",
          "signup", "error"), 0),
        ("value_mass_below_100", col("value") >= 100, 1000)))
        .orderBy("rule")
    }),

    // ---- relational: PSI drift panel between two event samples ----
    "q_psi" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("__cents", cents(col("value")))
      RelationalOps.populationStability(
        ev.filter(pmod(col("event_id"), lit(2L)) === 0),
        ev.filter(pmod(col("event_id"), lit(2L)) === 1),
        "__cents", lo = 0L, width = 2500L, nBuckets = 10)
        .orderBy("bucket")
    }),

    // ---- dedup: fuzzy record linkage across two tables ----
    // Right side = a second "system of record": ids shifted, a third of
    // the records gain a token (small edit), a third are byte-identical,
    // a third are absent — matches at dist 0 AND dist > 0, plus
    // unmatched lefts, all live at every SF.
    "q_link_tables" -> sorted("id_l", "id_r") { (s, d) =>
      val docs = tw(s, d, "documents")
      Dedup.linkTables(docs, "text", "doc_id", linkRightTable(docs),
          "text", "doc_id", maxDist = 10)
    },

    // ---- linkage against a STORED reference index ----
    // Same output as q_link_tables (identical hash family lives in the
    // stored bands); the cost drops to the delta side's kernel + the
    // candidates-sized verify — the production lane of the accepted
    // q_link_tables inline-kernel artifact (the q_dedup_indexed pattern).
    "q_link_indexed" -> sorted("id_l", "id_r") { (s, d) =>
      val docs = tw(s, d, "documents")
      val dir = storeDir("link", d)
      // bands is the LAST half buildLinkIndex writes (texts-first crash
      // ordering), so its marker proves the whole build committed
      val marker = new org.apache.hadoop.fs.Path(dir + "/bands/_SUCCESS")
      if (!marker.getFileSystem(s.sessionState.newHadoopConf()).exists(marker))
        Dedup.buildLinkIndex(docs, "text", "doc_id", dir)
      Dedup.linkAgainstIndex(s, dir, linkRightTable(docs), "text", "doc_id",
          maxDist = 10)
    },

    // ---- semantic dedup against a STORED IVF index: the embedding twin
    // of q_dedup_indexed/q_link_indexed — the master prefix (ids ≤
    // ⌊2·max/3⌋, which contains the k = 8 seeds) is indexed once per JVM,
    // the delta (the id suffix) screens against it partition-pruned;
    // the oracle is the INLINE kernel restricted to the delta (master
    // ids all precede delta ids, so "any indexed partner" == the inline
    // smaller-id rule) ----
    "q_semdedup_indexed" -> ((s, d) => {
      val emb = tw(s, d, "embeddings")
      val cut = emb.agg(max(col("vec_id"))).head.getLong(0) * 2 / 3
      val dir = storeDir("semidx", d)
      if (!Similarity.ivfIndexCommitted(s, dir))
        Similarity.buildIvfIndex(emb.filter(col("vec_id") <= cut),
          "embedding", "vec_id", kCentroids = 8, indexDir = dir)
      Similarity.semDedupAgainstIndex(s, dir,
          emb.filter(col("vec_id") > cut), "embedding", "vec_id",
          threshold = 0.35)
        .orderBy("vec_id")
    }),

    // The production-k form: the index quantizer sized to the MASTER
    // corpus (AutoCells → ⌊√n_master⌋), so cells keep √n grain as the
    // indexed corpus grows instead of the pinned k = 8 contract's
    // linearly-fattening cells — the q_semdedup_scaled convention
    // applied to the stored-index screen.
    "q_semdedup_indexed_scaled" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cut = emb.agg(max(col("vec_id"))).head.getLong(0) * 2 / 3
      val dir = storeDir("semidxsc", d)
      if (!Similarity.ivfIndexCommitted(s, dir))
        Similarity.buildIvfIndex(emb.filter(col("vec_id") <= cut),
          "embedding", "vec_id", kCentroids = Similarity.AutoCells,
          indexDir = dir)
      Similarity.semDedupAgainstIndex(s, dir,
          emb.filter(col("vec_id") > cut), "embedding", "vec_id",
          threshold = 0.35)
        .orderBy("vec_id")
    }),

    // ---- sequences: per-user truncated event-type training rows ----
    "q_user_sequences" -> ((s, d) => {
      Sequences.userSequences(t(s, d, "events"), "user_id", "event_type",
          Seq("ts", "event_id"), maxLen = 20)
        .orderBy("user_id")
    }),

    // ---- relational: CUPED-adjusted experiment readout ----
    // Unit frame = per-user (pre-period covariate, post-period metric)
    // in cents; variant = deterministic user-id parity.
    "q_cuped" -> ((s, d) => {
      val cut = lit("2024-01-16").cast("timestamp")
      val per = t(s, d, "events").groupBy("user_id").agg(
        sum(when(col("ts") < cut, cents(col("value"))).otherwise(0L)).as("x"),
        sum(when(col("ts") >= cut, cents(col("value"))).otherwise(0L)).as("y"))
        .withColumn("variant",
          concat(lit("v"), pmod(col("user_id"), lit(2L)).cast("string")))
      RelationalOps.cupedMeans(per, "variant", "y", "x").orderBy("variant")
    }),

    // ---- warehouse: zone-map stats + range-predicate skip evaluation ----
    // bucket = l_orderkey div 4096 stands in for the physical file id; the
    // skip rule is exactly parquet row-group / Iceberg manifest pruning.
    "q_zone_map" -> ((s, d) => {
      val zones = Warehouse.zoneMap(t(s, d, "lineitem"),
        expr("l_orderkey div 4096"), Seq("l_shipdate", "l_extendedprice"))
      Warehouse.zoneSkip(zones, "l_shipdate",
          lit("1995-01-01").cast("timestamp"), lit("1995-12-31").cast("timestamp"))
        .orderBy("bucket")
    }),

    // ---- warehouse: mergeable partial-agg state (incremental MV) ----
    // Two disjoint "loads" (event_id mod 3) build states independently;
    // the merged+finalized result must equal a from-scratch aggregate —
    // which is precisely what the oracle computes.
    "q_agg_delta" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("day", date_trunc("day", col("ts")))
      val base = Warehouse.aggState(ev.filter(col("event_id") % 3 =!= 0),
        Seq("event_type", "day"), "value")
      val delta = Warehouse.aggState(ev.filter(col("event_id") % 3 === 0),
        Seq("event_type", "day"), "value")
      Warehouse.finalizeAggState(
          Warehouse.mergeAggStates(Seq(base, delta), Seq("event_type", "day")))
        .orderBy("event_type", "day")
    }),

    // ---- warehouse: incremental join-view maintenance ----
    // V = orders ⋈ customer; deltas split deterministically (every 17th
    // order, every 13th customer — both live at sf0.01, including
    // delta×delta pairs). Engine = the delta rule (masters broadcast-probe
    // the deltas, never shuffle); oracle = full recompute EXCEPT ALL old
    // view — the DEFINITION of the view delta, a different algorithm.
    "q_join_delta" -> ((s, d) => {
      val a = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"))
      val b = t(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Warehouse.joinViewDelta(
          a.filter(col("o_orderkey") % 17 =!= 0),
          a.filter(col("o_orderkey") % 17 === 0),
          b.filter(col("custkey") % 13 =!= 0),
          b.filter(col("custkey") % 13 === 0),
          Seq("custkey"))
        .select(col("o_orderkey"), col("custkey"), col("c_mktsegment"))
        .orderBy("o_orderkey")
    }),

    // ---- preferences: pairwise win matrix from head-to-head trials ----
    "q_pairwise_wins" -> ((s, d) => {
      Preferences.winMatrix(Preferences.comparisons(t(s, d, "events"),
          expr("event_id div 2"), "event_type", "value", "event_id"))
        .orderBy("winner", "loser")
    }),

    // ---- preferences: Bradley–Terry strengths (3 MM steps, exact micro) ----
    "q_bradley_terry" -> ((s, d) => {
      Preferences.fitBradleyTerry(t(s, d, "events"), expr("event_id div 2"),
          "event_type", "value", "event_id", iters = 3)
        .orderBy("item")
    }),

    // ---- text: template mining over the digit-masked corpus ----
    "q_templates" -> ((s, d) => {
      TextAnalysis.templates(templateCorpus(s, d), "text", "doc_id")
        .orderBy("template")
    }),

    // ---- attribution: last-touch credit of purchase value ----
    "q_attribution" -> ((s, d) => {
      Timeseries.lastTouchAttribution(t(s, d, "events"), "user_id",
          Seq("ts", "event_id"), "event_type", "value", "purchase")
        .orderBy("channel")
    }),

    // ---- text: zero-shuffle linear scoring scan (weights as literal) ----
    "q_linear_scan" -> ((s, d) => {
      TextAnalysis.linearScoreScan(tw(s, d, "documents"), "text", "doc_id",
          scanWeightsMicro, biasMicro = 50000L)
        .orderBy("doc")
    }),

    // ---- linkage: blocked Fellegi-Sunter matching across two systems ----
    "q_er_matches" -> sorted("id_a", "id_b") { (s, d) =>
      val (a, b) = erSides(s, d)
      Linkage.linkPairs(a, b, "rec_id", Seq("nat", "postcode"), erFields,
          threshold = 25L)
    },

    // ---- linkage: precision/recall of the config vs ground truth ----
    "q_er_eval" -> ((s, d) => {
      val (a, b) = erSides(s, d)
      val pred = Linkage.linkPairs(a, b, "rec_id", Seq("nat", "postcode"),
        erFields, threshold = 25L)
      val truth = t(s, d, "customer").select(
        col("c_custkey").as("id_a"), col("c_custkey").as("id_b"))
      Linkage.linkEval(pred, truth)
    }),

    // ---- linkage: UNSUPERVISED Fellegi–Sunter weight learning (EM) ----
    // q_er_matches ships with hand-set weights; here the un-thresholded
    // candidate patterns LEARN p/m/u by EM (5 rounds, exact 1e-9-grid
    // arithmetic) — all 8 agreement patterns live at sf0.01, posteriors
    // spreading 0.005 (all-disagree) to 0.998 (all-agree).
    "q_fs_em" -> ((s, d) => {
      fsEmFit(s, d).patterns.orderBy("pattern")
    }),

    // the learned parameters themselves — the artifact a production ER
    // config would persist and feed into scorePairs as log-odds weights
    "q_fs_params" -> ((s, d) => {
      import s.implicits._
      val r = fsEmFit(s, d)
      (("p", r.pNano) +:
        (r.mNano.zipWithIndex.map { case (v, j) => (s"m_$j", v) } ++
          r.uNano.zipWithIndex.map { case (v, j) => (s"u_$j", v) }))
        .toDF("param", "value_nano")
        .orderBy("param")
    }),

    // ---- linkage: pairs classified by the LEARNED model ----
    // The loop closed: candidates → EM fit → posterior ≥ ½ patterns →
    // matched pairs with their posterior; the 8-row pattern relation
    // attaches by broadcast, so classification costs one candidate scan.
    "q_fs_matches" -> sorted("id_a", "id_b") { (s, d) =>
      val (a, b) = erSides(s, d)
      fsMatches(a, b)
    },

    // ---- linkage: the SCALE lane of q_fs_matches — the fixed
    // (nat, postcode) blocking grain grows candidates quadratically with
    // corpus density (its own sf1 trend row measured 10× wall at 10×
    // data), so the production shape caps every block at FsBlockCap
    // records per side BEFORE pair generation (the q_jaro_scaled
    // pattern): bounded candidates at ANY corpus size, EM fit and
    // classification both on the capped universe, recall priced against
    // the exact twin in BASELINE.md ----
    "q_fs_matches_scaled" -> sorted("id_a", "id_b") { (s, d) =>
      val (a, b) = erSidesCapped(s, d)
      fsMatches(a, b)
    },

    // ---- graphs: link prediction (common neighbors + RA index) ----
    "q_link_predict" -> ((s, d) => {
      Graphs.linkPrediction(nationTradeEdges(s, d), "u", "v")
        .orderBy("u", "v")
    }),

    // ---- warehouse: join cardinality estimate (pre-flight stats) ----
    // lineitem self-join on l_partkey — genuinely many-to-many, so the
    // estimate is non-trivial; 10% key-cluster sample.
    "q_join_card" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      Warehouse.joinCardinalityEstimate(li, li, "l_partkey", pct = 10)
    }),

    // ---- warehouse: compaction plan over the zone map ----
    "q_compaction" -> ((s, d) => {
      val zones = Warehouse.zoneMap(t(s, d, "lineitem"),
        expr("l_orderkey div 512"), Seq("l_shipdate"))
      Warehouse.compactionPlan(zones, targetRows = 4000L)
        .orderBy("merge_group")
    }),

    // ---- warehouse: equi-depth histogram (optimizer column stat) ----
    "q_histogram" -> ((s, d) => {
      RelationalOps.equiDepthHistogram(t(s, d, "events"), "value",
          col("event_id"), nBuckets = 16, samplePct = 10)
        .orderBy("bucket")
    }),

    // ---- SQL surface: correlated scalar subquery (Catalyst decorrelates
    // it to an aggregate+join — plan-pinned; TPC-H Q17 shape with the
    // avg threshold as an exact floored-cents integer) ----
    "q17_smallqty" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("__q17_lineitem")
      t(s, d, "part").createOrReplaceTempView("__q17_part")
      s.sql(
        """SELECT p_brand, count(*) AS n_small,
          |  CAST(round(sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0, 2)
          |    AS DOUBLE) AS sum_price
          |FROM __q17_lineitem JOIN __q17_part ON l_partkey = p_partkey
          |WHERE CAST(round(l_quantity*100) AS BIGINT) <
          |  (SELECT (2 * sum(CAST(round(l2.l_quantity*100) AS BIGINT)))
          |     div (10 * count(*))
          |   FROM __q17_lineitem l2 WHERE l2.l_partkey = __q17_part.p_partkey)
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    }),

    // ---- training: in-engine Naive Bayes fit + held-out accuracy ----
    "q_nb_classify" -> ((s, d) => {
      TextAnalysis.nbAccuracy(
        t(s, d, "documents").withColumn("is_en", col("lang") === "en"),
        "text", "doc_id", "is_en", trainPct = 80)
    }),

    // ---- training: exact decision-stump fit (model == query result) ----
    "q_stump" -> ((s, d) => {
      val feats = t(s, d, "documents").select(
        col("n_chars"),
        TextFunctions.tokenCount(col("text")).as("n_words"),
        (col("lang") === "en").as("is_en"))
      Curation.trainStump(feats, Seq("n_chars", "n_words"), "is_en")
    }),

    // ---- hygiene: group-atomic split (GroupKFold rule) ----
    "q_group_split" -> ((s, d) => {
      Curation.groupSplitAssignments(t(s, d, "documents"), "source",
          Seq(("train", 90), ("val", 5), ("test", 5)))
        .groupBy("split", "source").agg(count(lit(1)).as("n_docs"))
        .orderBy("split", "source")
    }),

    // ---- hygiene: time split with embargo gap ----
    "q_time_split" -> ((s, d) => {
      Curation.timeSplit(t(s, d, "events"), "ts",
          "2024-01-20 00:00:00", "3 DAYS")
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min("ts").as("first_ts"),
          max("ts").as("last_ts"))
        .orderBy("split")
    }),

    // ---- distribution audit: exact two-sample KS on the cents domain ----
    "q_ks_test" -> ((s, d) => {
      RelationalOps.ksStatistic(t(s, d, "events"), "event_type", "value",
        "click", "error")
    }),

    // ---- distribution audit: Gini concentration of order sizes ----
    "q_gini" -> ((s, d) => {
      RelationalOps.giniIndex(t(s, d, "orders"), "o_totalprice")
    }),

    // ---- distribution audit: chi-square independence (type x weekday) ----
    "q_chi2" -> ((s, d) => {
      RelationalOps.chiSquare(
        t(s, d, "events").withColumn("isodow", (weekday(col("ts")) + 1).cast("long")),
        "event_type", "isodow")
    }),

    // ---- text: Flesch-style readability (integer milli) ----
    "q_readability" -> ((s, d) => {
      TextAnalysis.readability(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc")
    }),

    // ---- curation: curriculum sharding (difficulty-stratified deal) ----
    "q_curriculum" -> ((s, d) => {
      Curation.curriculumShards(t(s, d, "documents"), "doc_id", "n_chars",
          "source", numShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          (round(sum("n_chars") / count(lit(1)), 4) + lit(0.0)).as("avg_chars"))
        .orderBy("shard")
    }),

    // ---- linkage: Jaro-Winkler fuzzy pairs (native codegen expression,
    // blocked self-join, sound letter-multiset prefilter before the
    // scorer -- candidates, never the cross product) ----
    "q_jaro_pairs" -> sorted("id_a", "id_b") { (s, d) =>
      jaroPairs(tw(s, d, "part"))
    },

    // ---- linkage: the SCALE lane of q_jaro_pairs — fixed-category
    // blocking makes candidates grow n² per block, so the production
    // shape caps blocks deterministically (bounded pairs at ANY corpus
    // size; recall trade priced by comparing against the exact twin) ----
    "q_jaro_scaled" -> sorted("id_a", "id_b") { (s, d) =>
      jaroPairs(Linkage.capBlocks(tw(s, d, "part"), Seq("p_brand"),
        "p_partkey", cap = 400))
    },

    // ---- eval: Poisson bootstrap replicates (B resamples, ONE scan) ----
    "q_bootstrap" -> ((s, d) => {
      RelationalOps.poissonBootstrap(tw(s, d, "orders"),
          col("o_orderkey").cast("string"),
          round(col("o_totalprice") * 100).cast("long"), resamples = 40)
        .orderBy("b")
    }),

    // ---- eval: percentile bootstrap CI over the replicate means ----
    "q_bootstrap_ci" -> ((s, d) => {
      RelationalOps.poissonBootstrapCI(tw(s, d, "orders"),
          col("o_orderkey").cast("string"),
          round(col("o_totalprice") * 100).cast("long"), resamples = 40)
    }),

    // ---- training: batch perceptron over hashed features (3 synchronous
    // rounds, exact integer updates — audit curve == model checksum) ----
    "q_perceptron" -> ((s, d) => {
      TextAnalysis.trainPerceptron(
          t(s, d, "documents").withColumn("is_en", col("lang") === "en"),
          "text", "doc_id", "is_en", dim = 256, rounds = 3)
        .orderBy("round")
    }),

    // ---- audit: WOE / information-value panel (supervised binning) ----
    "q_woe" -> ((s, d) => {
      RelationalOps.woePanel(
          t(s, d, "documents").filter(col("n_chars").isNotNull),
          expr("n_chars div 100"), col("lang") === "en")
        .orderBy("bin")
    }),

    // ---- sketch: HyperLogLog registers (mergeable 64-row state/group) ----
    "q_hll_registers" -> ((s, d) => {
      Sketches.hllBuild(hllSource(s, d), "cust", "grp")
        .orderBy("grp", "bucket")
    }),

    // ---- sketch: HLL estimate vs exact (the measure-before-ship row) ----
    "q_hll_estimate" -> ((s, d) => {
      val src = hllSource(s, d)
      val est = Sketches.hllEstimate(
        Sketches.hllBuild(src, "cust", "grp"), "grp")
      val exact = src.groupBy("grp")
        .agg(countDistinct(col("cust")).as("exact_distinct"))
      est.join(exact, "grp")
        .select(col("grp"), col("n_buckets_seen"), col("est_distinct"),
          col("exact_distinct"),
          expr("abs(est_distinct - exact_distinct) * 10000 div exact_distinct")
            .as("err_bp"))
        .orderBy("grp")
    }),

    // ---- attribution: Markov removal-effect shares (data-driven
    // multi-touch, exact integer value iteration) ----
    "q_markov_attrib" -> ((s, d) => {
      Sequences.removalEffectAttribution(t(s, d, "events"), "user_id",
          Seq("ts", "event_id"), "event_type", "purchase", markovChannels)
        .orderBy("channel")
    }),

    // ---- eval: split-conformal upper bound with its own coverage row ----
    "q_conformal" -> ((s, d) => {
      RelationalOps.conformalUpperBound(t(s, d, "orders"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long"))
    }),

    // ---- features: leave-one-out target encoding (leakage-safe) ----
    "q_target_encode" -> ((s, d) => {
      RelationalOps.targetEncode(t(s, d, "documents"), col("doc_id"),
          col("source"), col("lang") === "en")
        .orderBy("id")
    }),

    // ---- dedup: duplicate-survivor loss weights (keep copies, split
    // their gradient mass) ----
    "q_dup_weights" -> ((s, d) => {
      Dedup.duplicateWeights(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc")
    }),

    // ---- training: k-fold cross-validation of the stump (per-fold
    // train-vs-held-out accuracy -- the overfit readout) ----
    "q_cv_stump" -> ((s, d) => {
      val feats = t(s, d, "documents").select(
        col("doc_id"), col("n_chars"),
        TextFunctions.tokenCount(col("text")).as("n_words"),
        (col("lang") === "en").as("is_en"))
      Curation.crossValidateStump(feats, "doc_id",
          Seq("n_chars", "n_words"), "is_en", folds = 5)
        .orderBy("fold")
    }),

    // ---- sequences: batch gap-sessionization (30-min inactivity) ----
    "q_sessionize" -> ((s, d) => {
      Sequences.sessionize(t(s, d, "events"), "user_id", "ts",
          Seq("ts", "event_id"), gapMillis = 1800000L)
        .orderBy("user_id", "session_idx")
    }),

    // ---- timeseries: Kaplan-Meier survival of session durations
    // (sessions still open at the corpus horizon are right-censored) ----
    "q_kaplan_meier" -> ((s, d) => {
      val sess = Sequences.sessionize(t(s, d, "events"), "user_id", "ts",
        Seq("ts", "event_id"), gapMillis = 1800000L)
      val mx = sess.agg(max("end_ts").as("__m"))
      val subj = sess.crossJoin(broadcast(mx))
        .select(expr("duration_ms div 60000").as("t"),
          (col("end_ts") < col("__m") - expr("INTERVAL 30 MINUTES")).as("e"))
      Timeseries.kaplanMeier(subj, col("t"), col("e")).orderBy("t")
    }),

    // ---- eval: calibration panel / reliability diagram over the
    // stopword-ratio "English probability" score ----
    "q_ece" -> ((s, d) => {
      val nWords = TextFunctions.tokenCount(col("text"))
      val nStop = TextFunctions.stopwordCount(col("text")).cast("long")
      val scored = t(s, d, "documents")
        .select((lit(10000L) * nStop).as("__num"),
          greatest(nWords, lit(1L)).as("__den"),
          (col("lang") === "en").as("is_en"))
        .select(expr("__num div __den").as("score_bp"), col("is_en"))
      RelationalOps.calibrationPanel(scored, col("score_bp"), col("is_en"))
        .orderBy("bin")
    }),

    // ---- eval: Brier decomposition of the q_ece score — same bp-score
    // input, one row of (brier, reliability, resolution, uncertainty):
    // the panel says WHERE the bins sit, this says what the loss is ----
    "q_brier" -> ((s, d) => {
      val nWords = TextFunctions.tokenCount(col("text"))
      val nStop = TextFunctions.stopwordCount(col("text")).cast("long")
      val scored = t(s, d, "documents")
        .select((lit(10000L) * nStop).as("__num"),
          greatest(nWords, lit(1L)).as("__den"),
          (col("lang") === "en").as("is_en"))
        .select(expr("__num div __den").as("score_bp"), col("is_en"))
      Stats.brierDecomposition(scored, col("score_bp"), col("is_en"),
        bins = 10)
    }),

    // ---- survival: log-rank test between the even/odd user cohorts on
    // the q_kaplan_meier session durations (same subjects relation; KM
    // draws the curves, this says whether their gap is noise) ----
    "q_logrank" -> ((s, d) => {
      val sess = Sequences.sessionize(t(s, d, "events"), "user_id", "ts",
        Seq("ts", "event_id"), gapMillis = 1800000L)
      val mx = sess.agg(max("end_ts").as("__m"))
      val subj = sess.crossJoin(broadcast(mx))
        .select(expr("duration_ms div 60000").as("t"),
          (col("end_ts") < col("__m") - expr("INTERVAL 30 MINUTES")).as("e"),
          (col("user_id") % 2 === 0).as("g"))
      Stats.logRank(subj, col("t"), col("e"), col("g"))
    }),

    // ---- experimentation: power / sample-size row (exact variance) ----
    "q_power" -> ((s, d) => {
      RelationalOps.powerSampleSize(t(s, d, "orders"),
        round(col("o_totalprice") * 100).cast("long"), mdeCents = 25000L)
    }),

    // ---- experimentation: post-stratified mean vs the naive readout ----
    "q_post_strat" -> ((s, d) => {
      val docs = t(s, d, "documents")
      RelationalOps.postStratifiedMean(docs, col("source"), col("n_chars"),
        docs.filter(col("lang") === "en"), col("source"))
    }),

    // ---- sketch: shard-built HLL sketches merged == the whole-corpus
    // sketch — the mergeable-state contract proven through the hash gate
    // (the oracle computes the single-pass form; the engine merges two
    // parity shards and must land on identical registers/estimates) ----
    "q_hll_merged" -> ((s, d) => {
      val src = hllSource(s, d)
      val shards = Sketches
        .hllBuild(src.filter(expr("CAST(cust AS BIGINT) % 2 = 0")),
          "cust", "grp")
        .unionByName(Sketches
          .hllBuild(src.filter(expr("CAST(cust AS BIGINT) % 2 = 1")),
            "cust", "grp"))
      Sketches.hllEstimate(Sketches.hllMerge(shards, "grp"), "grp")
        .orderBy("grp")
    })
  )

  /** Blocked-candidate pairs of the ER fixture classified by the FS-EM
    * model fitted on the same sides: each pair's agreement pattern joins
    * the fit's posterior ≥ ½ patterns (8 rows, broadcast) — q_fs_matches
    * on the full sides, q_fs_matches_scaled on the block-capped ones. */
  private def fsMatches(a: DataFrame, b: DataFrame): DataFrame = {
    val cands = Linkage.blockedCandidates(a, b, "rec_id",
      Seq("nat", "postcode"), Seq("name", "seg", "band"))
    def bit(c: Column) = when(c, lit("1")).otherwise(lit("0"))
    val withPat = cands.select(col("id_a"), col("id_b"),
      concat(bit(col("a_name") <=> col("b_name")),
        bit(col("a_seg") <=> col("b_seg")),
        bit(col("a_band") <=> col("b_band"))).as("pattern"))
    withPat.join(
        broadcast(fsEmFitOn(a, b).patterns.filter(col("is_match"))
          .select(col("pattern"), col("posterior_nano"))),
        "pattern")
      .select(col("id_a"), col("id_b"), col("posterior_nano"))
  }

  /** Jaro-Winkler ≥ 0.9 pairs within a p_brand block of `part` — the
    * scorer of q_jaro_pairs (all parts) and q_jaro_scaled (capped
    * blocks). */
  private def jaroPairs(part: DataFrame): DataFrame = {
    val cands = Linkage.blockedCandidates(part, part, "p_partkey",
        Seq("p_brand"), Seq("p_name"))
      .filter(col("id_a") < col("id_b"))
      .filter(Linkage.jaroBound(col("a_p_name"), col("b_p_name"),
        minJwBp = 9000L))
    Linkage.fuzzyScorePairs(cands, Seq(("p_name", 1L)))
      .filter(col("score") >= 9000L)
      .select(col("id_a"), col("id_b"), col("score").as("jw_bp"))
  }
}
