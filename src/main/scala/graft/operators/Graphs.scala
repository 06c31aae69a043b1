package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge relations — the companion of the
  * pointer-doubling connected-components kernel in [[Dedup]] (which
  * handles the undirected clustering side). Everything here follows the
  * same loop discipline: a FIXED number of rounds chosen by the caller,
  * per-round localCheckpoint to truncate lineage, and per-round work that
  * is plain joins/aggregations on the edge relation — no driver-side row
  * data ever.
  */
object Graphs {

  /** Per-round checkpoint with ORIGIN STATISTICS DROPPED — every loop in
    * this object must use this, never bare localCheckpoint: the bare form
    * copies the round plan's size estimate into the truncated leaf, and
    * estimates COMPOUND across rounds (squaring wherever a round derives
    * a relation from itself — k-core's alive sets, CC's pointer doubling)
    * until plan statistics BigIntegers dominate wall time and finally
    * overflow. See [[org.apache.spark.sql.graft.ColumnBridge.flatCheckpoint]].
    */
  private def flatCk(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.ColumnBridge.flatCheckpoint(df)

  /** Weighted PageRank with fixed iteration count, in EXACT integer
    * micro-rank units (1e6 = rank 1.0) so every engine — and every
    * partitioning — produces bit-identical ranks: per-edge contributions
    * are floored integer shares `(r·w) div Σw_out`, and the damping mix
    * `(100−d)/100 + d·Σc/100` is integer arithmetic throughout (the
    * floored-share convention the funnel/skew panels already use; the
    * deliberate sub-ulp floor losses leak rank mass exactly like the
    * standard dangling-node leak this formulation keeps — documents, not
    * redistributes). Ranks emerge as micro-units / 1e6 (one exact power-
    * of-ten division). Overflow headroom: r·w rides decimal(38,0) —
    * micro-ranks (~1e6·n/|V| hubs) times big edge weights overflow a LONG
    * exactly on the hub edges that matter at web scale, the silent-wrap
    * class the skew report's DECIMAL numerator documents.
    *
    * Scale shape per iteration: ONE shuffle keyed on the edge source (the
    * rank join), one on the destination (the contribution agg), one
    * nodes-sized left join — the edge relation is scanned, never
    * self-joined, and rank/degree relations are nodes-sized. The
    * localCheckpoint per round bounds plan growth exactly like the CC
    * loop; `iters` is the plan depth, chosen by the caller (PageRank on a
    * web graph converges in tens of rounds; quality-signal uses run 3–5).
    * Returns (node, rank) with rank 1.0 = the pre-damping uniform mass. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int,
               dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct: $dampingPct")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).cast("string").as("s"),
        col(dstCol).cast("string").as("t"),
        col(weightCol).cast("long").as("w"))
      .persist(lvl) // scanned twice per iteration (contribs + outw build)
    val nodes = e.select(col("s").as("node"))
      .union(e.select(col("t").as("node"))).distinct().persist(lvl)
    val outw = e.groupBy(col("s")).agg(sum("w").as("wout")).persist(lvl)
    val base = lit(1000000L * (100 - dampingPct) / 100)
    var r = nodes.select(col("node"), lit(1000000L).as("r"))
    for (_ <- 0 until iters) {
      val contribs = e
        .join(r.select(col("node").as("s"), col("r")), "s")
        .join(outw, "s")
        .select(col("t").as("node"),
          expr("CAST(r AS DECIMAL(38,0)) * w div wout").cast("long").as("c"))
        .groupBy("node").agg(sum("c").as("c"))
      r = flatCk(nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (base + expr(s"($dampingPct * coalesce(c, CAST(0 AS BIGINT))) div 100"))
            .as("r")))
    }
    // Deliberately NO unpersist here (r9 measured the alternative): the
    // caches are registered by canonicalized plan, so a repeated call
    // over the same edges relation (bench reps, a refit pass) reuses
    // them — eager unpersist doubled the wall cost of exactly those
    // reuse patterns. The cost: the session's CacheManager holds the
    // blocks until the caller unpersists them or clears the cache (it is
    // not reclaimed when the plans are dereferenced). The r7 lazy-persist
    // convention stands.
    r.select(col("node"), (col("r") / 1e6).as("rank"))
  }

  /** Weighted HITS (hubs & authorities) with fixed iteration count, in
    * EXACT integer micro-units: authority(v) = Σ hub(u)·w over in-edges,
    * hub(u) = Σ authority(v)·w over out-edges, each half-step
    * mean-normalized back to 1e6 by the floored integer division
    * `(raw · |V| · 1e6) div Σraw` — so, like [[pageRank]], every engine
    * and every partitioning produces bit-identical scores (floating-point
    * HITS normalizes by an L2 norm whose square root no two engines round
    * identically; mean normalization is division-exact and serves the
    * same purpose of stopping the power iteration from overflowing).
    * Products ride DECIMAL(38,0): micro-units (~1e6·|V| after a skewed
    * normalize) times web-scale edge weights overflow a LONG exactly on
    * the hub edges that matter.
    *
    * Scale shape per iteration: one shuffle keyed on the edge source (hub
    * mass out), one on the destination (authority agg), each followed by
    * a 1-row total that attaches by broadcast and a nodes-sized left join
    * — the edge relation is scanned twice, never self-joined. Per-round
    * localCheckpoint bounds plan depth, the loop discipline shared with
    * pageRank/CC. Returns (node, auth, hub) for every node; 1.0 = the
    * uniform mean mass. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           weightCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).cast("string").as("s"),
        col(dstCol).cast("string").as("t"),
        col(weightCol).cast("long").as("w"))
      .persist(lvl) // scanned twice per iteration
    val nodes = e.select(col("s").as("node"))
      .union(e.select(col("t").as("node"))).distinct().persist(lvl)
    // Mean-normalize a raw mass relation back to the 1e6 grid: absent
    // nodes (no in-/out-edges on this side) carry 0, and the total is a
    // 1-row broadcast. Exact: one integer multiply + one floored div.
    def norm(raw: DataFrame, outCol: String): DataFrame = {
      val tot = raw.agg(sum("raw").as("__tot"))
      val cnt = nodes.agg(count(lit(1)).as("__nv"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(cnt))
        .select(col("node"),
          coalesce(
            expr("CAST(coalesce(raw, CAST(0 AS DECIMAL(38,0))) * __nv * 1000000 AS DECIMAL(38,0)) div __tot"),
            lit(0L)).as(outCol))
    }
    var h = nodes.select(col("node"), lit(1000000L).as("h"))
    var a = nodes.select(col("node"), lit(0L).as("a"))
    for (_ <- 0 until iters) {
      val rawA = e.join(h.select(col("node").as("s"), col("h")), "s")
        .select(col("t").as("node"),
          expr("CAST(h AS DECIMAL(38,0)) * w").as("c"))
        .groupBy("node").agg(sum("c").as("raw"))
      a = flatCk(norm(rawA, "a"))
      val rawH = e.join(a.select(col("node").as("t"), col("a")), "t")
        .select(col("s").as("node"),
          expr("CAST(a AS DECIMAL(38,0)) * w").as("c"))
        .groupBy("node").agg(sum("c").as("raw"))
      h = flatCk(norm(rawH, "h"))
    }
    // no unpersist — see pageRank's cache-lifecycle note
    a.join(h, "node")
      .select(col("node"), (col("a") / 1e6).as("auth"), (col("h") / 1e6).as("hub"))
  }

  /** k-core membership by FIXED-ROUND peeling: each round removes every
    * node whose degree in the SURVIVING subgraph is < k, simultaneously
    * (the parallel peel — order-free, hence engine- and partitioning-
    * deterministic, unlike the sequential min-degree peel). With `rounds`
    * chosen past convergence the survivors are exactly the k-core (peel
    * count needed is the graph's degeneracy depth — small for real
    * graphs; the caller can verify convergence by comparing `rounds` and
    * `rounds+1` outputs, the fixed-iteration contract PageRank/HITS also
    * use). Returns (node, degree) for surviving nodes with their
    * final in-core degree.
    *
    * Scale shape per round: one degree aggregate (nodes-sized) + two
    * semi-joins of the edge relation against the alive set — the edge
    * relation shrinks monotonically and is never self-joined;
    * localCheckpoint truncates per-round lineage (the CC/PageRank loop
    * discipline). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 50,
      s"bad params: k=$k rounds=$rounds")
    var e = edges.select(col(srcCol).cast("string").as("x"),
        col(dstCol).cast("string").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      // ckpt: one-shot — edges built once pre-loop; rounds go through flatCk
      .distinct().localCheckpoint()
    for (_ <- 0 until rounds) {
      val alive = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("node")
      e = flatCk(e.join(alive.select(col("node").as("u")), "u")
        .join(alive.select(col("node").as("v")), "v")
        .select("u", "v"))
    }
    e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
  }

  /** Per-node triangle count + local clustering coefficient over an
    * UNDIRECTED simple graph (direction, multiplicity and self-loops in
    * the input edge relation are erased first). Uses the degree-ordered
    * orientation: every edge points from its (degree, node)-smaller
    * endpoint to the larger, so each triangle is enumerated EXACTLY once
    * as a wedge at its smallest-rank apex closed by one oriented edge —
    * and, the scale property this formulation exists for, oriented
    * out-degree is O(√m) on ANY graph, which bounds the wedge relation at
    * O(m^1.5) where the naive neighbor self-join explodes quadratically on
    * hub nodes (the standard external-memory triangle bound). The
    * clustering coefficient is floored basis points
    * `(10000·2·T) div (d·(d−1))` — the repo-wide integer-ratio convention.
    *
    * Scale shape: dedup agg on the canonical edge, a nodes-sized degree
    * agg (broadcast back over the edge relation — nodes ≪ edges on any
    * real graph), the wedge self-join keyed on the apex, and one
    * hash-join of wedges against oriented edges keyed on (b, c). No
    * driver-side data; every relation is edges- or wedges-bounded.
    * Returns (node, degree, n_tri, clustering) for every node of the
    * graph, isolated endpoints included (n_tri = 0, clustering = 0). */
  def triangleStats(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    // The canonical edge set is the kernel's WHOLE input — localCheckpoint
    // it (and the oriented copy, scanned three times: two wedge sides +
    // the closing join) so the upstream derivation (often a multi-way
    // fact join far bigger than the edge relation) runs exactly once
    // instead of once per reuse, and downstream plans stay edge-sized —
    // the same lineage-truncation discipline as the CC/PageRank loops.
    val raw = edges.select(col(srcCol).cast("string").as("x"),
        col(dstCol).cast("string").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      // ckpt: one-shot — deduped edges built once; wedge join reads it twice
      .distinct().localCheckpoint()
    val deg = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Orient by (deg, node) rank; carry the dst endpoint's rank so the
    // wedge join can keep each out-neighbor PAIR once without re-joining
    // degrees. broadcast(): the degree relation is nodes-sized.
    val o = raw
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("du"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dv"))), "v")
      .select(
        struct(col("du").as("d"), col("u").as("n")).as("uk"),
        struct(col("dv").as("d"), col("v").as("n")).as("vk"))
      .select(
        when(col("uk") < col("vk"), col("uk.n")).otherwise(col("vk.n")).as("a"),
        when(col("uk") < col("vk"), col("vk")).otherwise(col("uk")).as("bk"))
      .select(col("a"), col("bk.n").as("b"), col("bk").as("bk"))
      // ckpt: one-shot — oriented edges built once; wedge join reads it twice
      .localCheckpoint()
    val wedges = o.select(col("a"), col("b").as("wb"), col("bk").as("wbk"))
      .join(o.select(col("a"), col("b").as("wc"), col("bk").as("wck")), "a")
      .filter(col("wbk") < col("wck"))
      .select(col("a"), col("wb"), col("wc"))
    val tris = wedges.join(
      o.select(col("a").as("wb"), col("b").as("wc")), Seq("wb", "wc"))
    val perNode = tris
      .select(explode(array(col("a"), col("wb"), col("wc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        (when(col("deg") >= 2,
          expr("(10000 * 2 * coalesce(n_tri, CAST(0 AS BIGINT))) div (deg * (deg - 1))"))
          .otherwise(lit(0L)) / lit(10000.0) + lit(0.0)).as("clustering"))
  }

  /** Link prediction over an undirected simple graph: for every NON-edge
    * pair with at least one common neighbor, the common-neighbor count and
    * the resource-allocation index Σ_z 1/deg(z) in exact floored micro
    * units (RA chosen over Adamic–Adar because 1e6 div deg is integer-
    * exact — no transcendental drift across engines; Zhou et al. 2009
    * report it no worse empirically). Output (u, v, n_common, ra_micro),
    * u < v.
    *
    * Scale shape: the wedge join is Σ deg(z)² work — `maxDegree` cuts hub
    * wedge centers exactly as [[Dedup]] df-cuts hot shingles (a z linked
    * to everything predicts nothing anyway: its RA term is ~0). The edge
    * relation is persisted once (wedge side ×2 + the existing-edge anti
    * join); everything else is candidate-bounded. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     maxDegree: Long = Long.MaxValue): DataFrame = {
    val raw = edges.select(col(srcCol).cast("string").as("x"),
        col(dstCol).cast("string").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
      // the RETURNED plan still reads this cache (wedge side ×2 + the
      // anti join) — caller-owned lifecycle; the session's CacheManager
      // holds it until unpersist/clearCache
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = raw.select(col("u").as("z"), col("v").as("n"))
      .union(raw.select(col("v").as("z"), col("u").as("n")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("degz"))
    // nodes-sized relation: broadcast, as in triangleStats
    val adjd = adj.join(broadcast(deg), "z").filter(col("degz") <= maxDegree)
    val cand = adjd.select(col("z"), col("n").as("cu"), col("degz"))
      .join(adjd.select(col("z"), col("n").as("cv")), "z")
      .filter(col("cu") < col("cv"))
      .groupBy(col("cu").as("u"), col("cv").as("v"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 div degz")).as("ra_micro"))
    cand.join(raw, Seq("u", "v"), "left_anti")
  }

  /** Synchronous weighted label propagation with a FIXED round count —
    * community detection without an objective function: every node starts
    * as its own community, and each round every node adopts the label
    * with the largest neighbor weight-sum, ties toward the SMALLEST
    * label. Synchronous update + deterministic tie-break makes the whole
    * trajectory a pure function of the edge relation — the same
    * engine/partitioning determinism contract as [[pageRank]]/[[kCore]]
    * (asynchronous LP, the textbook default, is order-dependent and
    * unreproducible by design — useless under a hash gate). Fixed rounds
    * are the semantics, not an approximation: like kCore, callers pick
    * rounds ≥ observed convergence; on bipartite-ish regions synchronous
    * LP can 2-cycle, which a fixed round count surfaces reproducibly
    * instead of hanging a convergence loop.
    *
    * Nodes with no neighbors (possible only if present as an endpoint of
    * a filtered-out edge relation the caller unioned in) keep their own
    * label via the coalesce.
    *
    * Scale shape per round: one shuffle keyed on the vote destination
    * (edges-grain), one (node, label)-grain count agg, one per-node
    * window cut whose partitions are ≤ distinct-neighbor-label sized,
    * and a nodes-sized left join; the edge relation is scanned once per
    * round and never self-joined. localCheckpoint per round truncates
    * lineage — the shared loop discipline. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds out of range: $rounds")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = edges.select(col(srcCol).cast("string").as("s"),
        col(dstCol).cast("string").as("t"),
        col(weightCol).cast("long").as("w"))
      .unionByName(edges.select(col(dstCol).cast("string").as("s"),
        col(srcCol).cast("string").as("t"),
        col(weightCol).cast("long").as("w")))
      .persist(lvl)
    val nodes = sym.select(col("s").as("node")).distinct().persist(lvl)
    var labels = nodes.select(col("node"), col("node").as("label"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("node")
      .orderBy(col("v").desc, col("label").asc)
    for (_ <- 0 until rounds) {
      val votes = sym
        .join(labels.select(col("node").as("s"), col("label")), "s")
        .groupBy(col("t").as("node"), col("label"))
        .agg(sum("w").as("v"))
      val best = votes.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).select(col("node"), col("label"))
      labels = flatCk(nodes.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label")))
    }
    // no unpersist — see pageRank's cache-lifecycle note
    labels.select(col("node"), col("label").as("community"))
  }

  /** Newman MODULARITY panel for a community assignment — the "did the
    * clustering find real structure?" score (Q ≈ 0: no better than
    * random wiring given the degrees; Q ≳ 0.3: genuine communities);
    * the quality gate to run over [[labelPropagation]]'s output before
    * anyone ships its communities. Per community: member count,
    * intra-community edge weight `w_in`, member degree mass `deg_sum`,
    * and the floored-bp contribution
    * `(10000·(4m·w_in − deg_sum²)) div (4m²)` — the exact-integer form
    * of `w_in/m − (deg_sum/2m)²` with ONE truncated division
    * (DECIMAL(38,0) products: deg_sum² at web scale wraps a LONG on the
    * giant community that matters). `w_in`/`deg_sum` ship exact so a
    * caller wanting the total Q sums THEM and divides once, instead of
    * accumulating per-community floor error.
    *
    * Scale shape: one edges-grain join attaching each endpoint's label
    * (labels relation is nodes-sized), one community-grain agg for each
    * of w_in / deg_sum / membership, a 1-row total broadcast. The edge
    * relation never self-joins. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 weightCol: String, labels: DataFrame, nodeCol: String,
                 communityCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val e = edges.select(col(srcCol).cast("string").as("u"),
      col(dstCol).cast("string").as("v"),
      col(weightCol).cast("long").as("w"))
    val lab = labels.select(col(nodeCol).cast("string").as("node"),
      col(communityCol).cast("string").as("community"))
    val labeled = e
      .join(lab.select(col("node").as("u"), col("community").as("cu")), "u")
      .join(lab.select(col("node").as("v"), col("community").as("cv")), "v")
      // returned plan scans this 3× (m, w_in, deg) — caller-owned cache
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = labeled.agg(sum("w").as("__m"))
    val wIn = labeled.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(sum("w").as("w_in"))
    val deg = labeled.select(col("cu").as("community"), col("w"))
      .unionByName(labeled.select(col("cv").as("community"), col("w")))
      .groupBy("community").agg(sum("w").as("deg_sum"))
    val members = lab.groupBy("community")
      .agg(count(lit(1)).as("n_members"))
    members
      .join(deg, Seq("community"), "left")
      .join(wIn, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_members"),
        coalesce(col("w_in"), lit(0L)).as("w_in"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
        expr(s"CAST((10000 * (4 * CAST(__m AS $d38) * coalesce(w_in, 0)" +
          s" - CAST(coalesce(deg_sum, 0) AS $d38)" +
          s" * coalesce(deg_sum, 0)))" +
          s" div (4 * CAST(__m AS $d38) * __m) AS BIGINT)").as("contrib_bp"))
  }

  /** Item co-occurrence with lift — the bipartite (basket, item) relation
    * projected onto an item-item association graph: for every unordered
    * item pair sharing a basket, the basket count `n_both` and the lift
    * `(10000·n_both·N) div (n_a·n_b)` in floored basis points (>10000 =
    * the pair co-occurs more than independent popularity predicts — the
    * association-rule signal; exact integer cross-multiplication, never a
    * float probability). Pairs below `minCount` baskets are cut AFTER
    * counting (anti-noise), baskets holding more than `maxBasketSize`
    * distinct items are DROPPED BEFORE pairing — the hot-basket guard:
    * pair fan-out is quadratic in basket size, and one crawler "basket"
    * with 1e5 items would emit 5e9 pairs from a single task. The drop
    * (not truncate) keeps semantics engine-portable — a deterministic
    * size predicate, not an order-dependent prefix. N = baskets surviving
    * the cap, the universe the lift is defined over.
    *
    * Scale shape: distinct (basket, item) + per-basket size = two
    * basket-keyed aggs; the pairing is a basket-keyed self-join whose
    * per-basket fan-out is capped at maxBasketSize²/2; item supports are
    * an items-sized agg that attaches by broadcast; the 1-row N attaches
    * by broadcast. Nothing after the pairing exceeds the pair relation. */
  def coOccurrence(baskets: DataFrame, basketCol: String, itemCol: String,
                   maxBasketSize: Int = 100, minCount: Long = 2): DataFrame = {
    require(maxBasketSize >= 2, s"maxBasketSize: $maxBasketSize")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bi = baskets.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct()
    // size gate as an unordered window over the basket key — one exchange
    // that the pairing self-join then REUSES, instead of a separate
    // size agg + join-back (which cost an extra shuffle of the relation)
    val kept = bi
      .withColumn("__sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bk")))
      .filter(col("__sz") <= maxBasketSize)
      .drop("__sz")
      // returned plan reads this from N + support + both pairing sides —
      // caller-owned cache
      .persist(lvl)
    val nB = kept.select(countDistinct(col("bk")).as("__nb"))
    val support = kept.groupBy(col("it")).agg(count(lit(1)).as("__sup"))
    val pairs = kept.select(col("bk"), col("it").as("item_a"))
      .join(kept.select(col("bk"), col("it").as("item_b")), "bk")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minCount)
    pairs
      .join(broadcast(support.select(col("it").as("item_a"),
        col("__sup").as("__sa"))), "item_a")
      .join(broadcast(support.select(col("it").as("item_b"),
        col("__sup").as("__sb"))), "item_b")
      .crossJoin(broadcast(nB))
      .select(col("item_a"), col("item_b"), col("n_both"),
        // decimal-first: 1e4·n_both·N at web scale (~1e10 baskets)
        // overflows a LONG product exactly on the popular pairs
        expr("(10000 * CAST(n_both AS DECIMAL(38,0)) * __nb)" +
          " div (CAST(__sa AS DECIMAL(38,0)) * __sb)")
          .cast("long").as("lift_bp"))
  }

  /** Degree assortativity (Newman 2002) — the Pearson correlation of
    * endpoint degrees over the edge list: positive = hubs link to hubs
    * (social nets), negative = hubs link to leaves (the hub-and-spoke
    * shape recommendation graphs degrade into when one bestseller
    * co-occurs with everything). Pearson is shift-invariant, so plain
    * degrees equal Newman's remaining-degree form exactly. Each
    * undirected edge contributes both orientations (the standard
    * computation), making Σj = Σk and Σj² = Σk² structurally — three
    * exact decimal(38,0) sums, one double expression:
    * r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²). Returns one row
    * (n_edges, r). Null on degree-regular graphs (zero variance).
    *
    * Scale shape: canonical-edge distinct, a nodes-grain degree agg
    * attached by broadcast, ONE edges-grain aggregate — no self-join. */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val raw = edges.select(col(srcCol).cast("string").as("x"),
        col(dstCol).cast("string").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
      // scanned by the degree agg and both orientations — caller-owned
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dir = raw.select(col("u"), col("v"))
      .unionByName(raw.select(col("v").as("u"), col("u").as("v")))
    dir
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("__j"))),
        "u")
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("__k"))),
        "v")
      .agg(count(lit(1)).as("__m"),
        sum((col("__j").cast(d38) * col("__k")).cast(d38)).as("__s1"),
        sum(col("__j").cast(d38)).as("__se"),
        sum((col("__j").cast(d38) * col("__j")).cast(d38)).as("__ss"))
      .select(expr("__m div 2").as("n_edges"),
        when(expr("__m * __ss - __se * __se = 0"), lit(null).cast("double"))
          .otherwise(round(
            expr("CAST(__m * __s1 - __se * __se AS DOUBLE)") /
            expr("CAST(__m * __ss - __se * __se AS DOUBLE)"), 4) + lit(0.0))
          .as("assortativity"))
  }

  /** Item-item collaborative filtering — top-k neighbors per item by
    * co-occurrence COSINE n_co/√(sup_a·sup_b) (Sarwar et al. 2001), the
    * recommendation readout over the same basket relation [[coOccurrence]]
    * mines for lift: lift finds surprising pairs, cosine ranks SIMILAR
    * items for "users also bought". Ranking happens on the truncated
    * integer cos² in parts-per-trillion (`div`, engine-identical — a
    * double cosine's ulps must never decide a rank), ties broken by
    * neighbor id; the reported cosine is one √ at the end.
    *
    * Scale shape: [[coOccurrence]]'s shape — basket-size gate caps the
    * pairing self-join fan-out at maxBasketSize² per basket, supports
    * attach by broadcast, and the top-k window partitions by item (never a
    * global sort). The union doubling pairs to both directions stays at
    * pair grain. */
  def itemItemCf(baskets: DataFrame, basketCol: String, itemCol: String,
                 maxBasketSize: Int = 100, minCount: Long = 2,
                 k: Int = 5): DataFrame = {
    require(maxBasketSize >= 2 && minCount >= 1 && k >= 1,
      s"maxBasketSize=$maxBasketSize minCount=$minCount k=$k")
    val w = org.apache.spark.sql.expressions.Window
    val bi = baskets.select(col(basketCol).as("bk"),
      col(itemCol).cast("long").as("it")).distinct()
    val kept = bi
      .withColumn("__sz", count(lit(1)).over(w.partitionBy("bk")))
      .filter(col("__sz") <= maxBasketSize)
      .drop("__sz")
      // returned plan reads this from support + both pairing sides —
      // caller-owned cache
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val support = kept.groupBy(col("it")).agg(count(lit(1)).as("__sup"))
    val pairs = kept.select(col("bk"), col("it").as("item_a"))
      .join(kept.select(col("bk"), col("it").as("item_b")), "bk")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCount)
    val both = pairs.unionByName(pairs.select(col("item_b").as("item_a"),
      col("item_a").as("item_b"), col("n_co")))
    val scored = both
      .join(broadcast(support.select(col("it").as("item_a"),
        col("__sup").as("__sa"))), "item_a")
      .join(broadcast(support.select(col("it").as("item_b"),
        col("__sup").as("__sb"))), "item_b")
      // decimal-first: 1e12·n_co² overflows a LONG exactly on the popular
      // pairs that head every neighbor list
      .withColumn("__cos2",
        expr("(1000000000000 * CAST(n_co AS DECIMAL(38,0)) * n_co)" +
          " div (CAST(__sa AS DECIMAL(38,0)) * __sb)"))
    scored
      .withColumn("rank", row_number().over(w.partitionBy("item_a")
        .orderBy(col("__cos2").desc, col("item_b").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("item_a").as("item"), col("rank"),
        col("item_b").as("neighbor"), col("n_co"),
        round(sqrt(col("__cos2").cast("double") / 1e12), 4).as("cosine"))
  }

  /** Multi-source BFS hop distance with a FIXED round count: every node
    * reachable from the seed set within `rounds` hops gets its exact
    * minimum hop count; nodes further away are absent (the fixed-horizon
    * contract — callers wanting full reachability pick rounds ≥ graph
    * diameter, and can verify convergence by comparing `rounds` and
    * `rounds+1` outputs, the PageRank/k-core convention). Seeds not
    * touching any edge still emit at hop 0 — a seed is reachable from
    * itself by definition. Hop relaxation is a min-aggregate, so the
    * result is order- and partitioning-invariant (no float anywhere).
    *
    * Scale shape per round: ONE shuffle keyed on the edge source (the
    * frontier join) + one min-agg keyed on the node — the edge relation
    * is scanned once per round and never self-joined; the distance
    * relation stays nodes-sized because min() collapses duplicates each
    * round. localCheckpoint truncates per-round lineage (the shared loop
    * discipline). `directed=false` doubles the edge relation once up
    * front instead of per-round union gymnastics. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, rounds: Int,
              directed: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds out of range: $rounds")
    val fwd = edges.select(col(srcCol).cast("string").as("s"),
      col(dstCol).cast("string").as("t"))
    val e = (if (directed) fwd
             else fwd.union(edges.select(col(dstCol).cast("string").as("s"),
               col(srcCol).cast("string").as("t"))))
      .filter(col("s") =!= col("t")).distinct()
      // scanned once per round — caller-owned cache (pageRank note)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var d = seeds.select(col(seedCol).cast("string").as("node")).distinct()
      .select(col("node"), lit(0L).as("hops"))
    for (i <- 0 until rounds) {
      // truncate the PREVIOUS round on entry (not the current one on
      // exit): same bounded lineage, one fewer materialization, and the
      // returned plan still shows the per-round join+min-agg shape —
      // which is what the plan pin audits
      if (i > 0) d = flatCk(d)
      val relax = e
        .join(d.select(col("node").as("s"), col("hops")), "s")
        .select(col("t").as("node"), (col("hops") + 1L).as("hops"))
      d = d.union(relax).groupBy("node").agg(min("hops").as("hops"))
    }
    d
  }

  /** Apriori FREQUENT TRIPLES — the 3-itemset tier above [[coOccurrence]]
    * 's pair tier, with the classic candidate-pruning structure kept
    * intact because it IS the scale story: candidate triples are
    * generated only from frequent PAIRS joined on a shared low item
    * (a,b)+(a,c) → (a,b,c), then closed under the apriori property by
    * requiring the third side (b,c) frequent too, and only the surviving
    * candidates are verified against baskets. Support counting never
    * enumerates the n·size³ raw triple stream — the dominant cost is the
    * pair tier everyone already pays. Same hot-basket drop (not
    * truncate) as the pair tier, same deterministic integer output.
    *
    * Returns (item_a < item_b < item_c, n_all) for triples in ≥ minCount
    * baskets. Scale shape: pair tier = coOccurrence's; candidate gen =
    * one join of the (bounded) frequent-pair relation with itself on the
    * low item + one semi-join closing (b,c); verification = two
    * basket-keyed joins that each attach a candidate side via the
    * frequent-pair filter before fan-out. */
  def frequentTriples(baskets: DataFrame, basketCol: String, itemCol: String,
                      maxBasketSize: Int = 100, minCount: Long = 2): DataFrame = {
    require(maxBasketSize >= 3, s"maxBasketSize: $maxBasketSize")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bi = baskets.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct()
    val kept = bi
      .withColumn("__sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bk")))
      .filter(col("__sz") <= maxBasketSize)
      .drop("__sz")
      .persist(lvl) // pair tier + triple verify both scan it
    val fpairs = kept.select(col("bk"), col("it").as("a"))
      .join(kept.select(col("bk"), col("it").as("b")), "bk")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .persist(lvl) // candidate gen joins it 3× (ab, ac, bc-closure)
    // (a,b)×(a,c) with b<c, apriori-closed by (b,c) frequent
    val cands = fpairs.select(col("a"), col("b"))
      .join(fpairs.select(col("a"), col("b").as("c")), "a")
      .filter(col("b") < col("c"))
      .join(fpairs.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"),
        "left_semi")
    // verify: baskets holding (a,b) joined to the same basket's c
    val abHits = kept.select(col("bk"), col("it").as("a"))
      .join(kept.select(col("bk"), col("it").as("b")), "bk")
      .filter(col("a") < col("b"))
      .join(fpairs.select("a", "b"), Seq("a", "b"), "left_semi")
    abHits
      .join(kept.select(col("bk"), col("it").as("c")), "bk")
      .filter(col("b") < col("c"))
      .join(cands, Seq("a", "b", "c"), "left_semi")
      .groupBy(col("a").as("item_a"), col("b").as("item_b"),
        col("c").as("item_c"))
      .agg(count(lit(1)).as("n_all"))
      .filter(col("n_all") >= minCount)
  }
}
