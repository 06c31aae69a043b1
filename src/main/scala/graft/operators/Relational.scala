package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's relational operator surface (SURVEY.md §2.3–§2.6)
  * re-expressed as batch-composable Spark ops. Streaming twins live in
  * graft.streaming; these batch forms are what the DuckDB oracle checks.
  *
  * Scale notes per op are inline; the common thread: declare, don't
  * hand-schedule — Catalyst pushes filters/projections to the parquet scan
  * and AQE picks shuffle vs broadcast at runtime.
  */
object RelationalOps {

  /** P1/P2/P9: filter + project (FilterExample.java:94-99, the SQL
    * projection lists). Both reach the scan as PushedFilters / ReadSchema
    * pruning — verified in spec via explain. */
  def filterProject(df: DataFrame, predicate: Column, projections: Seq[Column]): DataFrame =
    df.filter(predicate).select(projections: _*)

  /** S3: merge same-schema inputs (the 3-channel wikipedia merge,
    * WikipediaApplication.java:104-112); union is a zero-shuffle
    * concatenation of partitions. */
  def merge(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  /** J2/J4: enrich a fact stream with a dimension
    * (StreamTableJoinExample.java:126-146 snapshot form). Dimension side is
    * broadcast — at 100 TB the fact side never shuffles. */
  def enrich(facts: DataFrame, dim: DataFrame, joinCols: Seq[(String, String)]): DataFrame = {
    val cond = joinCols.map { case (f, d) => facts(f) === dim(d) }.reduce(_ && _)
    facts.join(broadcast(dim), cond, "inner")
  }

  /** J1 batch twin: time-bounded equi-join (left event joined to right
    * events of the same key within [left.ts, left.ts + window]). The equi
    * key carries the shuffle; the range predicate filters inside each key
    * group — same state-bounding idea as the streaming join's 3-minute TTL
    * (JoinExample.java:116-147). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, window: String,
                   joinType: String = "inner"): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $window"),
      joinType)
  }

  /** As-of join (backward, inclusive): for every left row, the LATEST right
    * row of the same key with rightTs <= leftTs — the point-in-time lookup
    * of feature stores and slowly-changing enrichment.
    *
    * Formulated as union-of-streams + one window pass, NOT as an
    * inequality join: a range theta-join materializes |L|×|R| per key
    * before filtering (quadratic on hot keys), while this is sort-by
    * (key, ts) and a running last_value(ignoreNulls) — one shuffle, linear
    * scan, whatever the key skew. Right rows sort BEFORE left rows at
    * equal timestamps, which is what makes the match inclusive.
    * `rightVals` must be unique per (key, rightTs) for determinism —
    * pre-aggregate the right side if needed. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, rightVals: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val payload = left.columns.filterNot(_ == key).toSeq
    // The right row travels as ONE nullable struct, not per-column: a
    // last(ignoreNulls) applied per value column would skip a right row
    // whose VALUE is legitimately null (returning a stale older value —
    // not as-of semantics) and could even stitch fields of different
    // right rows together. The struct is null exactly on left rows, so
    // last(struct, ignoreNulls) always picks the latest right ROW
    // atomically, null values and all.
    val rvType = StructType(rightVals.map(c => right.schema(c)))
    val lSel = Seq(col(key), col(leftTs).as("__ts"), lit(1).as("__side")) ++
      payload.map(col) :+
      lit(null).cast(rvType).as("__rv")
    val rSel = Seq(col(key), col(rightTs).as("__ts"), lit(0).as("__side")) ++
      payload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
      struct(rightVals.map(col): _*).as("__rv")
    val u = left.select(lSel: _*).unionByName(right.select(rSel: _*))
    val w = Window.partitionBy(key).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    rightVals.foldLeft(filled)((df, c) => df.withColumn(c, col("__rv").getField(c)))
      .drop("__ts", "__side", "__rv")
  }

  /** W1/W9 batch twin: tumbling event-time window aggregation
    * (TumblingWindowExample.java:106-118; samza-sql-groupby samza.sql:7-10). */
  def tumblingAgg(df: DataFrame, tsCol: String, duration: String,
                  extraKeys: Seq[String], aggs: Seq[Column]): DataFrame = {
    val keys = window(col(tsCol), duration).as("w") +: extraKeys.map(col)
    df.groupBy(keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("w.start"))
      .drop("w")
  }

  /** W6 batch twin: session windows (gap-based,
    * SessionWindowExample.java:104-117), via the native session_window
    * expression — merges happen inside the aggregate, one shuffle on (key). */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String,
                 keyCol: String, aggs: Seq[Column]): DataFrame =
    df.groupBy(session_window(col(tsCol), gap).as("sw"), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("sw.start"))
      .withColumn("session_end", col("sw.end"))
      .drop("sw")

  /** W5 batch twin (WikipediaApplication.java:166-181 count-edits-all-time):
    * running total per key, ordered by event time. One
    * shuffle on the key; each partition streams its frame — no whole-window
    * buffering for a running (unbounded-preceding) frame. */
  def runningTotal(df: DataFrame, keyCol: String, orderCols: Seq[String],
                   valueCol: String): Column = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sum(col(valueCol)).over(w)
  }

  /** Time-series gap fill with forward fill — the resample/pad step every
    * event-analytics consumer needs before charting or feature-izing a
    * metric: bucket events to `unit` granularity per key, generate the
    * FULL per-key bucket grid between that key's first and last bucket,
    * and carry the last observed value forward across empty buckets.
    * Returns (keys..., bucket, n_events, filled_value, is_gap).
    *
    * Numeric contract: per-bucket sums accumulate in integer cents
    * (order-invariant, engine-exact); the /100 happens once, AFTER the
    * forward fill, so a filled bucket reproduces its donor bucket's value
    * bit-for-bit.
    *
    * Scale shape: one map-side-combinable aggregate brings the data down
    * to (key, bucket) grain — the grid, the left join, and the window all
    * run at BUCKET cardinality (keys × time-range/unit), orders of
    * magnitude below event cardinality, so the window sort is over a tiny
    * relation and the event corpus itself never hits a window. The grid
    * explode is per key from a 1-row-per-key span aggregate. */
  def gapFill(df: DataFrame, tsCol: String, keyCols: Seq[String],
              valueCol: String, unit: String = "hour"): DataFrame = {
    val keys = keyCols.map(col)
    val centsCol = round(col(valueCol) * 100, 0).cast("long")
    // The bucket-grain aggregate feeds TWO branches (the span→grid side and
    // the join side); without a persist each branch re-scans the event
    // corpus. Lazy persist — materializes on first execution and stays in
    // the session's CacheManager until the caller unpersists or clears the
    // cache (Dedup's documented cache-lifecycle convention).
    val bucketed = df
      .groupBy(keys :+ date_trunc(unit, col(tsCol)).as("bucket"): _*)
      .agg(count(lit(1)).as("n_events"), sum(centsCol).as("__cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val span = bucketed.groupBy(keys: _*)
      .agg(min("bucket").as("__lo"), max("bucket").as("__hi"))
    val grid = span.select(
      keys :+ explode(sequence(col("__lo"), col("__hi"),
        expr(s"interval 1 $unit"))).as("bucket"): _*)
    val joined = grid.join(bucketed, keyCols :+ "bucket", "left")
    val w = Window.partitionBy(keys: _*).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.select(
      keys ++ Seq(
        col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(last(col("__cents"), ignoreNulls = true).over(w) / 100.0, 2)
          .as("filled_value"),
        col("n_events").isNull.as("is_gap")): _*)
  }

  /** Top-k by an aggregate with deterministic tie-break. Physically
    * TakeOrderedAndProject: per-partition heaps of size k, then a k-row
    * merge on the driver — no global sort. */
  def topK(df: DataFrame, orderBy: Seq[Column], k: Int): DataFrame =
    df.orderBy(orderBy: _*).limit(k)

  /** Top-k rows PER GROUP by an arbitrary score ("best 3 documents per
    * language", "k highest-value events per user") — the grouped sibling
    * of [[topK]], WITHOUT the window sort the textbook
    * `row_number() OVER (PARTITION BY ...) <= k` plan pays: the bounded
    * `TopKHits` aggregate is map-side combinable with ≤ k elements of
    * state per (task, group), so the shuffle carries tasks × groups × k
    * rows regardless of input size (the same kernel the batched ANN and
    * the fixed-size sampler ride). Ties break by the smaller id — pass a
    * score that is exactly tied when mathematically tied (raw stored
    * values or rounded computed ones), the same contract as the other
    * TopKHits callers. NaN scores are dropped by the aggregate's
    * partitioning-invariance contract. Returns (group, rank 1..k, id,
    * score) ordered best-first within each group. */
  def topKPerGroup(df: DataFrame, groupCol: String, idCol: String,
                   scoreCol: String, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKHits(k),
      graft.functions.TopKHits.hitEncoder)
    df.select(col(groupCol).as("grp"),
        col(scoreCol).cast("double").as("__score"),
        col(idCol).cast("long").as("__id"))
      .groupBy("grp")
      .agg(topk(col("__score"), col("__id")).as("hits"))
      .select(col("grp").as(groupCol), posexplode(col("hits")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), (col("col.score") + lit(0.0)).as("score"))
  }

  /** Reciprocal-rank fusion of two per-group rankings — the standard
    * hybrid-retrieval combiner (fuse the BM25 lexical list with the ANN
    * cosine list without comparable score scales; Cormack et al., SIGIR
    * 2009). Inputs carry (`groupCol`, `idCol`, `rank` 1-based); an id
    * contributes `1/(kConst + rank)` from each list it appears in,
    * computed in exact parts-per-billion integer units
    * (`1e9 div (kConst + rank)`) so the fused score is a BIGINT — no
    * float summation, bit-identical in the SQL twin. Ids missing from
    * one list contribute only the other's term (full-outer merge). Ties
    * break by the smaller id.
    *
    * Scale shape: both inputs are already top-k-bounded ranker outputs
    * (groups × k rows), so the full-outer join and the per-group
    * row_number run over a candidate set of at most 2k per group —
    * nothing here ever touches the corpus. */
  def rrfFuse(a: DataFrame, b: DataFrame, groupCol: String, idCol: String,
              kConst: Int = 60, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def ppb(df: DataFrame, out: String) = df.select(
      col(groupCol), col(idCol).cast("long").as(idCol),
      expr(s"1000000000 div ($kConst + rank)").cast("long").as(out))
    val joined = ppb(a, "__ppb_a").join(ppb(b, "__ppb_b"),
        Seq(groupCol, idCol), "full_outer")
      .select(col(groupCol), col(idCol),
        (coalesce(col("__ppb_a"), lit(0L)) + coalesce(col("__ppb_b"), lit(0L)))
          .as("rrf_ppb"))
    val w = Window.partitionBy(groupCol).orderBy(col("rrf_ppb").desc, col(idCol).asc)
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col(idCol), col("rrf_ppb"))
  }

  /** Ranking-quality eval panel — recall@k, MRR and binary nDCG@k of a
    * `system` ranking against a `gold` relevant set, per group: the
    * measure-before-ship gate of a retrieval stack (compare BM25 vs the
    * LM ranker vs the fused list on the same queries). Inputs: `system`
    * carries (`groupCol`, `idCol`, `rank` 1-based), `gold` carries
    * (`groupCol`, `idCol`); one output row per gold group (a group the
    * system never answered scores 0 across the board).
    *
    * Exact integer units throughout — recall in floored basis points,
    * MRR as `1e6 div first_relevant_rank`, and DCG/IDCG as sums of
    * per-rank `round(1e6/log2(rank+1))` micro-terms, so every metric is
    * a BIGINT: invariant to summation order and bit-identical in the SQL
    * twin (nDCG = `(10000·dcg) div idcg` floored basis points).
    *
    * Scale shape: both inputs are top-k-bounded ranker outputs (groups ×
    * k rows); the join, the per-group aggs and the IDCG fold (a ≤ k
    * element higher-order aggregate, no explode) are all groups-sized —
    * the corpus is never touched. */
  def rankingMetrics(system: DataFrame, gold: DataFrame, groupCol: String,
                     idCol: String, k: Int): DataFrame = {
    val sys = system.filter(col("rank") <= k)
      .select(col(groupCol), col(idCol), col("rank").cast("long").as("rank"))
    val g = gold.select(col(groupCol), col(idCol))
    val ngold = g.groupBy(groupCol).agg(count(lit(1)).as("n_gold"))
    val perHit = sys.join(g, Seq(groupCol, idCol))
      .select(col(groupCol),
        expr("1000000 div rank").as("rr_micro"),
        round(lit(1e6) / log2(col("rank") + 1), 0).cast("long").as("dcg_term"))
    val hitAgg = perHit.groupBy(groupCol).agg(
      count(lit(1)).as("hits"),
      max(col("rr_micro")).as("rr"), // 1e6 div rank is monotone: max == first hit
      sum(col("dcg_term")).as("dcg"))
    ngold.join(hitAgg, Seq(groupCol), "left")
      .select(col(groupCol),
        col("n_gold"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        coalesce(col("rr"), lit(0L)).as("mrr_micro"),
        coalesce(col("dcg"), lit(0L)).as("__dcg"),
        aggregate(
          sequence(lit(1L), least(col("n_gold"), lit(k.toLong))), lit(0L),
          (acc, i) => acc + round(lit(1e6) / log2(i + 1), 0).cast("long"))
          .as("__idcg"))
      .select(col(groupCol), col("n_gold"), col("n_hits"),
        expr("(10000 * n_hits) div n_gold").as("recall_bp"),
        col("mrr_micro"),
        expr("(10000 * __dcg) div __idcg").as("ndcg_bp"))
  }

  /** SCD2 interval builder: turn a keyed update stream/table into
    * slowly-changing-dimension HISTORY rows — (key, payload, valid_from,
    * valid_to) with `valid_to` null on each key's current row — the
    * standard lakehouse shape for "what was this entity's state at time
    * t" joins (the historical twin of the upsert table's latest-wins
    * snapshot). Consecutive updates with an UNCHANGED payload compress
    * away (null-safe struct compare, so a null payload field never fakes
    * a change), then each surviving change's interval closes at the next
    * change's time.
    *
    * `orderCols` (version time first, then a unique tie-breaker) must
    * totally order each key's updates — same contract as the oracle's
    * window ORDER BY. Scale shape: both windows (the change filter's lag
    * and the interval's lead) partition on the key, so the corpus pays
    * ONE exchange and sorts within partitions; output ≤ input rows. */
  def scd2Intervals(updates: DataFrame, keyCol: String,
                    orderCols: Seq[String],
                    payloadCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty && payloadCols.nonEmpty,
      "need ordering and payload columns")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(c => col(c).asc): _*)
    val payload = struct(payloadCols.map(col): _*)
    val changed = updates
      .withColumn("__prev", lag(payload, 1).over(w))
      .filter(col("__prev").isNull || !(col("__prev") <=> payload))
      .drop("__prev")
    changed
      .withColumn("valid_from", col(orderCols.head))
      .withColumn("valid_to", lead(col(orderCols.head), 1).over(w))
      .select((col(keyCol) +: payloadCols.map(col)) :+
        col("valid_from") :+ col("valid_to"): _*)
  }

  /** Join-cardinality profile: the one-row diagnostic to run BEFORE a big
    * equi-join — row and distinct-key counts per side, null-key counts
    * (rows an inner join silently drops — the classic surprise), common
    * keys, and the EXACT output cardinality Σ c_left(k)·c_right(k) over
    * common keys (what the join will actually produce; a huge value here
    * means fan-out, time for [[keySkewReport]] on both sides). All from
    * the two keys-sized count relations — the corpora scan once each and
    * never join. `est_out_rows` is exact in BIGINT up to ~9.2e18 output
    * rows, beyond any join worth running.
    *
    * NULL keys are excluded from the key/common counts (they can never
    * match) and surfaced in their own columns instead. */
  def joinProfile(left: DataFrame, leftKey: String,
                  right: DataFrame, rightKey: String): DataFrame = {
    def side(df: DataFrame, key: String, tag: String) = {
      val counts = df.select(col(key).as("k"))
        .filter(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as(s"c_$tag"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nulls = df.filter(col(key).isNull)
        .agg(count(lit(1)).as(s"n_${tag}_null"))
      (counts, nulls)
    }
    val (lc, lnull) = side(left, leftKey, "l")
    val (rc, rnull) = side(right, rightKey, "r")
    val lsum = lc.agg(coalesce(sum("c_l"), lit(0L)).as("n_left"),
      count(lit(1)).as("n_left_keys"))
    val rsum = rc.agg(coalesce(sum("c_r"), lit(0L)).as("n_right"),
      count(lit(1)).as("n_right_keys"))
    val common = lc.join(rc, "k")
      .agg(count(lit(1)).as("n_common_keys"),
        coalesce(sum(col("c_l") * col("c_r")), lit(0L)).as("est_out_rows"))
    lsum.crossJoin(lnull).crossJoin(rsum).crossJoin(rnull).crossJoin(common)
      .select(col("n_left"), col("n_left_keys"), col("n_l_null").as("n_left_null"),
        col("n_right"), col("n_right_keys"), col("n_r_null").as("n_right_null"),
        col("n_common_keys"), col("est_out_rows"))
  }

  /** Funnel analysis: how many users performed `steps` IN ORDER, each
    * event strictly after the previous step's matched event and within
    * `maxSpan` of the user's ANCHOR (their earliest step-1 event) — the
    * conversion query of event analytics ("view → click → purchase within
    * 7 days"). Matching is greedy-earliest per step from the fixed anchor:
    * deterministic, engine-expressible, and the standard product-analytics
    * semantics. Returns one row per step: (step, event_type, n_users,
    * conv) with conv = floored-basis-point share of step-1 users (the
    * keySkewReport parity convention; 1.0 for the anchor row itself).
    *
    * Scale shape: each step is a scan-side type filter (pushed to parquet)
    * into a user-keyed min-agg joined to the previous step's USER-SIZED
    * relation — every join and agg keys on the user column, so the
    * per-step exchanges hash-partition identically and AQE/reuse keeps the
    * user relation co-located; nothing ever shuffles on more than
    * (user, ts) pairs of one step's type. Step count is the plan's depth,
    * not a data-dependent loop. */
  def funnelSteps(events: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, steps: Seq[String],
                  maxSpan: String): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val anchor = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("user"))
      .agg(min(col(tsCol)).as("t_prev"))
      .withColumn("t1", col("t_prev"))
    val stepRels = steps.tail.scanLeft(anchor) { (prev, stepType) =>
      events.filter(col(typeCol) === stepType)
        .select(col(userCol).as("user"), col(tsCol).as("__ts"))
        .join(prev, "user")
        .filter(col("__ts") > col("t_prev") &&
          col("__ts") <= col("t1") + expr(s"INTERVAL $maxSpan"))
        .groupBy("user")
        .agg(min(col("__ts")).as("t_prev"), max(col("t1")).as("t1"))
    }
    val counts = stepRels.zip(steps).zipWithIndex.map { case ((rel, st), i) =>
      rel.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(st).as("event_type"),
          col("n_users"))
    }.reduce(_ unionByName _)
    val base = counts.filter(col("step") === 1L)
      .select(col("n_users").as("__n1"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("event_type"), col("n_users"),
        (expr("(10000 * n_users) div nullif(__n1, 0)") / lit(10000.0)
          + lit(0.0)).as("conv"))
  }

  /** Cohort retention: bucket every user into the cohort of their FIRST
    * active period, then count how many of each cohort are active again k
    * periods later — [[funnelSteps]]' companion ("of the week-0 signups,
    * how many were back in week 3"). Periods are integer day-bucket
    * indices from a fixed `originDate` ((date − origin) div bucketDays) —
    * pure integer arithmetic, identical on any engine, with none of the
    * locale/week-start ambiguity of date_trunc('week').
    *
    * Scale shape: activity first dedups to (user, period) — corpus-sized
    * input, activity-sized output, map-side combinable; the cohort min-agg
    * and the re-join all key on the user, reusing one hash partitioning;
    * the final (cohort, offset) agg is periods²-sized. Each (user, period)
    * row is unique, so the plain count IS the distinct-user count. */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
                      originDate: String, bucketDays: Int): DataFrame = {
    require(bucketDays > 0, s"bucketDays must be positive: $bucketDays")
    val act = events.select(col(userCol).as("user"),
        expr(s"datediff(CAST(`$tsCol` AS DATE), DATE'$originDate')" +
          s" div $bucketDays").as("wk"))
      .distinct()
    val cohort = act.groupBy("user").agg(min("wk").as("cohort_wk"))
    act.join(cohort, "user")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Fixed-width histogram of a numeric column — the profiling primitive
    * behind every "what does this column look like" question (value
    * distributions before choosing winsorize bands, quality-score shapes
    * before picking a cut). Rows below `lo` land in sentinel bin -1,
    * rows at or above `hi` in bin `nBins` (both engines' NaN-greatest
    * comparison semantics put NaN rows in the overflow bin too); interior
    * bin = floor((x − lo)/w). Emits (bin, n, bin_lo, bin_hi) with null
    * bounds on the sentinel bins.
    *
    * Cross-engine reproducibility: pass `lo`/`hi`/`nBins` whose width is
    * exactly representable (e.g. 15.0, not 0.1·…) — the bin math is then
    * the same IEEE ops on the same doubles on any engine. Scale shape:
    * pure scan-side projection into a ≤ nBins+2-row map-side-combinable
    * count agg — zero corpus shuffle. */
  def fixedWidthHistogram(df: DataFrame, valCol: String, lo: Double,
                          hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, s"need hi > lo and nBins > 0: [$lo, $hi) × $nBins")
    val w = (hi - lo) / nBins
    val x = col(valCol).cast("double")
    val bin = when(x < lo, -1L).when(x >= hi, nBins.toLong)
      .otherwise(floor((x - lo) / w).cast("long"))
    val interior = col("bin") >= 0 && col("bin") < nBins
    df.filter(x.isNotNull)
      .select(bin.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .select(col("bin"), col("n"),
        when(interior, lit(lo) + col("bin") * w).as("bin_lo"),
        when(interior, lit(lo) + (col("bin") + 1) * w).as("bin_hi"))
  }

  /** Robust per-group outlier flags via the MEDIAN / MAD modified z-score
    * (Iglewicz–Hoaglin: M = 0.6745·(x − median) / MAD, flag |M| > cutoff,
    * conventional cutoff 3.5) — the outlier screen that, unlike the
    * mean/stddev z of `q_feature_norm`, a few extreme rows cannot drag
    * toward themselves (median and MAD have 50% breakdown; one bad sensor
    * can't mask itself by inflating σ).
    *
    * Cross-engine exactness: the value moves through integer CENTS, and
    * every later quantity stays integer — the value median doubled
    * (`med2`, exact: an odd-count median is an integer, an even-count one
    * a half-integer), deviations in those half-cent units, the deviation
    * median doubled again (`mad4`), and finally the z-score itself as
    * FLOORED-toward-zero basis points
    * `rz_bp = (13490·(2·cents − med2)) div mad4` (0.6745·10⁴·2 = 13490;
    * `div` ≡ DuckDB `//`, both truncate toward zero). The previous form
    * rounded a double `0.6745·Δ/MAD` to 4 decimals, and at sf0.1 the
    * corpus hit 42 exact decimal-tie values (e.g. 1.23975) that Spark's
    * BigDecimal HALF_UP rounds UP while DuckDB's binary-value rounding
    * rounds DOWN — integer bp with one deterministic truncation is the
    * repo's standard cure for that whole class. A group with MAD = 0
    * (over half its values identical) has no defined spread: rz and the
    * flag are NULL for its rows rather than an engine-dependent ±Inf/NaN.
    *
    * Scale shape: two group-by passes over the corpus (medians of values,
    * then of deviations), each joining its groups-sized result back by
    * broadcast. Exact `percentile` holds a per-group multiset — at 100 TB
    * swap `approx_percentile` (same plan, bounded sketch state; the
    * accuracy trade `SketchSpec` measures); the flag math is unchanged. */
  def robustOutliers(df: DataFrame, valCol: String, groupCol: String,
                     idCols: Seq[String], cutoff: Double = 3.5): DataFrame = {
    val c = round(col(valCol) * 100, 0).cast("long")
    val base = df.select((groupCol +: idCols).map(col) :+ col(valCol) :+ c.as("__c"): _*)
    // percentile of longs is k or k.5 — doubling restores an exact long
    val meds = base.groupBy(groupCol)
      .agg((expr("percentile(__c, 0.5)") * 2).cast("long").as("__med2"))
    val dev = base.join(broadcast(meds), groupCol)
      .withColumn("__dev2", abs(col("__c") * 2 - col("__med2")))
    val mads = dev.groupBy(groupCol)
      .agg((expr("percentile(__dev2, 0.5)") * 2).cast("long").as("__mad4"))
    // rz = 0.6745·(c − med)/mad = 2·(2c − med2)/mad4 · 0.6745; in bp:
    val rzBp = expr("(13490 * (__c * 2 - __med2)) div __mad4")
    val rz = rzBp.cast("double") / 10000.0 + lit(0.0)
    val cutBp = math.round(cutoff * 10000)
    dev.join(broadcast(mads), groupCol)
      .select(idCols.map(col) ++ Seq(col(groupCol), col(valCol),
        (col("__med2").cast("double") / 200.0).as("med"),
        (col("__mad4").cast("double") / 400.0).as("mad"),
        when(col("__mad4") =!= 0, rz).as("rz"),
        when(col("__mad4") =!= 0, abs(rzBp) > cutBp).as("is_outlier")): _*)
  }

  /** Key-skew report for a prospective shuffle key — the diagnostic that
    * precedes choosing [[saltedJoin]]'s bucket count (or trusting AQE's
    * skew split): the `topK` heaviest keys with row count, corpus share,
    * and a skew factor (this key's count over the mean count per key; 1.0
    * = perfectly uniform, and the factor is exactly the reducer-imbalance
    * a plain hash partition on this key would suffer). NULL keys are
    * reported like any other key — a null-heavy column is the classic
    * silent skew source — and the tie-break pins them LAST in both
    * engines ((key IS NULL, key): Spark default null-first and DuckDB
    * null-last would otherwise diverge).
    *
    * Scale shape: one map-side-combinable count agg (output = #distinct
    * keys, tiny next to the corpus), then TakeOrderedAndProject over that
    * aggregated relation for the top-k — no window sort, no second pass
    * over the corpus; the 1-row total attaches by broadcast. */
  def keySkewReport(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    // counts feeds BOTH the total/key-count agg and the top-k scan; persist
    // so the corpus agg runs once (the file-wide two-consumer convention —
    // lazy, materializes on first action)
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n_rows"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = counts.agg(sum("n_rows").as("__n_total"),
      count(lit(1)).as("__n_keys"))
    // share/skew via FLOORED integer division, not round(): count ratios
    // over a power-of-10 total terminate exactly on the .5 rounding
    // boundary, where Spark (shortest-decimal HALF_UP) and DuckDB (raw
    // double) disagree — floor of exact integers is engine-identical, and
    // the final /10^k of an integer yields bit-identical doubles
    counts.crossJoin(broadcast(tot))
      .orderBy(col("n_rows").desc, col("key").isNull.asc, col("key").asc)
      .limit(topK)
      .select(col("key"), col("n_rows"),
        (expr("(10000 * n_rows) div __n_total") / lit(10000.0) + lit(0.0))
          .as("share"),
        // the skew numerator in DECIMAL(38,0): 100·n_rows·n_keys overflows
        // BIGINT at the very scale this diagnostic targets (1e9-row hot key
        // × 1e9 keys = 1e20) — Spark would wrap silently, DuckDB (HUGEINT
        // on its side) would not, a wrong answer AND an engine divergence
        (expr("(CAST(100 AS DECIMAL(38,0)) * n_rows * __n_keys) div __n_total")
          / lit(100.0) + lit(0.0)).as("skew"))
  }

  /** Range join (fact value ∈ dimension [lo, hi) interval) as a BUCKETED
    * EQUI-join — the theta→equi transformation Spark lacks natively. The
    * naive formulation `fact JOIN dims ON v >= lo AND v < hi` has no equi
    * key, so Spark plans BroadcastNestedLoopJoin: every fact row probes
    * every interval — O(|fact|·|dims|), a scale killer the moment the
    * dimension side outgrows a demo. Here each interval explodes into the
    * integer buckets of width `bucketWidth` it overlaps
    * (floor(lo/w) … floor(hi/w), interval-sized work on the SMALL side
    * only), the fact side computes its single bucket scan-side, and the
    * join is a plain hash equi-join on the bucket with the exact range
    * predicate re-checked as a post-filter. Shuffle carries fact rows
    * once; overlapping intervals are fine (a fact row matches each
    * interval covering it).
    *
    * Pick `bucketWidth` near the median interval width: the dim-side blowup
    * is ≈ (avg interval width / w) rows per interval, while a too-small w
    * inflates that replication and a too-huge w degenerates toward one
    * bucket (all facts colliding in one reducer = the nested loop again,
    * now with a shuffle). Intervals are [lo, hi): zero-width intervals
    * match nothing, matching the SQL `v >= lo AND v < hi` oracle.
    *
    * 100 TB posture: fact side never replicates and shuffles exactly once
    * on the bucket; dims replicate by interval-width/w (bounded, small
    * side); a hot bucket (many facts + many intervals in one value range)
    * is visible to AQE's skew split because it IS a plain shuffled hash
    * join after this rewrite. */
  def rangeBucketJoin(fact: DataFrame, factVal: String,
                      dims: DataFrame, loCol: String, hiCol: String,
                      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val w = lit(bucketWidth)
    val dimB = dims.withColumn("__bucket",
      explode(sequence(floor(col(loCol) / w).cast("long"),
        floor(col(hiCol) / w).cast("long"))))
    val factB = fact.withColumn("__bucket",
      floor(col(factVal) / w).cast("long"))
    factB.join(dimB, Seq("__bucket"))
      .filter(col(factVal) >= col(loCol) && col(factVal) < col(hiCol))
      .drop("__bucket")
  }

  /** Skew-resistant equi-join: salt the skewed (left) side's key into
    * `saltBuckets` sub-keys and replicate the right side once per salt, so
    * one hot key spreads over `saltBuckets` reducers instead of melting a
    * single one. Use when AQE's skew-join split isn't available (e.g. the
    * join feeds a co-partitioned downstream op) or the skew is extreme.
    * Right side is replicated ×saltBuckets — keep it the smaller input. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltBuckets: Int): DataFrame = {
    // Salt from ROW CONTENT, not monotonically_increasing_id(): the latter
    // depends on partition layout, so a task retry or AQE re-plan could land
    // the same row in a different salt bucket than its first attempt —
    // correct rows, but non-reproducible layout (a hash-parity hazard if
    // the output ever feeds an oracle compare). Hashing every column keeps
    // the spread even when the hot KEY is a single value (hashing only the
    // key would put the whole hot key back into one bucket). Fully
    // IDENTICAL duplicate rows share a bucket — the price of determinism;
    // dedup them first if that's the skew shape.
    // Map-typed columns are excluded from the salt: Spark's hash() rejects
    // MapType (map equality is undefined), and an all-columns hash would
    // fail analysis for any schema carrying one (e.g. parsed JSON attrs).
    import org.apache.spark.sql.types.{DataType, ArrayType, MapType, StructType}
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType     => false
      case a: ArrayType   => hashable(a.elementType)
      case s: StructType  => s.fields.forall(f => hashable(f.dataType))
      case _              => true
    }
    val saltCols = left.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    require(saltCols.nonEmpty,
      "saltedJoin: no hashable columns to derive a deterministic salt from")
    val salted = left.withColumn("__salt",
      pmod(hash(saltCols: _*), lit(saltBuckets)))
    val replicated = right.withColumn("__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Snapshot diff between two versions of a keyed table (two crawl
    * snapshots, two corpus releases): classifies every key as `added`
    * (new only), `removed` (old only), `changed` (both, payload
    * fingerprint differs) or `unchanged`. The payload comparison is an
    * md5 over the delimiter-joined `fpCols` — constant-width however wide
    * the payload, engine-portable (md5 and the \\u0001-delimited join behave
    * identically in DuckDB), and computed SCAN-SIDE so the join carries
    * (key, 32-char fp) instead of full rows. concat_ws skips NULLs (both
    * engines), so a NULL payload cell equals an absent one — acceptable
    * for change DETECTION; add an explicit null-marker column if that
    * distinction matters.
    *
    * Scale shape: one full-outer equi-join on the key — both sides are
    * corpus-sized, which is the op's irreducible cost. At 100 TB, bucket
    * both snapshots on the key at write time and the join runs
    * zero-exchange (the [[graft.operators.Outputs]] bucketing path); the
    * diff output itself is usually tiny (churn, not corpus). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCol: String,
                   fpCols: Seq[String]): DataFrame = {
    require(fpCols.nonEmpty, "snapshotDiff: need at least one payload column")
    def fp(df: DataFrame, as: String) = df.select(col(keyCol),
      md5(concat_ws("\u0001", fpCols.map(col): _*)).as(as))
    fp(oldSnap, "__fp_old").join(fp(newSnap, "__fp_new"), Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("__fp_old").isNull, "added")
          .when(col("__fp_new").isNull, "removed")
          .when(col("__fp_old") =!= col("__fp_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** CUPED-adjusted experiment readout: per-variant means of an integer
    * metric, variance-reduced by a pre-experiment covariate —
    * `adj(v) = mean_y(v) − θ·(mean_x(v) − mean_x)` with the pooled
    * `θ = cov(x,y)/var(x)`, the standard trick that removes the part of
    * the outcome variance the pre-period already predicted. Entirely in
    * exact integer arithmetic: θ and every mean are floored micro-unit
    * divisions of DECIMAL(38,0) sums (the olsTrend normal-equation
    * conventions — order-invariant under any partitioning, identical on
    * both engines including negative adjustments). Zero covariate
    * variance → θ = 0, i.e. no adjustment rather than a divide-by-zero.
    *
    * Scale shape: ONE map-side-combinable 5-sum global aggregate (1 row,
    * broadcast) + one variant-grain aggregate — the unit frame scans
    * twice and nothing downstream exceeds variant cardinality. The input
    * is the per-UNIT frame (one row per user with quantized metric +
    * covariate), which the caller builds with one groupBy. */
  def cupedMeans(df: DataFrame, variantCol: String, metricCol: String,
                 covariateCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val glob = df.agg(
        count(lit(1)).cast(d38).as("gn"),
        sum(col(covariateCol).cast(d38)).as("gsx"),
        sum(col(metricCol).cast(d38)).as("gsy"),
        sum((col(covariateCol).cast(d38) * col(covariateCol)).cast(d38)).as("gsxx"),
        sum((col(covariateCol).cast(d38) * col(metricCol)).cast(d38)).as("gsxy"))
      .withColumn("theta_micro",
        when(expr("gn * gsxx - gsx * gsx") =!= 0,
          expr("(1000000 * (gn * gsxy - gsx * gsy)) div (gn * gsxx - gsx * gsx)"))
          .otherwise(lit(0L)))
      .withColumn("gmx_micro", expr("(1000000 * gsx) div gn"))
    val perV = df.groupBy(col(variantCol))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col(metricCol).cast(d38)).as("sy"),
        sum(col(covariateCol).cast(d38)).as("sx"))
    perV.crossJoin(broadcast(glob.select("theta_micro", "gmx_micro")))
      .select(col(variantCol), col("n").cast("long").as("n"),
        (expr("(1000000 * sy) div n").cast("long") / 1e6).as("mean_metric"),
        (expr("(1000000 * sy) div n" +
          " - (theta_micro * ((1000000 * sx) div n - gmx_micro)) div 1000000")
          .cast("long") / 1e6).as("mean_adjusted"))
  }

  /** Data-quality expectation suite — declarative validation gates (the
    * Great-Expectations pattern) evaluated in ONE corpus pass: each rule
    * is (name, violation predicate, allowed violation basis points); the
    * report carries exact violation counts, the floored-bp violation
    * rate, and the pass verdict. A pipeline stage asserts
    * `report.filter(!passed).isEmpty` before publishing — cheap enough
    * (one scan, no shuffle before the 1-row agg) to run on every ingest
    * batch.
    *
    * Scale shape: every rule folds into the SAME wide aggregate — one
    * scan however many rules, then a |rules|-row explode reshape (the
    * profileColumns shape, without the distinct-count Expand). */
  def expectations(df: DataFrame,
                   rules: Seq[(String, Column, Int)]): DataFrame = {
    require(rules.nonEmpty, "expectations: need at least one rule")
    require(rules.forall(_._3 >= 0), "allowed violation bp must be >= 0")
    val aggs = count(lit(1)).as("__n") +: rules.map { case (name, viol, _) =>
      sum(when(viol, 1L).otherwise(0L)).as(s"__v_$name")
    }
    val agged = df.agg(aggs.head, aggs.tail: _*)
    val rows = rules.map { case (name, _, maxBp) =>
      val v = col(s"__v_$name")
      struct(lit(name).as("rule"), col("__n").as("n_rows"),
        v.as("n_violations"),
        expr(s"(10000 * __v_$name) div greatest(__n, CAST(1 AS BIGINT))")
          .as("viol_bp"),
        (expr(s"10000 * __v_$name") <= lit(maxBp.toLong) * col("__n"))
          .as("passed"))
    }
    agged.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Population Stability Index between a reference and a current sample
    * of the same integer-quantized value — THE standard drift gate in
    * front of a model/data refresh: PSI = Σ_b (p_b − q_b)·ln(p_b / q_b)
    * over fixed-width value buckets, with add-one (Laplace) smoothing so
    * empty buckets stay defined (the conventional ε-floor, made exact and
    * engine-portable). Returns one row per bucket with both counts and
    * the term in integer MICRO-UNITS — per-bucket terms are identical
    * doubles in any engine (exact integer count ratios through one ln),
    * and the micro-quantization makes the caller's Σ order-invariant
    * (`sum(term_micro)` is bigint addition; summing raw doubles would
    * expose partial-agg order). PSI < 0.1 conventionally reads "no
    * shift", > 0.25 "act".
    *
    * Scale shape: each side is one scan into a map-side-combinable
    * (bucket)-keyed count; the bucket panel (fixed B rows) full-outer
    * merges and broadcasts nothing corpus-sized anywhere. */
  def populationStability(ref: DataFrame, cur: DataFrame, valCol: String,
                          lo: Long, width: Long, nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets >= 2, s"width=$width nBuckets=$nBuckets")
    def buckets(df: DataFrame) = df.select(
        expr(s"least(greatest(CAST($valCol AS BIGINT) - $lo, CAST(0 AS BIGINT))" +
          s" div $width, CAST(${nBuckets - 1} AS BIGINT))").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val r = buckets(ref).select(col("bucket"), col("n").as("n_ref"))
    val c = buckets(cur).select(col("bucket"), col("n").as("n_cur"))
    val grid = ref.sparkSession.range(nBuckets).select(col("id").as("bucket"))
    val tot = r.agg(sum("n_ref").as("__tr"))
      .crossJoin(c.agg(sum("n_cur").as("__tc")))
    grid.join(r, Seq("bucket"), "left").join(c, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round(((col("n_ref") + 1).cast("double")
            / (col("__tr") + nBuckets).cast("double")
          - (col("n_cur") + 1).cast("double")
            / (col("__tc") + nBuckets).cast("double"))
          * log(((col("n_ref") + 1).cast("double") * (col("__tc") + nBuckets))
            / ((col("n_cur") + 1).cast("double") * (col("__tr") + nBuckets)))
          * 1000000, 0).cast("long").as("term_micro"))
  }

  /** Column-level data profile — the schema-on-read audit that precedes
    * any ingest decision: per column, row count, null count, EXACT
    * distinct count, and min/max. Callers pass (name, canonicalized
    * expression) pairs — min/max compare and emit on whatever type the
    * expression produces, rendered via CAST AS STRING, so the caller owns
    * the canonical form (integers/strings are engine-portable as-is;
    * floats and timestamps should be quantized/formatted by the caller —
    * engine-native string renderings of those types differ).
    *
    * Scale shape: ONE wide aggregate computes every per-column stat in a
    * single corpus pass, then a |cols|-row explode reshapes the 1-row
    * result — the corpus is scanned once, never per column. The exact
    * distinct counts make Spark plan an Expand (one duplicated stream per
    * distinct column) — the documented exact-mode cost, linear in the
    * column count; the 100 TB path swaps `countDistinct` for
    * `approx_count_distinct` (HLL — one stream, no Expand) exactly as the
    * dedupReport does, once profile consumers accept ±2%. */
  def profileColumns(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.nonEmpty, "profileColumns: need at least one column")
    val aggs = cols.flatMap { case (name, c) => Seq(
      count(lit(1)).as(s"__n_$name"),
      sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nn_$name"),
      countDistinct(c).as(s"__nd_$name"),
      min(c).cast("string").as(s"__mn_$name"),
      max(c).cast("string").as(s"__mx_$name"))
    }
    val profiled = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { case (name, _) =>
      struct(lit(name).as("column"), col(s"__n_$name").as("n_rows"),
        col(s"__nn_$name").as("n_null"), col(s"__nd_$name").as("n_distinct"),
        col(s"__mn_$name").as("min_val"), col(s"__mx_$name").as("max_val"))
    }
    profiled.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** k-anonymity audit over a quasi-identifier combination: every
    * equivalence class (distinct quasi-column tuple) with its size and a
    * `violates` flag for classes smaller than `k` — the re-identification
    * gate a dataset must pass before release (a class of 3 people sharing
    * (nation, segment) is 3 candidate identities, not anonymity). The
    * audit is the measurement; [[kAnonymitySuppress]] is the enforcement.
    *
    * Scale shape: ONE map-side-combinable count agg at class grain —
    * the corpus scans once, output is classes-sized. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2, s"quasiCols=$quasiCols k=$k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("violates", col("n") < k)
  }

  /** Seeded Laplace noise for the DP release mechanisms below: a uniform
    * in (0,1) from the md5 lane over (salt, key) — u = (h + 0.5)/2^32,
    * never exactly 0 or 1 — through the Laplace inverse CDF
    * −b·sgn(u−½)·ln(1−2|u−½|), rounded to the integer grain of the
    * released statistic (the geometric-mechanism convention for counting
    * queries). DETERMINISTIC on purpose: pipelines replay bit-identically
    * and both engines derive the same noise from the same literals — the
    * formal DP guarantee then rests on `nonce` staying secret AND unique
    * per release (the seeded-noise trade every reproducible DP system
    * makes). The nonce is a REQUIRED explicit parameter precisely because
    * reuse is the attack: two releases over evolving data that share a
    * nonce draw identical noise per key, and their difference exposes the
    * true delta exactly. ln on a hash-uniform double is the proven
    * round(ln·1e6) cross-engine lane; here rounding happens at INTEGER
    * grain, coarser still. */
  private def laplaceNoise(key: Column, nonce: String, bMicro: Long): Column = {
    // coalesce pins the NULL-group seed cross-engine (SQL || propagates
    // NULL; an explicit empty-string key is the shared convention)
    val u = (graft.operators.Sketches.md5Hash32(
      concat(lit(nonce), coalesce(key, lit(""))))
      .cast("double") + 0.5) / 4294967296.0
    val centered = u - 0.5
    // |noise| = b·(−ln(1−2|u−½|)) ≥ 0; the sign follows the half u fell in
    val mag = lit(bMicro.toDouble / 1e6) *
      -log(lit(1.0) - lit(2.0) * abs(centered))
    round(signum(centered) * mag, 0).cast("long")
  }

  /** DIFFERENTIALLY-PRIVATE group counts (ε-DP Laplace mechanism,
    * sensitivity 1): per group, n_noisy = n + round(Laplace(1/ε)) with
    * the seeded noise above — the release form of the [[kAnonymity]]
    * audit family (k-anon/l-div/t-closeness measure re-identification
    * risk; this MECHANISM bounds it by construction). ε arrives in micro
    * units (epsilonMicro = ε·1e6; keep it a divisor of 1e6 so the scale
    * b = 1e6/εµ is an exact double). Noisy counts can be negative — the
    * unbiasedness of the mechanism; clamp downstream if a display layer
    * needs ≥0, never before aggregation across releases.
    *
    * SUPPORT of the release: without `keyDomain`, only groups PRESENT in
    * the data are released, so the support itself reveals record
    * existence — under add/remove adjacency, a group whose sole record is
    * removed vanishes entirely, distinguishing neighbors with certainty.
    * That mode is therefore ε-DP only OVER A PUBLIC GROUP DOMAIN (the key
    * set itself must already be public knowledge — e.g. a fixed enum the
    * schema documents). For the full add/remove guarantee, pass the
    * public domain: the release then left-joins onto it, absent groups
    * get a noised ZERO count, out-of-domain groups are NOT released, and
    * the support is a constant of the release, independent of the data.
    *
    * Scale shape: ONE map-side-combinable count agg at group grain; the
    * noise is a scan-side projection over the groups-sized relation; the
    * optional domain join is groups-sized × domain-sized — both tiny
    * relative to the corpus, broadcastable by AQE. */
  def dpGroupCounts(df: DataFrame, groupCol: String, epsilonMicro: Long,
                    releaseNonce: String,
                    keyDomain: Option[DataFrame] = None): DataFrame = {
    require(epsilonMicro > 0 && 1000000000000L % epsilonMicro == 0,
      s"epsilonMicro must be a positive divisor of 1e12 (exact b): $epsilonMicro")
    require(releaseNonce.nonEmpty,
      "releaseNonce must be non-empty and unique per release: nonce reuse " +
        "across releases over evolving data exposes the true delta exactly")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    // fixed-support mode: the domain IS the released key set
    val based = keyDomain match {
      case Some(dom) => dom.select(col(groupCol)).distinct()
        .join(counts, Seq(groupCol), "left")
        .select(col(groupCol), coalesce(col("__n"), lit(0L)).as("__n"))
      case None => counts
    }
    // b = 1/ε in micro units: 1e12/εµ (exact by the require above)
    based.select(col(groupCol),
      (col("__n") + laplaceNoise(col(groupCol).cast("string"), releaseNonce,
        1000000000000L / epsilonMicro)).as("n_noisy"),
      lit(epsilonMicro).as("epsilon_micro"))
  }

  /** THRESHOLDED DP release ("stable histogram" — the third leg of the
    * release family, for key sets that are themselves private data and
    * have NO public domain: vocabularies, n-grams, URLs). Each group's
    * count is noised as in [[dpGroupCounts]], then only groups with
    * n_noisy ≥ tau are released. The threshold is what absorbs the
    * support leak [[dpGroupCounts]]'s domain mode fixes by other means:
    * a group whose record count is far below tau has (exponentially in
    * ε·tau) vanishing odds of appearing, so removing one record shifts
    * release probabilities by at most an (ε, δ) bound with
    * δ = ½·e^(−ε·(tau−1)) under add/remove adjacency — pick tau from the
    * δ you need (ε=0.5, tau=25: δ ≈ 3e-6), not from utility alone.
    *
    * This is the mechanism for releasing a vocabulary or n-gram table
    * out of a private corpus: frequent tokens survive with accurate
    * noisy counts, rare (potentially identifying) strings drop.
    *
    * Scale shape: [[dpGroupCounts]]'s one count agg + noise projection,
    * then a groups-sized filter — nothing corpus-sized after the scan. */
  def dpStableCounts(df: DataFrame, groupCol: String, epsilonMicro: Long,
                     tau: Long, releaseNonce: String): DataFrame = {
    require(tau >= 1, s"tau must be >= 1: $tau")
    dpGroupCounts(df, groupCol, epsilonMicro, releaseNonce)
      .filter(col("n_noisy") >= tau)
      .withColumn("tau", lit(tau))
  }

  /** USER-LEVEL DP group counts — the privacy unit deployed systems
    * actually need: [[dpGroupCounts]] protects one ROW, but one user may
    * own thousands of rows, and removing the USER is the adjacency that
    * matters. Each user's contribution to each group is clamped to
    * `capPerUser` FIRST (the sensitivity bound — the [[dpGroupSum]]
    * clamp at event grain), then the clamped counts sum per group and
    * draw Laplace(capPerUser/ε): ε-DP under add/remove of an entire
    * user, for any number of rows that user had. Same release-support
    * contract as [[dpGroupCounts]] (`keyDomain` fixes the support; no
    * domain scopes the claim to a public group domain).
    *
    * Scale shape: one (group, user)-grain count agg (map-side
    * combinable), one group-grain sum, noise as a groups-sized
    * projection. The (group, user) relation is the only intermediate and
    * it is bounded by the DATA's own grain, never materialized beyond
    * the shuffle. */
  def dpUserCounts(df: DataFrame, groupCol: String, userCol: String,
                   capPerUser: Long, epsilonMicro: Long,
                   releaseNonce: String,
                   keyDomain: Option[DataFrame] = None): DataFrame = {
    require(capPerUser > 0 && epsilonMicro > 0 &&
      1000000000000L % epsilonMicro == 0,
      s"capPerUser=$capPerUser epsilonMicro=$epsilonMicro (eps must divide 1e12)")
    require(releaseNonce.nonEmpty,
      "releaseNonce must be non-empty and unique per release: nonce reuse " +
        "across releases over evolving data exposes the true delta exactly")
    // overflow guard: b = cap·1e12/εµ micro units must stay inside Long
    require(capPerUser <= Long.MaxValue / (1000000000000L / epsilonMicro),
      s"capPerUser·(1e12/epsilonMicro) overflows Long: $capPerUser, $epsilonMicro")
    val bounded = df.groupBy(col(groupCol), col(userCol))
      .agg(least(count(lit(1)), lit(capPerUser)).as("__c"))
    val counts = bounded.groupBy(col(groupCol)).agg(sum("__c").as("__n"))
    val based = keyDomain match {
      case Some(dom) => dom.select(col(groupCol)).distinct()
        .join(counts, Seq(groupCol), "left")
        .select(col(groupCol), coalesce(col("__n"), lit(0L)).as("__n"))
      case None => counts
    }
    based.select(col(groupCol),
      (col("__n") + laplaceNoise(col(groupCol).cast("string"), releaseNonce,
        capPerUser * (1000000000000L / epsilonMicro))).as("n_noisy"),
      lit(epsilonMicro).as("epsilon_micro"),
      lit(capPerUser).as("cap_per_user"))
  }

  /** DP group SUMS over a cents-grain metric: each row's contribution
    * clamps to [0, clampCents] FIRST (the sensitivity bound — without the
    * clamp one outlier row makes ε meaningless), then
    * sum_noisy = Σ clamped + round(Laplace(clampCents/ε)). Same seeded-
    * noise and release-support contract as [[dpGroupCounts]]: without
    * `keyDomain` the support leaks membership, so the guarantee scopes to
    * a public group domain; with it, absent groups release a noised zero
    * sum and the support is data-independent. */
  def dpGroupSum(df: DataFrame, groupCol: String, valueCents: Column,
                 clampCents: Long, epsilonMicro: Long,
                 releaseNonce: String,
                 keyDomain: Option[DataFrame] = None): DataFrame = {
    require(clampCents > 0 && epsilonMicro > 0 &&
      1000000000000L % epsilonMicro == 0,
      s"clampCents=$clampCents epsilonMicro=$epsilonMicro (eps must divide 1e12)")
    require(releaseNonce.nonEmpty,
      "releaseNonce must be non-empty and unique per release: nonce reuse " +
        "across releases over evolving data exposes the true delta exactly")
    // overflow guard: b = C·1e12/εµ micro units must stay inside Long —
    // a silent wrap would FLIP the noise sign (garbage-scale release)
    require(clampCents <= Long.MaxValue / (1000000000000L / epsilonMicro),
      s"clampCents·(1e12/epsilonMicro) overflows Long: $clampCents, $epsilonMicro")
    val sums = df.groupBy(col(groupCol))
      .agg(sum(least(greatest(valueCents.cast("long"), lit(0L)),
        lit(clampCents))).as("__s"))
    val based = keyDomain match {
      case Some(dom) => dom.select(col(groupCol)).distinct()
        .join(sums, Seq(groupCol), "left")
        .select(col(groupCol), coalesce(col("__s"), lit(0L)).as("__s"))
      case None => sums
    }
    based.select(col(groupCol),
      // b = C/ε in micro units = C·(1e12/εµ)
      (col("__s") + laplaceNoise(col(groupCol).cast("string"), releaseNonce,
        clampCents * (1000000000000L / epsilonMicro))).as("sum_noisy"),
      lit(epsilonMicro).as("epsilon_micro"),
      lit(clampCents).as("clamp_cents"))
  }

  /** LOCAL-DP frequency estimation via k-ary RANDOMIZED RESPONSE — the
    * local-model member of the release family: the central mechanisms
    * above ([[dpGroupCounts]] etc.) noise AGGREGATES a trusted curator
    * computed; here each ROW's category is perturbed independently
    * before any aggregation, so nothing trustworthy ever sees a true
    * row (the Warner 1965 design; generalized k-RR per Kairouz et al.
    * 2016). Each record reports its true category with probability p,
    * any single other category with probability (1−p)/(k−1) — that is
    * ε-LDP with ε = ln(p·(k−1)/(1−p)). The curator then DEBIASES the
    * observed histogram: n̂_c = (obs_c − n·q)/(p − q), q = (1−p)/(k−1),
    * an unbiased estimator of the true counts (estimates may be
    * negative — that is the unbiasedness, never clamp before further
    * aggregation).
    *
    * `domain` must be the PUBLIC category list (randomized response is
    * undefined without it — the perturbation needs the full choice set,
    * and the release support is the domain, not the data). Rows whose
    * category falls outside the domain are EXCLUDED (they cannot be
    * encoded); absent domain categories release a debiased zero.
    *
    * Seeded determinism, the [[laplaceNoise]] trade: the keep/pick draws
    * come from two independent md5 lanes over (nonce, row id), so
    * replays are bit-identical and both engines agree; the guarantee
    * rests on the nonce staying secret and unique per release. The
    * keep test is INTEGER-exact: h·1e6 < pMicro·2^32 (both under 2^63).
    *
    * Scale shape: the domain (k rows) broadcasts twice (index lookup,
    * reported-index decode); the corpus scans once into a category-grain
    * count agg — map-side combinable, nothing corpus-sized after. */
  def ldpFrequency(df: DataFrame, idCol: String, categoryCol: String,
                   domain: DataFrame, pMicro: Long,
                   releaseNonce: String): DataFrame = {
    require(pMicro > 0 && pMicro < 1000000,
      s"pMicro must be in (0, 1e6): $pMicro")
    require(releaseNonce.nonEmpty,
      "releaseNonce must be non-empty and unique per release")
    val w = org.apache.spark.sql.expressions.Window
    // k-bounded: the public domain is an enum-sized relation
    val dom = domain.select(col(categoryCol).cast("string").as("__cat"))
      .distinct()
      .withColumn("__idx",
        row_number().over(w.orderBy("__cat")).cast("long") - 1L)
    val rows = df.select(col(idCol).cast("string").as("__rid"),
        col(categoryCol).cast("string").as("__cat"))
      .join(broadcast(dom), Seq("__cat")) // out-of-domain rows excluded
    val hKeep = graft.operators.Sketches.md5Hash32(
      concat(lit(releaseNonce), lit("|k|"), col("__rid")))
    val hPick = graft.operators.Sketches.md5Hash32(
      concat(lit(releaseNonce), lit("|p|"), col("__rid")))
    val domCount = dom.agg(count(lit(1)).as("__k"))
    // reported index: true idx when kept; else the j-th OTHER category
    // (j in [0, k-2], skipping the true index)
    val reportedIdx = rows
      .withColumn("__keep", hKeep * 1000000L < lit(pMicro) * 4294967296L)
      .withColumn("__hp", hPick)
      .crossJoin(broadcast(domCount))
      .withColumn("__jj", pmod(col("__hp"), col("__k") - 1L))
      .withColumn("__ridx", when(col("__keep"), col("__idx"))
        .otherwise(when(col("__jj") >= col("__idx"), col("__jj") + 1L)
          .otherwise(col("__jj"))))
    val obs = reportedIdx.groupBy(col("__ridx").as("__idx"))
      .agg(count(lit(1)).as("__obs"))
    val n = reportedIdx.agg(count(lit(1)).as("__n"))
    dom.join(obs, Seq("__idx"), "left")
      .crossJoin(broadcast(n)).crossJoin(broadcast(domCount))
      .select(col("__cat").as(categoryCol),
        coalesce(col("__obs"), lit(0L)).as("n_reported"),
        // p, q exact doubles from the integer literals; estimate rounded
        // at milli grain (one double divide after exact integer sums)
        round((coalesce(col("__obs"), lit(0L)).cast("double") -
          col("__n").cast("double") * ((lit(1.0) - lit(pMicro / 1e6)) /
            (col("__k") - 1.0).cast("double"))) /
          (lit(pMicro / 1e6) - ((lit(1.0) - lit(pMicro / 1e6)) /
            (col("__k") - 1.0).cast("double"))), 3).as("n_est"),
        round(log(lit(pMicro / 1e6) * (col("__k") - 1.0).cast("double") /
          (lit(1.0) - lit(pMicro / 1e6))) * 1e6, 0).cast("long")
          .as("epsilon_micro"))
  }

  /** Approximate FUNCTIONAL-DEPENDENCY profile — the schema-discovery
    * member of the data-quality family ([[kAnonymity]] audits privacy,
    * `expectations` audits values; this audits STRUCTURE): for each
    * candidate pair LHS → RHS, does each LHS value determine one RHS
    * value, and if not, how badly is the dependency violated? Reported
    * per pair:
    *
    *   n_rows, n_groups (distinct LHS), n_violating (LHS values mapping
    *   to >1 RHS), g3_bp = 10000·(n − Σ_lhs max RHS count) div n — the
    *   standard g3 error (Kivinen–Mannila): the fraction of rows that
    *   must be removed for the FD to hold exactly — and the `holds` flag.
    *
    * NULL is a value of its own on both sides (the lDiversity
    * convention): "unknown" still determines / violates like any value.
    *
    * Scale shape: the pair panel is folded into ONE corpus scan — a
    * stack() projection emits (pair, lhs, rhs) rows — followed by two
    * map-side-combinable aggs ((pair, lhs, rhs) counts, then (pair, lhs)
    * maxima) and a pairs-sized rollup; P candidate pairs never cost P
    * scans, and nothing after the scan exceeds the (pair, lhs) grain. */
  def fdProfile(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "candidate pairs required")
    val arms = pairs.map { case (l, r) =>
      s"'$l->$r', CAST(`$l` AS STRING), CAST(`$r` AS STRING)"
    }.mkString(", ")
    val stacked = df.selectExpr(
      s"stack(${pairs.size}, $arms) AS (fd, lhs, rhs)")
    val cells = stacked.groupBy("fd", "lhs", "rhs")
      .agg(count(lit(1)).as("__c"))
    val perLhs = cells.groupBy("fd", "lhs")
      .agg(sum("__c").as("__n"), max("__c").as("__mx"),
        count(lit(1)).as("__nrhs"))
    perLhs.groupBy("fd")
      .agg(sum("__n").as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("__nrhs") > 1L, 1L).otherwise(0L)).as("n_violating"),
        sum("__mx").as("__keep"))
      .select(col("fd"), col("n_rows"), col("n_groups"), col("n_violating"),
        expr("(10000 * (n_rows - __keep)) div n_rows").as("g3_bp"),
        (col("n_violating") === 0L).as("holds"))
  }

  /** Sample-ratio-mismatch check — the experimentation guardrail that
    * runs BEFORE any metric readout: if the observed variant counts don't
    * match the assignment ratios, every downstream number is biased by a
    * broken bucketing path (the single most common silent A/B failure).
    * χ² goodness-of-fit against the declared ratios, exact to one
    * micro-truncated term per variant ((o·R − n·r)² rides decimal(38,0)
    * on the common denominator n·r·R). Variants observed but absent from
    * `ratios` — themselves an SRM — surface via n_unexpected. Returns one
    * row (n, k, n_unexpected, chi2, srm) where `srm` fires at
    * `chi2 > critMicro/1e6` (caller supplies the χ² critical value for
    * k−1 df; 3.8415 for k=2 at α=0.05). One corpus scan into a
    * variant-grain agg. */
  def srmCheck(df: DataFrame, variantCol: String,
               ratios: Seq[(String, Long)], critMicro: Long): DataFrame = {
    require(ratios.nonEmpty && ratios.forall(_._2 > 0), s"ratios: $ratios")
    val d38 = "decimal(38,0)"
    val rsum = ratios.map(_._2).sum
    val rdf = df.sparkSession.createDataFrame(ratios).toDF("__v", "__r")
    val obs = df.select(col(variantCol).cast("string").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__o"))
    // no broadcast hint: Spark can't build-right a full outer join, and
    // the hint only logs a warning; the ratio table is rows-few anyway
    val j = obs.join(rdf, Seq("__v"), "full_outer")
      .select(coalesce(col("__o"), lit(0L)).as("__o"), col("__r"))
    val tot = j.agg(sum(when(col("__r").isNotNull, col("__o"))
      .otherwise(0L)).as("__n"))
    j.crossJoin(broadcast(tot))
      .agg(max(col("__n")).as("__n"),
        sum(when(col("__r").isNotNull, 1L).otherwise(0L)).as("__k"),
        sum(when(col("__r").isNull, col("__o")).otherwise(0L))
          .as("n_unexpected"),
        sum(when(col("__r").isNotNull,
          // CASE-guarded: n = 0 (empty df / all-unexpected variants)
          // would divide by zero, an error under ANSI mode
          expr(s"CASE WHEN __n > 0 THEN" +
            s" (1000000 * (CAST(__o AS $d38) * $rsum - CAST(__n AS $d38)" +
            s" * __r) * (CAST(__o AS $d38) * $rsum - CAST(__n AS $d38)" +
            s" * __r)) div (CAST(__n AS $d38) * __r * $rsum) ELSE 0 END"))
          .otherwise(0L)).as("__chi"))
      .select(col("__n").as("n"), col("__k").as("k"), col("n_unexpected"),
        (round(col("__chi") / 1e6, 4) + lit(0.0)).as("chi2"),
        (col("__chi") > critMicro).as("srm"))
  }

  /** Treatment–control OVERLAP (positivity check) — 1 − total-variation
    * distance between the two groups' binned covariate distributions: the
    * diagnostic a causal readout ([[cupedMeans]], [[Stats.diffInDiff]],
    * [[postStratifiedMean]]) needs first, because with disjoint covariate
    * support no weighting scheme identifies an effect. TV is EXACT
    * integer arithmetic on the common denominator 2·n_a·n_b
    * (Σ|c_a·n_b − c_b·n_a| rides decimal(38,0)); overlap = 1 − TV divides
    * once. Returns one row (n_a, n_b, n_bins, tv, overlap). One scan into
    * a (bin, group) agg, bin-grain arithmetic after. */
  def overlapTv(df: DataFrame, binQ: Column, groupFlag: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.select(binQ.cast("long").as("__b"),
        groupFlag.cast("boolean").as("__g"))
      .filter(col("__b").isNotNull && col("__g").isNotNull)
    val bins = base.groupBy("__b").agg(
      sum(when(col("__g"), 1L).otherwise(0L)).as("__ca"),
      sum(when(!col("__g"), 1L).otherwise(0L)).as("__cb"))
    val tot = bins.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
    bins.crossJoin(broadcast(tot))
      .agg(max(col("__na")).as("__na"), max(col("__nb")).as("__nb"),
        count(lit(1)).as("n_bins"),
        sum(expr(s"abs(CAST(__ca AS $d38) * __nb" +
          s" - CAST(__cb AS $d38) * __na)")).as("__s"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"), col("n_bins"),
        // degenerate guard (the cohensD/kruskalWallisH convention): an
        // empty group makes TV 0/0 — report NULL, never NaN
        when(col("__na") === 0L || col("__nb") === 0L, lit(null))
          .otherwise(round(expr("CAST(__s AS DOUBLE)") /
            (lit(2.0) * expr("CAST(__na AS DOUBLE)") *
              expr("CAST(__nb AS DOUBLE)")), 6) + lit(0.0))
          .cast("double").as("tv"),
        when(col("__na") === 0L || col("__nb") === 0L, lit(null))
          .otherwise(round(lit(1.0) - expr("CAST(__s AS DOUBLE)") /
            (lit(2.0) * expr("CAST(__na AS DOUBLE)") *
              expr("CAST(__nb AS DOUBLE)")), 6) + lit(0.0))
          .cast("double").as("overlap"))
  }

  /** 2-D SKYLINE (pareto frontier, Börzsönyi et al. 2001) — the rows no
    * other row beats on BOTH criteria (cheaper-or-equal AND
    * bigger-or-equal, strictly better in one): the multi-criteria
    * shortlist behind "best tradeoff" queries that no single ORDER BY
    * expresses. The sorted-scan identity makes 2-D skylines linear: keep
    * each x's best y, then keep points whose y strictly beats every
    * cheaper x's best — one running max over the x VALUE DOMAIN. Equal
    * (x,y) duplicates tie into one skyline point with `n_rows` counting
    * them. Returns (min_value, max_value, n_rows).
    *
    * Scale shape: one (x,y) value-domain agg, a per-x max window
    * (partitioned), one domain-bounded running-max window — the corpus
    * contributes a single scan; nothing is ever pairwise. */
  def skyline2d(df: DataFrame, minimizeQ: Column,
                maximizeQ: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val base = df.select(minimizeQ.cast("long").as("__x"),
        maximizeQ.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val xy = base.groupBy("__x", "__y").agg(count(lit(1)).as("n_rows"))
    val cand = xy
      .withColumn("__mx", max(col("__y")).over(w.partitionBy("__x")))
      .filter(col("__y") === col("__mx"))
    // single-partition sort bound: distinct minimize-values only
    val wPrev = w.orderBy("__x").rowsBetween(w.unboundedPreceding, -1)
    cand.withColumn("__prev", max(col("__y")).over(wPrev))
      .filter(col("__prev").isNull || col("__y") > col("__prev"))
      .select(col("__x").as("min_value"), col("__y").as("max_value"),
        col("n_rows"))
  }

  /** INCLUSION-DEPENDENCY profile — the cross-table companion of
    * [[fdProfile]] (Bauckmann et al.'s SPIDER problem, profiled not
    * discovered: callers name candidate column pairs, the profile measures
    * them): for each candidate lhs ⊆ rhs, the count of DISTINCT lhs values,
    * how many appear in rhs, the floored-ppm containment, and the pass
    * flag — the referential-integrity audit run before trusting a join key
    * (a 0.98-containment "foreign key" silently drops 2% of facts in every
    * downstream inner join). NULLs are excluded on both sides (SQL
    * foreign-key semantics: NULL references nothing).
    *
    * Scale shape: per candidate, two distinct projections (map-side
    * combinable to the value domain) and ONE left join on the value —
    * value-domain-sized relations only; the candidate results union into a
    * |candidates|-row report. Values compare as strings so cross-type
    * candidates (bigint key ⊆ varchar key) behave identically on any
    * engine. */
  def inclusionProfile(
      candidates: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame = {
    require(candidates.nonEmpty, "inclusion candidates required")
    candidates.map { case (name, lhs, lcol, rhs, rcol) =>
      val l = lhs.select(col(lcol).cast("string").as("__v"))
        .filter(col("__v").isNotNull).distinct()
      val r = rhs.select(col(rcol).cast("string").as("__v"))
        .filter(col("__v").isNotNull).distinct()
        .withColumn("__hit", lit(1L))
      l.join(r, Seq("__v"), "left")
        .agg(count(lit(1)).as("n_lhs"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_contained"))
        .select(lit(name).as("ind"), col("n_lhs"),
          coalesce(col("n_contained"), lit(0L)).as("n_contained"),
          // CASE-guard: an empty / all-NULL lhs would divide by zero
          // (an error under ANSI mode) — NULL containment instead
          expr("CASE WHEN n_lhs > 0 THEN (1000000 * n_contained)" +
            " div n_lhs END").as("containment_ppm"),
          (coalesce(col("n_contained"), lit(0L)) === col("n_lhs"))
            .as("ind_ok"))
    }.reduce(_.unionByName(_)).orderBy("ind")
  }

  /** MANN–WHITNEY U rank-sum test (two-sided normal approximation with
    * tie-corrected variance) — the nonparametric sibling of the
    * experiment-eval family: does the `flag` group's value distribution
    * stochastically dominate the rest, with no normality assumption the
    * t-based panels (power/CUPED) lean on. All rank arithmetic is EXACT
    * INTEGER on the value domain: ranks are midranks in HALF-UNITS
    * (2·rank is an integer even under ties), the rank-sum and the tie
    * term Σ(t³−t) are integer sums, and only the final z divides in
    * double (engine-identical given identical integers, rounded 4dp).
    *
    *   U_a = R_a − n_a(n_a+1)/2,   E[U] = n_a·n_b/2,
    *   Var[U] = n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1)))
    *
    * Scale shape: one corpus scan into a VALUE-DOMAIN count agg (t, t_a
    * per distinct value); the cumulative-rank window runs on the value
    * domain, not the corpus — bounded by distinct quantized values (the
    * documented unpartitioned-window class; cents of a bounded metric ≤
    * 1e5ish rows, re-check the bound if the metric's domain grows at
    * 100×); the final reduction is a 1-row aggregate. */
  def mannWhitneyU(df: DataFrame, valueQ: Column, flag: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val byVal = df.select(valueQ.cast("long").as("__v"),
        when(flag, 1L).otherwise(0L).as("__a"))
      .groupBy("__v")
      .agg(count(lit(1)).as("__t"), sum("__a").as("__ta"))
    // value-domain bound: one row per distinct quantized value
    val ranked = byVal.withColumn("__cum",
      coalesce(sum("__t").over(w.orderBy("__v")
        .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__mid2", col("__cum") * 2L + col("__t") + 1L)
    ranked.agg(
        sum(col("__ta")).as("__na"),
        sum(col("__t") - col("__ta")).as("__nb"),
        sum(col("__ta") * col("__mid2")).as("__ra2"),
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ties"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        // 2U_a = 2R_a − 2·n_a(n_a+1)/2 = __ra2 − ... kept in half-units
        ((col("__ra2") - col("__na") * (col("__na") + 1L)) / 2.0).as("u_a"),
        round(
          ((col("__ra2") - col("__na") * (col("__na") + 1L)) / 2.0 -
            col("__na").cast("double") * col("__nb").cast("double") / 2.0) /
          sqrt(col("__na").cast("double") * col("__nb").cast("double") / 12.0 *
            ((col("__na") + col("__nb") + 1L).cast("double") -
              col("__ties").cast("double") /
                ((col("__na") + col("__nb")).cast("double") *
                 (col("__na") + col("__nb") - 1L).cast("double")))),
          4).as("z"))
  }

  /** l-DIVERSITY audit — the refinement k-anonymity needs before a table
    * ships (Machanavajjhala et al. 2007): a quasi-identifier group of 50
    * rows is 50-anonymous yet leaks everything if all 50 share one
    * sensitive value. Per group: row count, DISTINCT sensitive-value
    * count, and the pass flag `n_distinct >= l`. NULL sensitive values
    * count as a value of their own (distinct() semantics on both
    * engines): "unknown" still partitions the group. One shuffle on the
    * quasi key with a two-phase distinct — the [[kAnonymity]] plan plus a
    * distinct column; the audits compose by joining on the quasi key. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty && l >= 2, s"quasiCols=$quasiCols l=$l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("__nd_nonnull"),
        max(col(sensitiveCol).isNull.cast("long")).as("__has_null"))
      .withColumn("n_distinct", col("__nd_nonnull") + col("__has_null"))
      .select(quasiCols.map(col) :+ col("n") :+ col("n_distinct") :+
        (col("n_distinct") >= l).as("l_ok"): _*)
  }

  /** t-CLOSENESS audit — the last rung of the release ladder
    * ([[kAnonymity]] → [[lDiversity]] → this; Li, Li & Venkatasubramanian
    * 2007): a group can be diverse yet still leak when its sensitive
    * DISTRIBUTION deviates from the table's (all-high balances in one
    * quasi group identifies the rich). Distance is the Earth Mover's
    * Distance over the ORDERED sensitive domain with unit adjacent-value
    * ground distance, normalized to [0,1] by (m−1) — the paper's numeric-
    * attribute form, equal to the mean absolute CDF gap. Exact integers:
    * |cumP/n_g − cumQ/n| rides the common denominator n_g·n, summed in
    * decimal(38,0), floored to ppm by `div`.
    *
    * Scale shape: the sensitive-domain relation (m distinct values) is
    * TINY and broadcasts; the grid is groups × m rows (never corpus-
    * sized); the corpus contributes two map-side-combinable aggregates.
    * The per-group cumulative window is partitioned by the quasi key and
    * m-bounded. NULL sensitive values are rejected up front — NULL
    * orders first in Spark and last in DuckDB, so a silent NULL domain
    * value would diverge across engines; bucket NULLs explicitly before
    * auditing. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, tPpm: Long): DataFrame = {
    require(quasiCols.nonEmpty && tPpm > 0, s"quasiCols=$quasiCols t=$tPpm")
    val keys = quasiCols.map(col)
    val s = col(sensitiveCol)
    val guarded = df.select(keys :+
      when(s.isNull, raise_error(lit("tCloseness: NULL sensitive value — " +
        "bucket NULLs explicitly before auditing"))).otherwise(s).as("__v"): _*)
    val domain = guarded.groupBy(col("__v")).agg(count(lit(1)).as("__q"))
    // single-partition sort bound: m = distinct sensitive values (the
    // audit's value domain), never the audited rows
    val wGlob = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val globCum = domain // m rows: domain value → global cumulative count
      .select(col("__v"), sum(col("__q")).over(wGlob).as("__cq"),
        count(lit(1)).over(Window.partitionBy()).as("__m"),
        sum(col("__q")).over(Window.partitionBy()).as("__n"))
    val groupVal = guarded.groupBy(keys :+ col("__v"): _*)
      .agg(count(lit(1)).as("__p"))
    val groups = groupVal.groupBy(keys: _*).agg(sum(col("__p")).as("__ng"))
    // groups × m grid, then the group-side cumulative over the m values
    val grid = groups.crossJoin(broadcast(globCum))
      .join(groupVal, quasiCols :+ "__v", "left")
      .withColumn("__cp", coalesce(
        sum(col("__p")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(keys: _*).orderBy("__v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(0L)))
    grid.groupBy(keys: _*)
      .agg(max(col("__ng")).as("n"),
        sum(abs(col("__cp").cast("decimal(19,0)") * col("__n")
          - col("__cq").cast("decimal(19,0)") * col("__ng"))).as("__num"),
        max(col("__m")).as("__m2"), max(col("__n")).as("__n2"))
      .select(keys :+ col("n") :+
        when(col("__m2") > 1,
          expr("(CAST(1000000 AS DECIMAL(38,0)) * __num)" +
            " div ((__m2 - 1) * (CAST(n AS DECIMAL(19,0)) * __n2))"))
          .otherwise(lit(0L)).cast("long").as("t_ppm"): _*)
      .withColumn("t_ok", col("t_ppm") <= tPpm)
  }

  /** Gate-attrition report over boolean rule columns, in DECLARED gate
    * order — the pipeline-observability panel behind every curation
    * decision ("which gate is doing the killing, and does gate 4 still
    * matter after gates 1–3?"): per gate its marginal kill count (rows
    * failing it regardless of the others), its attributed kill count
    * (rows that PASSED every earlier gate and die here — first-failure
    * attribution, so attributed counts sum to total kills), and the
    * survivor count after it. All counts fold into ONE wide aggregate —
    * one corpus pass however many gates, the expectations-suite shape —
    * then a |gates|-row reshape. A NULL gate flag counts as FAIL
    * (coalesced to false): under raw three-valued logic a NULL would be
    * neither killed nor surviving, silently breaking the
    * attributed-counts-sum-to-total-kills invariant on nullable flag
    * columns. */
  def gateAttrition(flags: DataFrame, gateCols: Seq[String]): DataFrame = {
    require(gateCols.nonEmpty, "at least one gate")
    def gate(g: String) = coalesce(col(g), lit(false))
    val aggs =
      count(lit(1)).as("__n_in") +:
        gateCols.zipWithIndex.flatMap { case (g, i) =>
          val before = gateCols.take(i).map(gate).foldLeft(lit(true))(_ && _)
          Seq(
            sum(when(!gate(g), 1L).otherwise(0L)).as(s"__marg_$i"),
            sum(when(before && !gate(g), 1L).otherwise(0L)).as(s"__kill_$i"),
            sum(when(before && gate(g), 1L).otherwise(0L)).as(s"__surv_$i"))
        }
    val wide = flags.agg(aggs.head, aggs.tail: _*)
    val arms = gateCols.zipWithIndex.map { case (g, i) =>
      s"${i + 1}L, '$g', __marg_$i, __kill_$i, __surv_$i"
    }.mkString(", ")
    wide.selectExpr("__n_in AS n_in",
      s"stack(${gateCols.size}, $arms)" +
        " AS (ord, gate, n_fail_marginal, n_killed_here, n_survive_after)")
      .select(col("ord"), col("gate"), col("n_in"),
        col("n_fail_marginal"), col("n_killed_here"), col("n_survive_after"))
  }

  /** Gap detection over an id sequence WITHOUT a global sort: a gap
    * start is `id+1` where that id is absent (and id isn't the max), a
    * gap end is `id−1` where absent likewise — two id-keyed LEFT ANTI
    * self-joins, each a plain shuffle join of the corpus against itself.
    * Only the boundary relation (gaps-sized — tiny for mostly-contiguous
    * ingest ids, which is who runs this audit) passes through the
    * pairing window that zips the i-th start with the i-th end. Returns
    * (gap_start, gap_end, gap_len). Duplicate ids are collapsed first
    * (a gap audit is about coverage, not multiplicity). */
  /** Two-sample Kolmogorov–Smirnov statistic between groups `ga` and `gb`
    * of a money-ish column, EXACT on the cents-quantized domain: group to
    * distinct-cents grain first, then walk the combined CDF. One row:
    * (n_a, n_b, ks_bp) with ks = max |F_a - F_b| in floored basis points.
    * The drift-audit companion of the PSI lane — KS needs no binning
    * choice and is sensitive anywhere in the distribution, not just where
    * bins were drawn.
    *
    * Scale shape: the corpus reduces to DISTINCT-CENTS grain in one
    * map-side-combinable aggregate, so the CDF window runs over the VALUE
    * DOMAIN (bounded: a 2-dp column spanning [0, 1e6) has ≤ 1e8 distinct
    * cents regardless of row count — and real money columns far fewer).
    * Products ride decimal(38,0): cum·n reaches ~1e24 at 1e12-row
    * groups. */
  def ksStatistic(df: DataFrame, groupCol: String, valueCol: String,
                  ga: String, gb: String): DataFrame = {
    val c = round(col(valueCol) * 100, 0).cast("long")
    val counts = df.filter(col(groupCol).isin(ga, gb) && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), c.as("__v"))
      .groupBy("__v")
      .agg(sum(when(col("__g") === ga, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === gb, 1L).otherwise(0L)).as("__cb"))
    // single-partition sort bound: distinct cents values (exact-cents
    // value domain — can reach 1e7+ at 100×; bin to a coarser grid
    // upstream if the domain outgrows a partition)
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = counts.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
    counts
      .select(col("__v"),
        sum("__ca").over(w).as("__cuma"), sum("__cb").over(w).as("__cumb"))
      .crossJoin(broadcast(tot))
      // |F_a - F_b| cleared of denominators: |cuma·nb - cumb·na|
      .select(col("__na"), col("__nb"),
        expr("abs(CAST(__cuma AS DECIMAL(38,0)) * __nb" +
          " - CAST(__cumb AS DECIMAL(38,0)) * __na)").as("__d"))
      .agg(max("__na").as("n_a"), max("__nb").as("n_b"),
        max("__d").as("__dmax"))
      .select(coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          expr("CAST(__dmax * 10000 div (CAST(n_a AS DECIMAL(38,0)) * n_b)" +
            " AS BIGINT)"))
          .otherwise(lit(0L)).as("ks_bp"))
  }

  /** Chi-square independence test between two categorical columns, exact
    * in floored micro units: χ²·1e6 = Σ_cells ((O·N − R·C)² · 1e6) div
    * (R·C·N) over the FULL margin grid (zero-observed cells included —
    * they carry expected mass). One row: (n, dof, chi2_micro).
    *
    * Scale shape: the corpus reduces to cell grain in one aggregate; the
    * grid is a margins×margins cross join (category-cardinality², tiny);
    * everything downstream is grid-sized. Exactness bound: the scaled
    * squared term reaches N⁴·1e6, so decimal(38,0)/HUGEINT arithmetic is
    * exact to N ≈ 1e8 rows — past that, run it on a deterministic sample
    * (the statistic converges anyway; the audit question is "dependent
    * or not", not its 10th digit). */
  def chiSquare(df: DataFrame, colA: String, colB: String): DataFrame =
    chiSquareKernel(df, colA, colB)
      .select(col("n"), col("dof"), col("chi2_micro"))

  /** The shared cell kernel behind [[chiSquare]] and
    * [[graft.operators.Stats.cramersV]]: one corpus scan into the cached
    * cell relation, the full marginal grid (absent cells count 0), and
    * the micro-truncated chi sum — plus the two marginal cardinalities,
    * which V needs and the plain chi2 row does not ship. */
  private[operators] def chiSquareKernel(df: DataFrame, colA: String,
                                         colB: String): DataFrame = {
    val cells = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__x"), col(colB).as("__y"))
      .agg(count(lit(1)).as("__o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ra = cells.groupBy("__x").agg(sum("__o").as("__r"))
    val cb = cells.groupBy("__y").agg(sum("__o").as("__c"))
    val tot = cells.agg(sum("__o").as("__n"))
    val dofs = ra.agg(count(lit(1)).as("__ka"))
      .crossJoin(cb.agg(count(lit(1)).as("__kb")))
    ra.crossJoin(cb)
      .join(cells, Seq("__x", "__y"), "left")
      .select(col("__r"), col("__c"), coalesce(col("__o"), lit(0L)).as("__o"))
      .crossJoin(broadcast(tot))
      .select(col("__n"),
        expr("CAST(__o AS DECIMAL(38,0)) * __n" +
          " - CAST(__r AS DECIMAL(38,0)) * __c").as("__d"),
        col("__r"), col("__c"))
      .select(col("__n"),
        expr("__d * __d * 1000000" +
          " div (CAST(__r AS DECIMAL(38,0)) * __c * __n)").as("__t"))
      .agg(max("__n").as("__n2"), sum("__t").as("__chi"))
      .crossJoin(broadcast(dofs))
      .select(coalesce(col("__n2"), lit(0L)).cast("long").as("n"),
        ((col("__ka") - 1) * (col("__kb") - 1)).cast("long").as("dof"),
        coalesce(col("__chi"), lit(0L)).cast("long").as("chi2_micro"),
        col("__ka").cast("long").as("k_a"), col("__kb").cast("long").as("k_b"))
  }

  /** Gini concentration index of a NONNEGATIVE money-ish column, exact on
    * the cents-quantized domain and in floored parts-per-million:
    * G = (2·Σᵢ rankᵢ·xᵢ − (N+1)·Σx) / (N·Σx) with ascending ranks —
    * computed from distinct-cents grain via the grouped-data identity
    * (ranks of a tied block expand to nᵢ·(Cᵢ₋₁) + nᵢ(nᵢ+1)/2), so no
    * per-row ranking ever happens. One row: (n, sum_cents, gini_ppm).
    *
    * Scale shape: same as [[ksStatistic]] — one aggregate to value-domain
    * grain, a domain-bounded CDF window, decimal(38,0) products (v·n² at
    * 1e7 cents × 1e12 rows ~ 1e31, inside decimal38). For DERIVED values
    * with unbounded domains (per-key sums), bin to cents of a fixed grid
    * first — the identity is exact for any quantization you choose. */
  def giniIndex(df: DataFrame, valueCol: String): DataFrame = {
    val c = round(col(valueCol) * 100, 0).cast("long")
    val counts = df.filter(col(valueCol).isNotNull)
      .select(c.as("__v")).groupBy("__v").agg(count(lit(1)).as("__n"))
    // single-partition sort bound: distinct cents values — the same
    // value-domain bound (and the same bin-first escape) as ksStatistic;
    // the scaladoc's quantization note applies
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = counts.agg(sum("__n").as("__N"),
      sum(expr("CAST(__v AS DECIMAL(38,0)) * __n")).as("__S"))
    counts
      .select(col("__v"), col("__n"), sum("__n").over(w).as("__C"))
      // 2·Σ rank·x expanded per tied block: v·(2n(C−n) + n(n+1)); the
      // inner products go decimal BEFORE multiplying — n·C wraps a Long
      // past ~2e9 rows
      .select(expr("CAST(__v AS DECIMAL(38,0))" +
        " * (2 * CAST(__n AS DECIMAL(38,0)) * (__C - __n)" +
        "    + CAST(__n AS DECIMAL(38,0)) * (__n + 1))").as("__t"))
      .agg(sum("__t").as("__T2"))
      .crossJoin(broadcast(tot))
      .select(coalesce(col("__N"), lit(0L)).as("n"),
        coalesce(col("__S"), lit(0L)).cast("long").as("sum_cents"),
        when(col("__N") > 0 && col("__S") > 0,
          expr("CAST((__T2 - (CAST(__N AS DECIMAL(38,0)) + 1) * __S)" +
            " * 1000000 div (CAST(__N AS DECIMAL(38,0)) * __S) AS BIGINT)"))
          .otherwise(lit(0L)).as("gini_ppm"))
  }

  /** Equi-depth histogram — the optimizer's column statistic: `nBuckets`
    * buckets holding ~equal row counts, boundaries learned from a
    * deterministic `samplePct`% Knuth-hash sample of `idCol` and applied
    * to the FULL relation. Output: (bucket 1..nBuckets, n_rows).
    *
    * Two-pass scale shape: (1) the boundary pass sorts only the SAMPLE
    * (the single-partition ntile window is sample-bounded by
    * construction — at 100 TB you cap the sample, not the corpus);
    * the k boundary rows come to the driver (the pcaTrain convention:
    * driver-side math on an aggregate bounded by a parameter, never by
    * data); (2) the assignment pass is a scan-side codegen'd when-chain —
    * zero joins, zero extra shuffles over the corpus. Rows above the top
    * sampled boundary clamp into bucket `nBuckets` (the catch-all the
    * oracle mirrors with a LEFT JOIN + coalesce). */
  def equiDepthHistogram(df: DataFrame, valueCol: String, idCol: Column,
                         nBuckets: Int, samplePct: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    // boundaries are read driver-side as doubles, so the sample projects
    // __v to double up front — any numeric valueCol (long/int/decimal)
    // works; ordering is unchanged for magnitudes below 2^53
    val sample = df.filter(Curation.knuthHash(idCol, 100L) < samplePct)
      .select(col(valueCol).cast("double").as("__v"), idCol.as("__id"))
    // single-partition sort bound: the samplePct% sample — the caller's
    // knob; size samplePct so the sample fits one partition (boundary
    // precision needs only ~1e5 rows/bucket, so 100 TB wants a far
    // smaller pct than the sf0.1 default)
    val w = Window.orderBy(col("__v"), col("__id"))
    val bounds = sample.withColumn("__b", ntile(nBuckets).over(w))
      .groupBy("__b").agg(max("__v").as("__hi"))
      .orderBy("__b")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    // fold over ALL bounds (first matching ascending boundary wins ≡ the
    // oracle's min(b) over v<=hi); only values above the top sampled
    // boundary fall through to the catch-all — so a degenerate sample
    // with fewer tiles than nBuckets still agrees with the oracle
    val assign = bounds.foldRight(lit(nBuckets.toLong)) {
      case ((b, hi), rest) => when(col(valueCol) <= hi, lit(b.toLong)).otherwise(rest)
    }
    df.select(assign.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
  }

  def idGaps(df: DataFrame, idCol: String): DataFrame = {
    val ids = df.select(col(idCol).cast("long").as("id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = ids.agg(min("id").as("__mn"), max("id").as("__mx"))
    val present = ids.select(col("id").as("pid"))
    val starts = ids.crossJoin(broadcast(bounds))
      .filter(col("id") < col("__mx"))
      .select((col("id") + 1).as("cand"))
      .join(present, col("cand") === col("pid"), "left_anti")
      .select(col("cand").as("pos"), lit(0).as("side")) // 0 = start
    val ends = ids.crossJoin(broadcast(bounds))
      .filter(col("id") > col("__mn"))
      .select((col("id") - 1).as("cand"))
      .join(present, col("cand") === col("pid"), "left_anti")
      .select(col("cand").as("pos"), lit(1).as("side")) // 1 = end
    val w = Window.partitionBy("side").orderBy("pos")
    starts.unionByName(ends)
      .withColumn("__rn", row_number().over(w))
      .groupBy("__rn")
      .agg(min(when(col("side") === 0, col("pos"))).as("gap_start"),
        min(when(col("side") === 1, col("pos"))).as("gap_end"))
      .select(col("gap_start"), col("gap_end"),
        (col("gap_end") - col("gap_start") + 1).as("gap_len"))
  }

  /** Benford first-digit panel over a positive integer measure: observed
    * leading-digit counts and shares vs the Benford expectation
    * `log10(1 + 1/d)` — the classic fabricated-/degenerate-data smell
    * test for value columns (organic multi-scale measures follow it;
    * uniform or hand-typed ones don't). Expected shares are FLOORED-bp
    * literals computed once in Scala and embedded in both engines — no
    * cross-engine log10 to disagree. The leading digit comes from the
    * long's decimal string head — identical formatting on both engines
    * for positive longs. One tiny 9-row agg; zero joins.  */
  /** Floored-bp Benford shares, the single source of truth both the
    * engine and the oracle twin embed as literals. */
  private[graft] val benfordExpectedBp: Map[Int, Long] = (1 to 9).map(d =>
    d -> math.floor(10000 * math.log10(1.0 + 1.0 / d)).toLong).toMap

  def benfordPanel(df: DataFrame, valueCol: String): DataFrame = {
    val expBp = benfordExpectedBp
    val expArm = (1 to 9).map { d =>
      s"WHEN $d THEN ${expBp(d)}L"
    }.mkString(" ")
    val digits = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(substring(col(valueCol).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum("n").as("__tot"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("(10000 * n) div __tot").as("obs_bp"),
        expr(s"CASE digit $expArm END").as("exp_bp"))
  }

  /** Decade (log₁₀-scale) histogram of a positive integer measure — the
    * latency/size panel where fixed-width bins are useless because the
    * data spans orders of magnitude. The decade of a positive long is
    * its DIGIT COUNT minus one (the [[benfordPanel]] string-head trick)
    * — exact and engine-identical, no float log to round differently.
    * Emits per (group, decade): count, min, max — the span columns show
    * where inside the decade the mass sits. Zero/negative/null values
    * are excluded by contract (they have no decade). One class-grain
    * count agg; output ≤ groups×19 rows. */
  def decadeHistogram(df: DataFrame, groupCol: String,
                      valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(col(groupCol),
        (length(col(valueCol).cast("long").cast("string")) - 1)
          .cast("long").as("decade"),
        col(valueCol).cast("long").as("__v"))
      .groupBy(col(groupCol), col("decade"))
      .agg(count(lit(1)).as("n"), min("__v").as("min_val"),
        max("__v").as("max_val"))

  /** Per-group weighted median of an integer value column: the smallest
    * value whose running weight reaches half the group's total
    * (`2·cumw ≥ totw` — the lower weighted median, deterministic under
    * ties by the value ordering itself). The robust-aggregation
    * primitive a mean can't provide when weights are token counts and a
    * few giant documents would otherwise drag the center. One key
    * exchange; the cumulative sum and total share the single window
    * pass.  */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
                     weightCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col(groupCol))
      .orderBy(col(valCol)).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col(groupCol))
    df.select(col(groupCol), col(valCol), col(weightCol))
      .filter(col(weightCol) > 0)
      .withColumn("__cum", sum(col(weightCol)).over(wOrd))
      .withColumn("__tot", sum(col(weightCol)).over(wAll))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(col(groupCol))
      .agg(min(col(valCol)).as("weighted_median"),
        max(col("__tot")).as("total_weight"))
  }

  /** Enforcement: drop every row whose quasi-identifier class is smaller
    * than `k` (suppression — the conservative fix; generalization ladders
    * are a policy layer above this primitive). The violating-class
    * relation is classes-sized and attaches as a broadcast LEFT ANTI —
    * the corpus never shuffles. */
  def kAnonymitySuppress(df: DataFrame, quasiCols: Seq[String],
                         k: Long): DataFrame = {
    val bad = kAnonymity(df, quasiCols, k).filter(col("violates"))
      .select(quasiCols.map(col): _*)
    df.join(broadcast(bad), quasiCols, "left_anti")
  }

  /** Poisson-bootstrap machinery: the scale-correct bootstrap. A classic
    * resample draws n rows WITH replacement — at 100 TB that is B full
    * shuffles of the corpus. The Poisson bootstrap (the standard
    * large-data substitute: multinomial(n, 1/n) per-row counts converge
    * to independent Poisson(1)) instead gives every row a deterministic
    * per-resample weight c ~ Poisson(1), so all B resamples ride ONE
    * corpus scan and the shuffle carries B partial-sum rows per task.
    *
    * Determinism contract (the CMS pattern): ONE md5-lane base digest per
    * row behind a projection boundary, then one affine universal-hash row
    * per resample `u_j = (a_j·h + c_j) mod P` (P = 2^31−1, a_j < 2^30 so
    * the product never overflows a long), mapped to a count through the
    * Poisson(1) inverse CDF quantized onto [0, P). Counts truncate at 8
    * (P(X>8) ≈ 1.1e-6 — bias far below resampling noise). The (a_j, c_j)
    * params and CDF thresholds are computed once here and embedded in
    * BOTH engines, so every resample hash-matches the DuckDB twin. */
  private[graft] val BootP = 2147483647L // 2^31 − 1
  private[graft] def bootRowParams(resamples: Int): Seq[(Long, Long)] = {
    val k0 = 0x94d049bbL % BootP
    (0 until resamples).map { j =>
      val a = ((0x9e3779b9L * (2L * j + 1L)) & 0x3FFFFFFFL) | 1L
      val c = (k0 * (j + 1L)) % BootP
      (a, c)
    }
  }
  /** Cumulative Poisson(1) thresholds t_0..t_7 on [0, P): count = first k
    * with u < t_k, else 8. */
  private[graft] val bootThresholds: Seq[Long] = {
    var p = math.exp(-1.0)
    var cum = 0.0
    (0 to 7).map { k =>
      if (k > 0) p = p / k
      cum += p
      math.floor(cum * BootP).toLong
    }
  }
  private def bootCount(u: Column): Column =
    bootThresholds.zipWithIndex.foldRight(lit(8L): Column) {
      case ((t, k), els) => when(u < t, lit(k.toLong)).otherwise(els)
    }

  /** Per-resample replicate statistics for the mean of an exact-cents
    * metric: B rows (b, n_eff, sum_cents, mean_ccents) where mean is the
    * floored centi-cent integer division — the replicate distribution a
    * caller turns into standard errors or a percentile CI
    * ([[poissonBootstrapCI]]). `idCol` must be unique per row (the
    * resample identity); `valueCents` an integral Column. One corpus
    * scan, ×B scan-side explode into a map-side-combinable agg — the
    * shuffle is tasks×B partial rows regardless of corpus size. */
  def poissonBootstrap(df: DataFrame, idCol: Column, valueCents: Column,
                       resamples: Int): DataFrame = {
    require(resamples >= 2 && resamples <= 256, s"resamples=$resamples")
    // one straight-line aggregate with 2B sum columns instead of a ×B
    // posexplode: the exploded form materialized B× the corpus into the
    // partial agg (measured 6.9 s at sf0.1 for B=40; this shape runs the
    // same ladder arithmetic inside ONE codegen'd row pass and shuffles a
    // single 2B-column partial row per task)
    // the projection boundary pins the digest to ONE evaluation per row
    // (the CMS lesson — inlining md5 into each count column re-evaluates
    // it B times)
    val wide = df
      .select(graft.operators.Sketches.md5Hash32(idCol).as("__h"),
        valueCents.cast("long").as("__x"))
      .select(col("__x") +:
        bootRowParams(resamples).zipWithIndex.map { case ((a, c), j) =>
          bootCount(pmod(col("__h") * a + c, lit(BootP))).as(s"__c$j")
        }: _*)
    val aggs = (0 until resamples).flatMap { j =>
      Seq(sum(col(s"__c$j")).as(s"__n$j"),
        sum(col(s"__c$j").cast("decimal(38,0)") * col("__x")).as(s"__sx$j"))
    }
    val stacked = explode(array((0 until resamples).map { j =>
      struct(lit(j.toLong).as("b"), col(s"__n$j").as("n_eff"),
        col(s"__sx$j").as("__sx"))
    }: _*)).as("r")
    wide.agg(aggs.head, aggs.tail: _*)
      .select(stacked)
      .select(col("r.b").as("b"), col("r.n_eff").as("n_eff"),
        col("r.__sx").cast("long").as("sum_cents"),
        expr("(100 * r.__sx) div r.n_eff").as("mean_ccents"))
  }

  /** WEIGHT-OF-EVIDENCE / INFORMATION-VALUE panel — the credit-scoring
    * diagnostic for "how much does this binned feature separate the
    * classes", the supervised sibling of [[populationStability]] (same
    * bucket grammar, label-aware): per bin, WOE = ln(share⁺/share⁻) and
    * its IV contribution (share⁺ − share⁻)·WOE, add-one smoothed so empty
    * cells stay finite (the Naive-Bayes convention — and exactly the NB
    * log-likelihood-ratio of the bin, which is why a features-screening
    * pass sums iv_micro per candidate feature and keeps the top ones).
    * Integer micro-units via the round(ln·1e6) lane q_nb_classify proved
    * cross-engine.
    *
    * Scale shape: ONE bin-grain aggregate (map-side combinable, output
    * bins-sized), a 1-row totals broadcast back — the corpus never
    * shuffles twice. NULL bins drop; NULL labels count negative (the
    * CASE-ELSE convention, matching the SQL twin). */
  def woePanel(df: DataFrame, binCol: Column, labelCol: Column): DataFrame = {
    val bins = df.select(binCol.cast("long").as("bin"),
        labelCol.cast("boolean").as("__pos"))
      .filter(col("bin").isNotNull)
      .groupBy("bin")
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("n_neg"))
    val tot = bins.agg(sum("n_pos").cast("long").as("__tp"),
      sum("n_neg").cast("long").as("__tn"), count(lit(1)).as("__b"))
    val ratio = ((col("n_pos") + 1L).cast("double") * (col("__tn") + col("__b"))) /
      ((col("n_neg") + 1L).cast("double") * (col("__tp") + col("__b")))
    val shareDiff = (col("n_pos") + 1L).cast("double") / (col("__tp") + col("__b")) -
      (col("n_neg") + 1L).cast("double") / (col("__tn") + col("__b"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_pos"), col("n_neg"),
        round(log(ratio) * 1e6, 0).cast("long").as("woe_micro"),
        round(shareDiff * log(ratio) * 1e6, 0).cast("long").as("iv_micro"))
  }

  /** EXPERIMENT POWER / SAMPLE-SIZE row — "how many units per arm before
    * this metric can detect a Δ?": n = ⌈2·(z_α/2 + z_β)²·σ² / Δ²⌉, the
    * two-sample normal-approximation workhorse. σ² comes EXACTLY from the
    * cents domain (the olsTrend decimal lane: n·Σx² − (Σx)² over n·(n−1));
    * the z constants are compile-time literals (α = 5% two-sided,
    * power 80% → (1.959964 + 0.841621)² — embedded micro-scaled in both
    * engines, never recomputed). Output one row:
    * (n_units, mean_cents, var_cents2, mde_cents, n_per_arm). All
    * integer arithmetic — the ceiling division is exact.
    *
    * Scale shape: ONE map-side-combinable 3-sum aggregate; everything
    * after is 1-row math. */
  val PowerZSumSqMicro: Long = {
    val z = 1.959964 + 0.841621 // z_{0.025} + z_{0.20}
    math.round(z * z * 1e6) // 7849174
  }
  def powerSampleSize(df: DataFrame, valueCents: Column,
                      mdeCents: Long): DataFrame = {
    require(mdeCents > 0, s"mdeCents=$mdeCents")
    // the ceiling-division constants precompute in Scala (SQL int literals
    // would overflow INT before widening)
    val zz2 = 2L * PowerZSumSqMicro
    val den = mdeCents * mdeCents * 1000000L
    df.select(valueCents.cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .agg(count(lit(1)).as("n_units"),
        sum(col("__x").cast("decimal(38,0)")).as("__s1"),
        sum((col("__x") * col("__x")).cast("decimal(38,0)")).as("__s2"))
      .select(col("n_units"),
        expr("__s1 div n_units").as("mean_cents"),
        expr("(n_units * __s2 - __s1 * __s1) div (n_units * (n_units - 1))")
          .as("var_cents2"),
        lit(mdeCents).as("mde_cents"))
      // ceil(2·zz·σ² / Δ²): numerator rides DECIMAL(38,0) — 2·zz_micro·σ²
      // overflows a long at realistic cent variances
      .withColumn("n_per_arm",
        expr(s"($zz2 * CAST(var_cents2 AS DECIMAL(38,0)) + $den - 1) " +
          s"div $den"))
  }

  /** POST-STRATIFICATION estimator — reweight a metric's per-stratum means
    * to REFERENCE stratum shares (the survey-sampling fix for "our sample
    * over-represents stratum X"): ps_mean = Σ_s share_s·mean_s with shares
    * from the reference relation in basis points. Reports the naive mean
    * beside it; the gap is the composition-shift bias the naive readout
    * hides (the estimator twin of the PSI drift alarm). Exact integers:
    * per-stratum means floored to centi-cents, share weights in bp,
    * one floored division at the end.
    *
    * Scale shape: one stratum-grain agg per relation (both map-side
    * combinable), strata-sized join, 1-row outputs. */
  def postStratifiedMean(df: DataFrame, stratumCol: Column,
                         valueCents: Column, reference: DataFrame,
                         refStratumCol: Column): DataFrame = {
    val cur = df.select(stratumCol.as("stratum"),
        valueCents.cast("long").as("__x"))
      .filter(col("stratum").isNotNull && col("__x").isNotNull)
    val curAgg = cur.groupBy("stratum")
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast("decimal(38,0)")).as("__s"))
    val ref = reference.select(refStratumCol.as("stratum"))
      .filter(col("stratum").isNotNull)
      .groupBy("stratum").agg(count(lit(1)).as("__rn"))
    val refTot = ref.agg(sum("__rn").cast("long").as("__rt"))
    val joined = curAgg.join(ref, Seq("stratum"))
      .crossJoin(broadcast(refTot))
      .select(
        expr("(10000 * __rn) div __rt").as("__w_bp"),
        expr("(100 * __s) div __n").as("__mean_cc"),
        col("__n"), col("__s"))
    joined.agg(
        sum("__n").cast("long").as("n_units"),
        expr("(100 * sum(__s)) div sum(__n)").as("naive_mean_ccents"),
        expr("sum(__w_bp * __mean_cc) div 10000").as("ps_mean_ccents"))
  }

  /** CALIBRATION PANEL (reliability diagram + per-bin ECE contribution) —
    * "when the scorer says 70%, is it right 70% of the time?": scores in
    * basis points bucket into `nBins` fixed-width bins; each bin reports
    * its exact mean claimed probability, observed positive rate, and
    * |gap|·n contribution (Σ contributions div N = the Expected
    * Calibration Error). The readout that decides whether a quality/
    * safety classifier's scores can gate by THRESHOLD or must first go
    * through [[Curation]]'s quantile calibration. All exact integer
    * arithmetic at bin grain; one map-side-combinable aggregate. */
  def calibrationPanel(df: DataFrame, scoreBpCol: Column, labelCol: Column,
                       nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 100, s"nBins=$nBins")
    val width = 10000L / nBins
    df.select(scoreBpCol.cast("long").as("__s"),
        labelCol.cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .withColumn("bin",
        least(expr(s"__s div $width"), lit(nBins - 1L)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        expr("sum(__s) div count(1)").as("mean_score_bp"),
        expr("(10000 * sum(CASE WHEN __y THEN 1 ELSE 0 END)) div count(1)")
          .as("obs_rate_bp"))
      .withColumn("ece_contrib",
        abs(col("mean_score_bp") - col("obs_rate_bp")) * col("n"))
  }

  /** SPLIT-CONFORMAL UPPER BOUND — the distribution-free "this metric
    * stays under T with probability ≥ level" gate (Vovk's conformal
    * prediction in its simplest, production-honest form): a deterministic
    * hash half becomes the calibration split, the threshold is the
    * ⌈(n+1)·level⌉-th ORDER STATISTIC of calibration values (the
    * finite-sample correction — a naive quantile under-covers), and the
    * other half reports empirical coverage, so the guarantee ships with
    * its own measurement.
    *
    * Scale shape: the exact order statistic rides the distinct-cents
    * value-domain reduction (the KS/Gini pattern) — counts per distinct
    * value, a domain-bounded cumulative window, smallest value whose
    * cumulative count reaches the rank. No corpus sort, no collect; the
    * rank constant broadcasts as a 1-row relation. `levelBp` in basis
    * points (9000 = 90%). Returns one row
    * (n_cal, k_rank, threshold_cents, n_eval, coverage_bp); if the rank
    * exceeds n_cal (tiny calibration sets) the threshold is NULL and
    * nothing covers. */
  def conformalUpperBound(df: DataFrame, idCol: Column, valueCents: Column,
                          levelBp: Long = 9000L): DataFrame = {
    require(levelBp > 0 && levelBp < 10000, s"levelBp=$levelBp")
    val marked = df.select(valueCents.cast("long").as("v"),
        (Curation.knuthHash(idCol, 100L) < 50L).as("cal"))
      .filter(col("v").isNotNull)
    val cal = marked.filter(col("cal"))
      .groupBy("v").agg(count(lit(1)).as("n"))
    // single-partition sort bound: distinct calibration cents values
    // (value domain), never the calibration rows
    val cum = cal.select(col("v"),
      sum(col("n")).over(Window.orderBy(col("v"))).as("cc"))
    val kk = cal.agg(sum("n").cast("long").as("n_cal"))
      .select(col("n_cal"),
        expr(s"((n_cal + 1) * $levelBp + 9999) div 10000").as("k_rank"))
    val thr = cum.crossJoin(broadcast(kk))
      .filter(col("cc") >= col("k_rank"))
      .agg(min("v").as("threshold_cents"))
    val ev = marked.filter(!col("cal")).crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("n_eval"),
        coalesce(sum(when(col("v") <= col("threshold_cents"), 1L)
          .otherwise(0L)), lit(0L)).as("__ncov"))
    kk.crossJoin(thr).crossJoin(ev)
      .select(col("n_cal"), col("k_rank"), col("threshold_cents"),
        col("n_eval"),
        when(col("n_eval") > 0, expr("(10000 * __ncov) div n_eval"))
          .otherwise(lit(0L)).as("coverage_bp"))
  }

  /** LEAVE-ONE-OUT TARGET ENCODING with prior smoothing — the categorical
    * feature transform for high-cardinality columns (domain, source,
    * author) where one-hot explodes and a plain category mean LEAKS the
    * row's own label: te(row) = (Σy(cat) − y_row + m·global_rate) /
    * (n(cat) − 1 + m), everything in exact integer micro-units. The LOO
    * subtraction is the leakage fix; the m-weighted prior keeps rare
    * categories from memorizing. NULL categories drop (no key to encode);
    * NULL labels count 0 (the CASE-ELSE convention).
    *
    * Scale shape: one category-grain aggregate + a 1-row global rate,
    * both joined back onto the scan (categories-sized relation —
    * broadcast when bounded, shuffle join beyond); the corpus is never
    * windowed or self-joined. */
  def targetEncode(df: DataFrame, idCol: Column, catCol: Column,
                   labelCol: Column, priorWeight: Int = 10): DataFrame = {
    require(priorWeight >= 1, s"priorWeight=$priorWeight")
    val b = df.select(idCol.as("id"), catCol.as("cat"),
      when(labelCol.cast("boolean"), 1L).otherwise(0L).as("__y"))
    val g = b.groupBy("cat")
      .agg(sum("__y").as("__s"), count(lit(1)).as("__n"))
    val gr = b.agg(expr("(1000000 * sum(__y)) div count(1)").as("__gr"))
    b.join(g, "cat").crossJoin(broadcast(gr))
      .select(col("id"), col("cat"),
        expr(s"((__s - __y) * 1000000 + $priorWeight * __gr) " +
          s"div (__n - 1 + $priorWeight)").as("te_micro"))
  }

  /** Percentile-method bootstrap CI over the replicate means: one row
    * (n_resamples, lo_ccents, median_ccents, hi_ccents) at the 1-based
    * order statistics ⌈0.025·B⌉ / ⌊(B+1)/2⌋ / ⌈0.975·B⌉ (exact rank
    * selection, no interpolation — engine-portable). The ranking window
    * is global but runs over the B-row replicate relation (B ≤ 256),
    * never the corpus — the bounded-window class. */
  def poissonBootstrapCI(df: DataFrame, idCol: Column, valueCents: Column,
                         resamples: Int): DataFrame = {
    val loR = math.max(1, math.ceil(0.025 * resamples).toInt)
    val hiR = math.min(resamples, math.ceil(0.975 * resamples).toInt)
    val medR = (resamples + 1) / 2
    val ranked = poissonBootstrap(df, idCol, valueCents, resamples)
      .select(col("mean_ccents"),
        // single-partition sort bound: B resample rows (B <= 256 — the
        // scaladoc's bounded-window note), never the corpus
        row_number().over(Window.orderBy(col("mean_ccents"), col("b"))).as("rn"))
    ranked.agg(count(lit(1)).as("n_resamples"),
      max(when(col("rn") === loR, col("mean_ccents"))).as("lo_ccents"),
      max(when(col("rn") === medR, col("mean_ccents"))).as("median_ccents"),
      max(when(col("rn") === hiR, col("mean_ccents"))).as("hi_ccents"))
  }
}
