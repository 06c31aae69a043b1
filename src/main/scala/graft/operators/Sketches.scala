package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches for corpus profiling — "how many distinct
  * tokens / users / shingles per partition of the corpus" is the first
  * question every data card answers, and at 100 TB the exact answer
  * (a `count(distinct …)` that shuffles every distinct value) is exactly
  * what a profiling pass must NOT pay. (Reference scope: the per-window
  * distinct-count fold of samza-hello-samza's TumblingPageViewCounter,
  * generalized to the bounded-sketch form a batch profiler needs.)
  *
  * One hash family, as in [[Dedup]]: md5-derived 32-bit hashes, which
  * the DuckDB oracle reproduces (both engines compute the identical
  * digest, so the sketch — and hence the ESTIMATE, a pure function of the
  * sketch — hash-matches). */
object Sketches {

  /** Portable 32-bit hash: the first 8 hex digits of md5, as a long in
    * [0, 2^32). Digit parse via ascii arithmetic ('0'-'9' are 48-57,
    * 'a'-'f' are 97-102, md5 is lowercase) — pure int ops inside
    * whole-stage codegen; codegen's subexpression elimination computes
    * the digest once per row. The DuckDB twin is the strpos-over-hex
    * polynomial (`kmvHash32Sql`). */
  private[graft] def md5Hash32(c: Column): Column =
    (0 until 8).map { i =>
      val a = ascii(substring(md5(c), i + 1, 1))
      val d = when(a >= 97, a - 87).otherwise(a - 48)
      d.cast("long") * (1L << (4 * (7 - i)))
    }.reduce(_ + _)

  /** Distinct-count estimate per group via a KMV sketch of the hashed
    * value column: one scan, bounded per-group state (k longs), estimate
    * `(k-1)·SPACE / h(k)` once the sketch is full, exact `|sketch|` while
    * it isn't (fewer than k distinct values seen ⇔ the sketch IS the
    * distinct set). Integer arithmetic end to end —
    * `(k-1)·2^32` stays far under 2^63 for any sane k, and `div` is exact
    * on both engines (no float rounding to disagree about).
    *
    * Standard error is ~1/√(k-2) (k=64 ≈ 13%, k=256 ≈ 6%) — the caller
    * picks k per column; the sketch is DETERMINISTIC, so reruns and
    * engines agree on the exact estimate, error and all
    * ([[graft.functions.KmvSketch]] for why HLL can't make that promise).
    *
    * Scale shape: hash is a scan-side codegen projection; the only
    * shuffle is the group-by whose partials are ≤ k longs each; output is
    * groups-sized. */
  def kmvDistinct(df: DataFrame, valueCol: String, groupCol: String,
                  k: Int): DataFrame = {
    require(k > 1, s"k must be >1 for the (k-1)/U(k) estimator: $k")
    val sketch = udaf(new graft.functions.KmvSketch(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val est = s"CAST(${(k - 1).toLong * 4294967296L} AS BIGINT) div element_at(kmv, $k)"
    df.select(col(groupCol), md5Hash32(col(valueCol)).as("h"))
      .groupBy(groupCol)
      .agg(sketch(col("h")).as("kmv"))
      .selectExpr(groupCol,
        s"CASE WHEN size(kmv) < $k THEN CAST(size(kmv) AS BIGINT) ELSE $est END AS est_distinct")
  }

  /** The DuckDB-side twin of [[md5Hash32]], over SQL expression `e`. */
  private[graft] def kmvHash32Sql(e: String): String =
    (0 until 8).map { i =>
      s"(strpos('0123456789abcdef', substr(md5($e), ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}"
    }.mkString(" + ")

  /** KMV SET ALGEBRA: union and intersection estimates for every ordered
    * pair of groups, computed entirely on the SKETCHES — the mergeable-
    * sketch property that makes distributed distinct-counting compose:
    * bottom-k(S_a ∪ S_b) IS the union's KMV sketch, and the fraction of
    * its members present in both input sketches estimates the Jaccard
    * (Beyer et al. 2007), so `|A∩B| ≈ ρ·|A∪B|`. Every estimator division
    * is integer (`div` — exact on both engines); exact-mode branch when
    * the merged sketch isn't full (it IS the union's distinct hash set).
    *
    * This is the scalable sibling of [[TextAnalysis.sourceOverlap]]: the
    * exact op re-shuffles the corpus's (source, shingle) relation per
    * audit; this one reads ONLY the groups×k sketch relation — the corpus
    * is never rescanned for any pair, which is the whole point of keeping
    * sketches as a maintained table (append of new data = sketch merge,
    * never a recount).
    *
    * Scale shape: one corpus scan into the bounded sketch agg; the pair
    * algebra (cross of group ids, union-explode, per-pair bottom-k rank,
    * membership flags) runs on groups²×k rows — for thousands of groups
    * that is millions of tiny rows, nothing corpus-scaled. */
  def kmvPairOverlap(df: DataFrame, valueCol: String, groupCol: String,
                     k: Int): DataFrame = {
    require(k > 1, s"k must be >1: $k")
    val h = md5Hash32(col(valueCol))
    val sketch = udaf(new graft.functions.KmvSketch(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val sk = df.select(col(groupCol).cast("string").as("g"), h.as("h"))
      .groupBy("g").agg(sketch(col("h")).as("kmv"))
      // the returned plan reads this cache from several branches (groups,
      // both union arms), so the operator can't unpersist before
      // returning — caller-owned lifecycle: the session's CacheManager
      // holds it until unpersist/clearCache
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = sk.select(col("g"), explode(col("kmv")).as("h"))
    val groups = sk.select(col("g"))
    val pairs = groups.select(col("g").as("ga"))
      .crossJoin(groups.select(col("g").as("gb")))
      .filter(col("ga") < col("gb"))
    val uh = pairs.join(ex.select(col("g").as("ga"), col("h")), Seq("ga"))
      .select("ga", "gb", "h")
      .union(pairs.join(ex.select(col("g").as("gb"), col("h")), Seq("gb"))
        .select("ga", "gb", "h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ga", "gb").orderBy("h")
    val m = uh.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .join(ex.select(col("g").as("ga"), col("h"), lit(1).as("__ina")),
        Seq("ga", "h"), "left")
      .join(ex.select(col("g").as("gb"), col("h"), lit(1).as("__inb")),
        Seq("gb", "h"), "left")
    val unionEst = s"CASE WHEN ku < $k THEN ku " +
      s"ELSE CAST(${(k - 1).toLong * 4294967296L} AS BIGINT) div kth END"
    m.groupBy("ga", "gb")
      .agg(count(lit(1)).as("ku"),
        max(when(col("rn") === k, col("h"))).as("kth"),
        sum(coalesce(col("__ina"), lit(0)) * coalesce(col("__inb"), lit(0)))
          .as("n_both"))
      .selectExpr("ga", "gb",
        s"CAST($unionEst AS BIGINT) AS est_union",
        "CAST(n_both AS BIGINT) AS n_both",
        s"CAST((n_both * ($unionEst)) div ku AS BIGINT) AS est_intersection")
  }

  // ------------------------------------------------------------ count-min

  /** Count-min sketch BUILD: collapse an item stream into a fixed
    * `depth × width` grid of counts — the frequency-estimation sibling of
    * the KMV (distinct) and Bloom (membership) sketches. Cell
    * `(j, h_j(item) mod width)` accumulates every occurrence of `item`
    * under hash row j; a point estimate is the MIN over the depth cells
    * ([[cmsEstimate]]), an overestimate with error ≤ N/width at
    * probability 1 − 2^−depth. Hash rows are an affine universal family
    * over ONE md5-lane base digest ([[cmsRowParams]]) — fully
    * deterministic, so the sketch and every estimate hash-match the
    * DuckDB twin cell for cell.
    *
    * The output relation (row, bucket, cnt) is MERGEABLE state: sketches
    * of corpus shards (or of a stream's micro-batches —
    * the same grid is exactly what a streaming sum maintains) add
    * cell-wise into the corpus sketch, which is the whole point: the
    * heavy-hitter infrastructure ships as a ≤ depth·width-row table,
    * never an items-sized dictionary.
    *
    * Scale shape: hashes are scan-side codegen projections; posexplode
    * multiplies rows by depth (small constant) BEFORE a
    * map-side-combinable count agg whose result is capped at depth·width
    * rows — at any corpus size the shuffle carries at most that many
    * partials per task. */
  /** One affine universal-hash row per depth index over a SINGLE base
    * digest: `((a_j·h + b_j) mod P) mod width` with P = 2^31−1 (Mersenne)
    * and a_j < 2^30 so a_j·h of a 32-bit h never overflows a long. One
    * md5 per item evaluation instead of depth — measured 8.9 s → ~1 s on
    * the corpus word stream, because the per-row salted digests
    * (`md5("cms<j>:" || item)`) defeated codegen's subexpression
    * elimination under the Generate node and evaluated the digest
    * depth×8 times. The (a_j, b_j) literals are the shared source of
    * truth for the DuckDB twin ([[cmsBucketSql]]). */
  private[graft] val CmsP = 2147483647L // 2^31 − 1
  private[graft] def cmsRowParams(depth: Int): Seq[(Long, Long)] =
    (0 until depth).map { j =>
      val a = ((0x61c88647L * (2L * j + 1L)) & 0x3FFFFFFFL) | 1L
      val b = (0x7f4a7c15L * (j + 1L)) % CmsP
      (a, b)
    }

  /** DuckDB twin of one bucket expression, over SQL expression `e`. */
  private[graft] def cmsBucketSql(j: Int, depth: Int, width: Int,
                                  e: String): String = {
    val (a, b) = cmsRowParams(depth)(j)
    s"(($a * (${kmvHash32Sql(e)}) + $b) % $CmsP) % $width"
  }

  private def cmsBuckets(depth: Int, width: Int): Column =
    array(cmsRowParams(depth).map { case (a, b) =>
      pmod(pmod(col("__h") * a + b, lit(CmsP)), lit(width.toLong))
    }: _*)

  def cmsBuild(df: DataFrame, itemCol: String, depth: Int = 3,
               width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 2,
      s"depth=$depth width=$width")
    // the projection boundary pins the digest to ONE evaluation per item:
    // CollapseProject keeps non-cheap expressions referenced more than
    // once behind their own project
    df.select(md5Hash32(col(itemCol)).as("__h"))
      .select(posexplode(cmsBuckets(depth, width)).as(Seq("row", "bucket")))
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .select(col("row").cast("long").as("row"), col("bucket"),
        col("cnt"))
  }

  /** Count-min point estimates for a CANDIDATE item relation against a
    * built sketch: est = min over hash rows of the addressed cells. The
    * candidate set is the caller's bounded probe (a recent slice's items,
    * a watchlist) — the sketch answers point queries; it never enumerates
    * items, which is what keeps both sides small. Items absent from the
    * sketch estimate 0 via the left-join coalesce, never NULL.
    *
    * Scale shape: the sketch (≤ depth·width rows) broadcasts; candidates
    * explode ×depth scan-side and the min-agg returns to candidate grain.
    * No shuffle exceeds the candidate relation. */
  def cmsEstimate(candidates: DataFrame, itemCol: String, sketch: DataFrame,
                  depth: Int = 3, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 2,
      s"depth=$depth width=$width")
    val sk = sketch.select(col("row").as("__srow"),
      col("bucket").as("__sbucket"), col("cnt").as("__scnt"))
    candidates
      .select(col(itemCol), md5Hash32(col(itemCol)).as("__h"))
      .select(col(itemCol),
        posexplode(cmsBuckets(depth, width)).as(Seq("row", "bucket")))
      .join(broadcast(sk),
        col("__srow") === col("row").cast("long") &&
          col("__sbucket") === col("bucket"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("__scnt"), lit(0L))).as("est_count"))
  }

  /** JOIN-SIZE estimate from two count-min sketches (the AMS/CMS
    * inner-product estimator, Cormode & Muthukrishnan 2005): |A ⋈ B| on a
    * key = Σ_k f_A(k)·f_B(k), estimated per hash row as the dot product
    * of the two rows' buckets, min across rows. NEVER underestimates
    * (collisions only add cross terms), so a planner reading it for a
    * broadcast/skew decision errs safe. This is the sketch-side answer to
    * the exact q_join_card lane: two corpus scans into depth·width cells
    * each, then arithmetic on the cells — the join itself never runs, the
    * inputs are never shuffled, and stored sketches (the
    * [[graft.streaming.SketchMaintenance]] lane) answer the question for
    * every table pair without re-reading either table. Returns one row
    * (est_join_size).
    *
    * Scale shape: cmsBuild's (map-side combinable into ≤ depth·width
    * cells); the cell join and per-row dot product are sketch-sized.
    * Products ride decimal(38,0): two 1e12-row tables colliding into one
    * cell give 1e24, far past a LONG. */
  def cmsJoinSize(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
                  depth: Int = 3, width: Int = 1024): DataFrame = {
    val d38 = "decimal(38,0)"
    // SQL join-key semantics: NULL joins nothing, so NULL keys are
    // excluded HERE (md5Hash32(NULL) would otherwise ride a NULL bucket
    // that can never match the other side's cells — a silent 0
    // contribution the exact Σ f_A·f_B lane wouldn't share)
    val sa = cmsBuild(a.filter(col(aCol).isNotNull), aCol, depth, width)
    val sb = cmsBuild(b.filter(col(bCol).isNotNull), bCol, depth, width)
    sa.select(col("row"), col("bucket"), col("cnt").as("__ca"))
      // LEFT join: a hash row with NO colliding buckets proves the
      // estimate is 0 — an inner join would drop it before the min and
      // turn "disjoint inputs" into an overestimate (or a NULL)
      .join(sb.select(col("row"), col("bucket"), col("cnt").as("__cb")),
        Seq("row", "bucket"), "left")
      .groupBy("row")
      .agg(sum((col("__ca").cast(d38) * coalesce(col("__cb"), lit(0L)))
        .cast(d38)).as("__p"))
      .agg(min(col("__p")).as("__est"))
      // empty A side: the true join size is 0, not NULL
      .select(coalesce(col("__est").cast("long"), lit(0L))
        .as("est_join_size"))
  }

  /** Heavy hitters: candidates whose count-min estimate clears
    * `minCount`. Count-min never underestimates, so TRUE heavy hitters
    * are never missed — false positives (collision-inflated light items)
    * are the documented one-sided error, shrinking with width. */
  /** HyperLogLog register layout shared by build/estimate/SQL twin:
    * m = 64 registers (b = 6 index bits off the TOP of the 32-bit md5-lane
    * hash), rank = leading-zero count of the remaining 26-bit suffix + 1
    * (1..27, the Flajolet et al. 2007 ρ). Rank extraction is a generated
    * bit-length CASE ladder over power-of-two literals — pure integer
    * comparisons, identical in both engines, NO float log2. */
  private[graft] val HllM = 64
  private[graft] val HllSuffixBits = 26
  /** α₆₄·10⁶, computed once (0.7213/(1 + 1.079/m)) and embedded in both
    * engines — the shared-literal convention. */
  private[graft] val HllAlphaMicro: Long =
    math.round(0.7213 / (1.0 + 1.079 / HllM) * 1e6)
  private def hllRank(w: Column): Column =
    (1 to HllSuffixBits).foldLeft(
      when(w === 0L, lit(HllSuffixBits + 1L)): Column) { (acc, k) =>
      // bitlength(w) = k  ⇔  2^(k−1) ≤ w < 2^k  →  ρ = 26 − k + 1
      acc.when(w < (1L << k), lit((HllSuffixBits - k + 1).toLong))
    }.otherwise(lit(1L))
  private[graft] def hllRankSql(w: String): String = {
    val arms = (1 to HllSuffixBits).map { k =>
      s"WHEN $w < ${1L << k} THEN ${HllSuffixBits - k + 1}"
    }.mkString(" ")
    s"CASE WHEN $w = 0 THEN ${HllSuffixBits + 1} $arms ELSE 1 END"
  }

  /** HYPERLOGLOG build: the industry-standard mergeable distinct-count
    * sketch, as a 64-row (bucket, max_rank) relation per group — the
    * third cardinality lane next to KMV (exact-ish small sets, set
    * algebra) and exact groupBy: fixed 64·group state at ANY corpus
    * size, and shard/micro-batch sketches merge by per-bucket MAX (the
    * same agg that builds them — re-aggregate [[hllMerge]]), which is
    * what lets a 100 TB profiling pass compute per-partition AND global
    * distinct counts in one scan + one bounded shuffle.
    *
    * Scale shape: hash + bucket + rank are one codegen projection; the
    * (group, bucket) agg is map-side combinable with ≤ 64 output rows
    * per group. The md5 hash anchors the oracle; b = 14 / m = 16384 gives
    * the ±0.8% production error at scale. */
  def hllBuild(df: DataFrame, valueCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol), md5Hash32(col(valueCol)).as("__h"))
      .filter(col("__h").isNotNull)
      .select(col(groupCol),
        expr(s"__h div ${1L << HllSuffixBits}").as("bucket"),
        pmod(col("__h"), lit(1L << HllSuffixBits)).as("__w"))
      .groupBy(groupCol, "bucket")
      .agg(max(hllRank(col("__w"))).as("max_rank"))

  /** Merge shard sketches: per-bucket MAX — the mergeable-state property. */
  def hllMerge(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.groupBy(groupCol, "bucket").agg(max("max_rank").as("max_rank"))

  /** HLL ESTIMATE from a register relation — exact-integer harmonic sum:
    * Σ 2^−M_j = (Σ 2^(27−M_j)) / 2^27 where every term is an integer
    * ≤ 2^27, so S is an exact BIGINT and the raw estimate
    * α·m²·2^27 / S is ONE integer division in micro units — no
    * float accumulation, order-invariant on any engine. Unseen buckets
    * contribute rank 0 (term 2^27) via the (m − seen) fill. Small-range
    * branch (raw ≤ 2.5m with empty buckets): linear counting
    * m·ln(m/zeros), the only float (the proven round(ln·1e6) lane).
    * Output per group: (n_buckets_seen, est_distinct). */
  def hllEstimate(sketches: DataFrame, groupCol: String): DataFrame = {
    val full = 1L << (HllSuffixBits + 1) // 2^27
    val num = HllAlphaMicro * HllM * HllM * full // fits: ~3.9e17 < 2^63
    val lcBound = (2.5 * HllM * 1e6).toLong // branch test in micro units
    sketches.groupBy(groupCol)
      .agg(count(lit(1)).as("n_buckets_seen"),
        sum(expr(s"shiftleft(cast(1 as bigint), " +
          s"cast(${HllSuffixBits + 1} - max_rank as int))")).as("__sSeen"))
      .select(col(groupCol), col("n_buckets_seen"),
        (col("__sSeen") + (lit(HllM.toLong) - col("n_buckets_seen")) * full)
          .as("__s"),
        (lit(HllM.toLong) - col("n_buckets_seen")).as("__zeros"))
      .select(col(groupCol), col("n_buckets_seen"),
        when(col("__zeros") > 0L && expr(s"$num div __s") <= lcBound,
          round(lit(HllM.toDouble) *
            log(lit(HllM.toDouble) / col("__zeros").cast("double")), 0)
            .cast("long"))
          .otherwise(expr(s"($num div __s) div 1000000"))
          .as("est_distinct"))
  }

  def cmsHeavyHitters(df: DataFrame, candidates: DataFrame, itemCol: String,
                      minCount: Long, depth: Int = 3,
                      width: Int = 1024): DataFrame =
    cmsEstimate(candidates, itemCol, cmsBuild(df, itemCol, depth, width),
      depth, width)
      .filter(col("est_count") >= minCount)

  /** MERGEABLE QUANTILE SUMMARY from a deterministic bottom-k row sample:
    * per group, the k rows whose Knuth id-hash ranks smallest form a
    * uniform sample ([[Curation.fixedSizeSample]] — bounded TopKHits
    * aggregate, no window sort over the corpus), and each requested
    * percentile is the TYPE-1 (nearest-rank-up) quantile of the sample:
    * the smallest sampled value whose rank reaches ⌈q·m/100⌉. Standard
    * error of a q-quantile's rank is √(q(1−q)/k) — k=256 puts the median
    * within ~3% rank error; groups SMALLER than k are sampled whole, so
    * their quantiles are exact.
    *
    * Mergeable exactly like KMV: bottom-k(A ∪ B) = bottom-k(bottom-k(A)
    * ∪ bottom-k(B)) — shard samples concatenate and re-rank into the
    * union's sample with NO approximation stacking (re-estimating from
    * the merged sample equals estimating from a fresh whole-corpus
    * sample), the property that lets per-partition/per-day summaries
    * roll up without rescanning history. Deterministic end to end:
    * id-hash sampling, integer values, integer rank arithmetic — every
    * engine and partitioning produces the identical estimate.
    *
    * `valueCol` must be integer-valued (quantize first — the cents
    * convention); `qs` are integer percents in [1, 100]. Output: (group,
    * q, est_value, n_sample, n_total), one row per (group, q).
    *
    * Scale shape: one corpus scan into the bounded sample aggregate +
    * one map-side-combinable total count; everything after (value
    * join-back, rank window, quantile pick) runs on the groups×k sample
    * relation. The rank window partitions by group and is k-bounded. */
  def quantileSketch(df: DataFrame, idCol: String, groupCol: String,
                     valueCol: Column, k: Int, qs: Seq[Int]): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("__id"),
      valueCol.cast("long").as("__v"))
    val sampleIds = Curation.fixedSizeSample(base, "__id", "grp", k)
    val sample = base.join(broadcast(sampleIds), Seq("grp", "__id"))
      .select(col("grp"), col("__id").as("id"), col("__v").as("v"))
    val totals = base.groupBy("grp").agg(count(lit(1)).as("n_total"))
    sampleQuantiles(sample, totals, qs)
      .withColumnRenamed("grp", groupCol)
  }

  /** The ESTIMATE step of [[quantileSketch]], factored out so a STORED
    * sample table (the [[graft.streaming.SketchMaintenance]] quantile
    * lane) estimates through the identical kernel: `sample` is
    * (grp, id, v) rows — at most k per group — and `totals` is
    * (grp, n_total). Output matches [[quantileSketch]] column-for-column
    * (grp un-renamed). The rank window partitions by group and is
    * k-bounded by the sample contract. */
  def sampleQuantiles(sample: DataFrame, totals: DataFrame,
                      qs: Seq[Int]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      s"qs must be percents in [1,100]: $qs")
    val w = org.apache.spark.sql.expressions.Window
    sample.select(col("grp"), col("id"), col("v"))
      .withColumn("__m", count(lit(1)).over(w.partitionBy("grp")))
      // k-bounded per group: the sample aggregate capped membership at k
      .withColumn("__rn", row_number().over(
        w.partitionBy("grp").orderBy(col("v"), col("id"))))
      .withColumn("q", explode(array(qs.map(q => lit(q.toLong)): _*)))
      .filter(col("__rn") === expr("(q * __m + 99) div 100"))
      .join(totals, "grp")
      .select(col("grp"), col("q"), col("v").as("est_value"),
        col("__m").cast("long").as("n_sample"), col("n_total"))
  }
}
