package graft

import org.apache.spark.sql.functions._

/** The oracle queries use EXACT percentile/distinct (cross-engine
  * checkable); at 100 TB the scale path is the sketch versions —
  * approx_percentile (KLL-style rank sketch, bounded memory per group)
  * and approx_count_distinct (HyperLogLog++, fixed ~few-KB state vs a
  * hash set of every key). These tests pin the advertised accuracy on
  * real data so "swap exact for approx at scale" is a measured claim. */
class SketchSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.01"

  test("approx_percentile tracks the exact percentile within 2% relative error") {
    val ev = Tables.load(spark, d, "events")
    val both = ev.groupBy("event_type").agg(
      expr("percentile(value, 0.5)").as("exact_p50"),
      expr("approx_percentile(value, 0.5, 10000)").as("approx_p50"),
      expr("percentile(value, 0.95)").as("exact_p95"),
      expr("approx_percentile(value, 0.95, 10000)").as("approx_p95"))
    both.collect().foreach { r =>
      val (e50, a50) = (r.getDouble(1), r.getAs[Number](2).doubleValue())
      val (e95, a95) = (r.getDouble(3), r.getAs[Number](4).doubleValue())
      assert(math.abs(a50 - e50) / e50 < 0.02, s"${r.get(0)}: p50 $a50 vs $e50")
      assert(math.abs(a95 - e95) / e95 < 0.02, s"${r.get(0)}: p95 $a95 vs $e95")
    }
  }

  test("approx_count_distinct stays within 3x the configured rsd of exact") {
    val ev = Tables.load(spark, d, "events")
    val r = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), rsd = 0.05).as("approx")).collect()(0)
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.15,
      s"HLL estimate $approx vs exact $exact exceeds 3x rsd")
  }

  // ---- KMV: the deterministic sketch that CAN face the oracle ----

  import spark.implicits._
  import graft.operators.Sketches

  /** Independent reimplementation of the md5 lane: first 8 hex chars of
    * the digest via MessageDigest — no Spark expressions involved. */
  private def h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => "%02x".format(b & 0xff)).mkString, 16)
  }
  private def kmvExpect(values: Seq[String], k: Int): Long = {
    val hs = values.map(h32).distinct.sorted
    if (hs.size < k) hs.size.toLong else (k - 1).toLong * 4294967296L / hs(k - 1)
  }

  test("kmvDistinct md5 lane reproduces an independent MessageDigest estimate") {
    val values = (1 to 500).map(i => s"tok$i")
    val df = values.toDF("v").withColumn("g", lit("all"))
    // estimator branch: 500 distinct ≫ k=64
    val est = Sketches.kmvDistinct(df, "v", "g", k = 64)
      .collect()(0).getLong(1)
    assert(est == kmvExpect(values, 64), s"estimator branch: $est")
    // exact branch: sketch never fills, estimate IS the distinct count
    val exact = Sketches.kmvDistinct(df, "v", "g", k = 1000)
      .collect()(0).getLong(1)
    assert(exact == 500L, s"exact branch: $exact")
  }

  test("kmvDistinct is invariant to partitioning and to duplicate rows") {
    val values = (1 to 300).map(i => s"w${i % 120}") // 120 distinct, many dups
    val df = values.toDF("v").withColumn("g", lit("all"))
    val a = Sketches.kmvDistinct(df.repartition(1), "v", "g", 32)
      .collect()(0).getLong(1)
    val b = Sketches.kmvDistinct(df.repartition(13), "v", "g", 32)
      .collect()(0).getLong(1)
    val c = Sketches.kmvDistinct(df.union(df), "v", "g", 32)
      .collect()(0).getLong(1)
    assert(a == b && b == c, s"partitioning/dup variance: $a $b $c")
    assert(a == kmvExpect(values, 32))
  }

  test("kmvDistinct tracks exact distinct counts on real data") {
    val docs = Tables.load(spark, d, "documents")
    val toks = docs.selectExpr("source", "explode(filter(split(text, ' '), x -> x != '')) AS tok")
    val exact = toks.groupBy("source")
      .agg(countDistinct(col("tok")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.kmvDistinct(toks, "tok", "source", k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (src, e) =>
      val x = exact(src).toDouble
      // k=64 → rse ≈ 1/√62 ≈ 12.7%; 40% is a ≳3σ band
      assert(math.abs(e - x) / x < 0.40, s"$src: est $e vs exact $x")
    }
  }

  test("kmvPairOverlap: disjoint groups → 0 intersection; identical → union; exact under k") {
    import spark.implicits._
    // three small groups (< k distinct values → exact branch throughout):
    // a = {v0..v29}, b = identical to a, c = disjoint {w0..w19}
    val rows = (0 until 30).flatMap(i => Seq(("a", s"v$i"), ("b", s"v$i"))) ++
      (0 until 20).map(i => ("c", s"w$i"))
    val out = graft.operators.Sketches.kmvPairOverlap(
        rows.toDF("g", "v"), "v", "g", k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("a", "b")) == ((30L, 30L, 30L)),
      s"identical sets: union = intersection = 30, got ${out(("a", "b"))}")
    assert(out(("a", "c")) == ((50L, 0L, 0L)),
      s"disjoint sets: union 50, intersection 0, got ${out(("a", "c"))}")
    assert(out(("b", "c")) == ((50L, 0L, 0L)))
  }

  test("kmvPairOverlap: estimates track exact overlap on full sketches") {
    import spark.implicits._
    // two 1000-value sets sharing 500 values → jaccard 1/3
    val rows = (0 until 1000).map(i => ("x", s"s$i")) ++
      (500 until 1500).map(i => ("y", s"s$i"))
    val out = graft.operators.Sketches.kmvPairOverlap(
        rows.toDF("g", "v"), "v", "g", k = 64)
      .collect().map(r => (r.getLong(2), r.getLong(4))).head
    assert(math.abs(out._1 - 1500.0) / 1500.0 < 0.40,
      s"union est must track 1500: $out")
    assert(out._2 > 100 && out._2 < 1000,
      s"intersection est must track 500 within the sketch's band: $out")
  }

  test("cms: estimates never underestimate; exact when the grid is wide") {
    import spark.implicits._
    import graft.operators.Sketches
    val exact = Map("a" -> 40, "b" -> 25, "c" -> 10, "d" -> 3, "e" -> 1)
    val stream = exact.toSeq.flatMap { case (w, n) => Seq.fill(n)(w) }
      .toDF("item")
    val cand = exact.keys.toSeq.toDF("item")
    // width 4 < 5 items: at least one pair collides in some row → the
    // overestimate property is the invariant, exactness is not
    val tight = Sketches.cmsEstimate(cand, "item",
        Sketches.cmsBuild(stream, "item", depth = 2, width = 4),
        depth = 2, width = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (w, n) =>
      assert(tight(w) >= n, s"$w: est ${tight(w)} < exact $n") }
    // width 4096 over 5 items: collisions are (deterministically) absent
    // and every estimate is the exact count
    val wide = Sketches.cmsEstimate(cand, "item",
        Sketches.cmsBuild(stream, "item", depth = 3, width = 4096),
        depth = 3, width = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wide == exact.map { case (k, v) => k -> v.toLong },
      s"wide grid must be exact: $wide")
  }

  test("cms: shard sketches merge cell-wise into the whole-corpus sketch") {
    import spark.implicits._
    import graft.operators.Sketches
    import org.apache.spark.sql.functions._
    val all = (0 until 300).map(i => s"w${i % 17}").toDF("item")
    val h1 = (0 until 150).map(i => s"w${i % 17}").toDF("item")
    val h2 = (150 until 300).map(i => s"w${i % 17}").toDF("item")
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketches.cmsBuild(df, "item", depth = 3, width = 8)
    val merged = cells(h1).unionByName(cells(h2))
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cells(all)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole, "cell-wise sum of shard sketches must equal the corpus sketch")
  }

  test("cms: a collision provably promotes a light item — the documented one-sided error") {
    import spark.implicits._
    import graft.operators.Sketches
    // find (deterministically) a light item that collides with "hot" in
    // EVERY row of a depth-1 width-2 grid, then show its estimate absorbs
    // the hot count — the false-positive branch by construction, not by
    // hash luck. Collision search runs through the engine's own buckets.
    def estimateOf(light: String): Long = {
      val stream = (Seq.fill(30)("hot") :+ light).toDF("item")
      Sketches.cmsEstimate(Seq(light).toDF("item"), "item",
          Sketches.cmsBuild(stream, "item", depth = 1, width = 2), 1, 2)
        .collect().head.getLong(1)
    }
    val light = (0 until 20).map(i => s"light$i")
      .find(c => estimateOf(c) == 31L)
      .getOrElse(fail("no colliding candidate in 20 tries — astronomically unlikely"))
    val stream = (Seq.fill(30)("hot") :+ light).toDF("item")
    val hh = Sketches.cmsHeavyHitters(stream,
        Seq("hot", light).toDF("item"), "item", minCount = 20L,
        depth = 1, width = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh("hot") >= 30L)
    assert(hh(light) == 31L,
      s"the colliding light item is promoted with the inflated estimate: $hh")
  }

  test("cms: unseen items estimate 0 and true heavy hitters are never missed") {
    import spark.implicits._
    import graft.operators.Sketches
    val stream = (Seq.fill(50)("hot") ++ Seq.fill(2)("cold")).toDF("item")
    val cand = Seq("hot", "cold", "never-seen").toDF("item")
    val est = Sketches.cmsEstimate(cand, "item",
        Sketches.cmsBuild(stream, "item", depth = 3, width = 64),
        depth = 3, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("never-seen") == 0L, s"unseen must be 0: $est")
    val hh = Sketches.cmsHeavyHitters(stream, cand, "item", minCount = 40L,
        depth = 3, width = 64)
      .collect().map(_.getString(0)).toSet
    assert(hh.contains("hot"), "the one-sided guarantee: a true heavy hitter always clears")
    assert(!hh.contains("cold") && !hh.contains("never-seen"),
      s"collision-free grid must not promote light items: $hh")
  }

  test("hll: rank ladder equals the leading-zero reference on every bit-length class") {
    import spark.implicits._
    import graft.operators.Sketches
    // one synthetic value per suffix bit-length, plus the w=0 sentinel:
    // feed values whose md5-suffix we can't control, so instead check the
    // LADDER directly through hllBuild's composition: for each input, the
    // engine's (bucket, max_rank) must equal a sequential md5 reference.
    def md5h(sv: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).take(4)
      d.foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    }
    def refRank(w: Long): Long =
      if (w == 0L) 27L else 26L - (63 - java.lang.Long.numberOfLeadingZeros(w)) // 26 - bitlen + 1
    val vals = (1 to 300).map(i => s"v$i")
    val got = Sketches.hllBuild(vals.toDF("v").withColumn("g", lit("x")), "v", "g")
      .select("bucket", "max_rank").as[(Long, Long)].collect().toMap
    val want = vals.map(md5h).groupBy(_ >> 26)
      .map { case (b, hs) => b -> hs.map(h => refRank(h & ((1L << 26) - 1))).max }
    assert(got == want)
  }

  test("hll: shard sketches merge into the whole-corpus sketch; estimate is partitioning-invariant") {
    import spark.implicits._
    import graft.operators.Sketches
    val all = (1 to 4000).map(i => ("g", s"user$i")).toDF("g", "v")
    val whole = Sketches.hllBuild(all, "v", "g")
    val shards = Sketches.hllBuild(all.filter($"v" < "user3"), "v", "g")
      .union(Sketches.hllBuild(all.filter($"v" >= "user3"), "v", "g"))
    val merged = Sketches.hllMerge(shards, "g")
    assert(merged.orderBy("bucket").collect().toSeq ==
      whole.orderBy("bucket").collect().toSeq,
      "per-bucket max merge == build over the union")
    val e1 = Sketches.hllEstimate(whole, "g").collect().toSeq
    val e2 = Sketches.hllEstimate(
      Sketches.hllBuild(all.repartition(13), "v", "g"), "g").collect().toSeq
    assert(e1 == e2)
  }

  test("hll: estimates track exact counts — linear-counting branch small, harmonic branch large") {
    import spark.implicits._
    import graft.operators.Sketches
    def est(n: Int): Long = Sketches.hllEstimate(
      Sketches.hllBuild((1 to n).map(i => ("g", s"id$i")).toDF("g", "v"), "v", "g"),
      "g").collect()(0).getLong(2)
    val small = est(30) // sparse registers -> linear counting
    assert(math.abs(small - 30) <= 10, s"small-range estimate: $small")
    val large = est(5000) // all 64 registers hit -> harmonic estimate
    assert(math.abs(large - 5000) <= 1500,
      s"m=64 keeps ~13pct relative error: $large")
    // duplicates must not move the sketch: distinct-ness is the point
    val dup = (1 to 500).map(i => ("g", s"id${i % 50 + 1}")).toDF("g", "v")
    assert(Sketches.hllEstimate(Sketches.hllBuild(dup, "v", "g"), "g")
      .collect()(0).getLong(2) == est(50))
  }

  // ---- quantileSketch ----

  test("quantileSketch: exact type-1 quantiles when the group fits the sample") {
    import spark.implicits._
    // 10 values in one group, k=64 ≥ group size → sample = whole group:
    // type-1 q-quantile = smallest value with rank ≥ ceil(q·10/100)
    val df = (1L to 10L).map(i => ("g", i, i * 10L)).toDF("grp", "id", "v")
    val out = Sketches.quantileSketch(df, "id", "grp", col("v"), k = 64,
        qs = Seq(10, 25, 50, 91, 100))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(10L -> 10L, 25L -> 30L, 50L -> 50L, 91L -> 100L,
      100L -> 100L), s"got: $out")
  }

  test("quantileSketch: estimates track exact percentiles on a 10k-row group") {
    import spark.implicits._
    val df = (1L to 10000L).map(i => ("g", i, (i * 2654435761L) % 10000L))
      .toDF("grp", "id", "v")
    val out = Sketches.quantileSketch(df, "id", "grp", col("v"), k = 512,
        qs = Seq(25, 50, 90))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.forall(_._4 == 10000L))
    assert(out.forall(_._3 == 512L), "sample must be exactly k")
    // values are ~uniform on [0, 10000): rank error ~ sqrt(q(1-q)/512)
    // ≈ 2.2% — assert within 10% absolute of the true quantile
    out.foreach { case (q, est, _, _) =>
      val truth = q * 100L // q% of 10000
      assert(math.abs(est - truth) <= 1000L,
        s"q=$q est=$est truth≈$truth")
    }
  }

  test("quantileSketch merge law: shard samples re-ranked == whole-corpus sample") {
    import spark.implicits._
    import graft.operators.Curation
    val all = (1L to 3000L).map(i => ("g", i, (i * 48271L) % 7919L))
      .toDF("grp", "id", "v")
    val s1 = all.filter($"id" % 2 === 0)
    val s2 = all.filter($"id" % 2 =!= 0)
    val k = 128
    // bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)): the shard
    // samples concatenate and re-rank into exactly the union's sample
    def ids(df: org.apache.spark.sql.DataFrame) =
      Curation.fixedSizeSample(df, "id", "grp", k)
        .select("id").as[Long].collect().toSet
    val shardMerged = Curation.fixedSizeSample(
      all.join(broadcast((ids(s1) ++ ids(s2)).toSeq.toDF("id")), "id"),
      "id", "grp", k)
      .select("id").as[Long].collect().toSet
    assert(shardMerged == ids(all), "merged shard samples must equal the whole-corpus sample")
    // and therefore the quantile estimates agree exactly
    val direct = Sketches.quantileSketch(all, "id", "grp", col("v"), k,
      Seq(50, 90)).collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val merged = Sketches.quantileSketch(
      all.join(broadcast((ids(s1) ++ ids(s2)).toSeq.toDF("id")), "id"),
      "id", "grp", col("v"), k, Seq(50, 90))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(direct == merged)
  }

  test("cmsJoinSize never underestimates and is exact without collisions") {
    import spark.implicits._
    val a = Seq("k1", "k1", "k1", "k2").toDF("k")   // f_A: k1=3, k2=1
    val b = Seq("k1", "k2", "k2", "k3").toDF("k")   // f_B: k1=1, k2=2
    val est = Sketches.cmsJoinSize(a, "k", b, "k", depth = 3, width = 1024)
      .collect()(0).getLong(0)
    // true inner product 3*1 + 1*2 = 5; 3 keys in 1024 buckets: exact
    assert(est == 5L, s"est=$est")
    val self = Sketches.cmsJoinSize(a, "k", a, "k").collect()(0).getLong(0)
    assert(self == 10L, s"self=$self")  // 9 + 1
  }

  test("cmsJoinSize: NULL keys join nothing — excluded from both sides") {
    import spark.implicits._
    val a = Seq(Some("k1"), Some("k1"), Some("k1"), Some("k2"), None, None)
      .toDF("k")
    val b = Seq(Some("k1"), Some("k2"), Some("k2"), Some("k3"), None)
      .toDF("k")
    val est = Sketches.cmsJoinSize(a, "k", b, "k", depth = 3, width = 1024)
      .collect()(0).getLong(0)
    // SQL semantics: the NULL groups contribute no f_A·f_B term
    assert(est == 5L, s"est=$est")
  }

  test("cmsJoinSize: forced collisions only overestimate") {
    import spark.implicits._
    val a = (1 to 50).map(i => s"key$i").toDF("k")
    val est = Sketches.cmsJoinSize(a, "k", a, "k", depth = 3, width = 4)
      .collect()(0).getLong(0)
    assert(est >= 50L, s"est=$est")  // true self-join size = 50
  }

  test("cmsJoinSize: disjoint inputs estimate 0 via the zero-product rows") {
    import spark.implicits._
    val a = Seq("only-in-a-1", "only-in-a-2").toDF("k")
    val b = Seq("only-in-b-1", "only-in-b-2").toDF("k")
    val est = Sketches.cmsJoinSize(a, "k", b, "k", depth = 3, width = 1024)
      .collect()(0).getLong(0)
    // no shared keys and no 1024-bucket collisions on 2 keys: exact 0
    assert(est == 0L, s"est=$est")
  }
}
