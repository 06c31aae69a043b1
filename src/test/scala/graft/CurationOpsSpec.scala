package graft

import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Unit semantics for the round-3 curation operators: sequence packing,
  * domain-mixture sampling, benchmark decontamination, and cluster-survivor
  * selection. Each test pins exact values on a planted fixture (the sf0.01
  * oracle rows check the same ops at corpus scale). */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "src")

  test("qualityDecileBins matches an independent interpolated-percentile computation") {
    // 25 docs of varied composition in one group; expected bins re-derived
    // in pure Scala from the REALIZED qualities with the same definition
    // (linear-interpolated percentile at (n-1)p, 4-dp threshold, ≥ compare)
    val docs = (1 to 25).map { i =>
      (i.toLong, ("the quick fox " * (i % 7 + 1)) + ("!!!" * (i % 5)) + s" word$i", "g")
    }.toDF("doc_id", "text", "lang")
    val out = Curation.qualityDecileBins(docs, "text", "doc_id", "lang")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getLong(3))).toMap
    val qs = out.values.map(_._1).toSeq.sorted
    def pctl(p: Double): Double = {
      val pos = (qs.size - 1) * p
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      val v = qs(lo) + (pos - lo) * (qs(hi) - qs(lo))
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ths = (1 to 9).map(i => pctl(i / 10.0))
    out.foreach { case (id, (q, bin)) =>
      val expected = 1 + ths.count(q >= _)
      assert(bin == expected, s"doc $id: quality $q → bin $bin, expected $expected")
    }
    assert(out.values.map(_._2).min == 1 && out.values.map(_._2).max == 10)
  }

  test("chunkDocuments: exact chunk boundaries, overlap, tail chunk, and tiny-doc edge") {
    // 10 tokens, chunk 4, stride 3 → k = ceil((10-4)/3) = 2 → 3 chunks:
    // [0..3], [3..6], [6..9]; the tail chunk is full here (start 6 + 4 = 10).
    // 11 tokens → k = ceil(7/3) = 3 → 4 chunks, last = [9..10] (2 tokens).
    // 2 tokens (< chunk) → 1 chunk of 2. Empty text → 1 empty chunk.
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 11).map(i => s"w$i").mkString(" ")),
      (3L, "a b"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, "text", "doc_id", chunkTokens = 4, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._3, r._4)) ==
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L)))
    assert(out.filter(_._1 == 1L).map(_._5) ==
      Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(out.filter(_._1 == 2L).map(r => (r._2, r._4)) ==
      Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 2L)))
    assert(out.filter(_._1 == 3L) == Seq((3L, 0L, 0L, 2L, "a b")))
    assert(out.filter(_._1 == 4L) == Seq((4L, 0L, 0L, 0L, "")))
    // every token of doc 2 is covered by at least one chunk
    val covered = out.filter(_._1 == 2L).flatMap(r => r._3 until (r._3 + r._4)).toSet
    assert(covered == (0L until 11L).toSet, "chunks must cover every token")
  }

  test("temperatureSample: alpha=1 is proportional, alpha<1 boosts the small domain's rate") {
    val docs = ((1L to 900L).map(i => (i, s"t$i", "big")) ++
      (901L to 1000L).map(i => (i, s"t$i", "small"))).toDF("doc_id", "text", "lang")
    // alpha = 1: w ∝ N, so every domain's keep pct is 100·target/totalN = 50%
    val prop = Curation.temperatureSample(docs, "doc_id", "lang", alpha = 1.0,
      targetTotal = 500L)
    val pctsProp = prop.groupBy("lang").agg(max("keep_pct").as("p"))
      .as[(String, Long)].collect().toMap
    assert(pctsProp("big") == 50L && pctsProp("small") == 50L)
    // alpha = 0.5: w ∝ √N → the small domain keeps a HIGHER fraction of
    // itself than the big one (the whole point of temperature flattening)
    val flat = Curation.temperatureSample(docs, "doc_id", "lang", alpha = 0.5,
      targetTotal = 500L)
    val pctsFlat = flat.groupBy("lang").agg(max("keep_pct").as("p"))
      .as[(String, Long)].collect().toMap
    assert(pctsFlat("small") > pctsFlat("big"),
      s"flattening must favor the small domain: $pctsFlat")
    // hand-check: w_big=30, w_small=10, z=40 → pct_big = 100·500·(30/40)/900
    // = 41.67 → 42; pct_small = 100·500·(10/40)/100 = 125 → capped 100
    assert(pctsFlat("big") == 42L && pctsFlat("small") == 100L, pctsFlat.toString)
  }

  test("fixedSizeSample: exactly n per big group, whole group when smaller, deterministic") {
    val docs = ((1L to 100L).map(i => (i, s"t$i", "big")) ++
      (101L to 103L).map(i => (i, s"t$i", "tiny"))).toDF("doc_id", "text", "lang")
    val out = Curation.fixedSizeSample(docs, "doc_id", "lang", n = 10)
      .as[(String, Long)].collect().toSet
    assert(out.count(_._1 == "big") == 10, "big group must keep exactly n")
    assert(out.count(_._1 == "tiny") == 3, "smaller-than-n group keeps all members")
    // same selection as the window formulation it replaces at scale
    import org.apache.spark.sql.expressions.Window
    val h = pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(1000000007L))
    val w = Window.partitionBy("lang").orderBy(h.asc, col("doc_id").asc)
    val expected = docs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("lang"), col("doc_id")).as[(String, Long)].collect().toSet
    assert(out == expected, "bounded-agg sample must equal the window formulation")
    // and a second run selects the identical set
    val again = Curation.fixedSizeSample(docs, "doc_id", "lang", n = 10)
      .as[(String, Long)].collect().toSet
    assert(again == out)
  }

  test("qualityPercentileCut: per-group threshold keeps each group's own top slice") {
    // Group A: long prose docs (high quality) + short fragments; group B:
    // all short fragments. A global threshold would keep nothing from B —
    // the per-group cut must keep B's best relative to B's own percentile.
    val prose = "the quick brown fox jumps over the lazy dog and then " * 10
    val docs = Seq(
      (1L, prose + "it was a very pleasant day in the countryside", "A"),
      (2L, prose, "A"), (3L, "x y", "A"), (4L, "z", "A"),
      (5L, "k l m n o p q r s t u v w", "B"), (6L, "a b", "B"),
      (7L, "c", "B"), (8L, "d e f", "B")
    ).toDF("doc_id", "text", "lang")
    val kept = Curation.qualityPercentileCut(docs, "text", "doc_id", "lang", pct = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.intersect(Set(1L, 2L)).size == 2, "group A's prose docs must survive")
    assert(kept.contains(5L), "group B's best doc must survive ITS OWN percentile cut")
    assert(!kept.contains(7L), "group B's worst doc must be cut")
    // every kept row carries its group's threshold, and quality >= it
    val rows = Curation.qualityPercentileCut(docs, "text", "doc_id", "lang", pct = 0.5)
    assert(rows.filter(col("quality") < col("q_thresh")).count() == 0)
  }

  test("packSequences: exact pack ids and offsets, budget boundary lands in the next pack") {
    // shard A: token counts 3, 4, 5 with budget 4 →
    //   doc 1 starts at 0 (pack 0, off 0), doc 2 at 3 (pack 0, off 3),
    //   doc 3 at 7 (pack 1, off 3); shard B: 4 tokens then a doc starting
    //   exactly at the budget boundary (pack 1, off 0).
    val docs = docsOf(
      (1L, "a b c", "A"), (2L, "a b c d", "A"), (3L, "a b c d e", "A"),
      (10L, "w x y z", "B"), (11L, "q", "B"))
    val out = Curation.packSequences(docs, "text", "doc_id", "src", budgetTokens = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "pack_id", "offset_in_pack")
      .as[(Long, Long, Long, Long)].collect()
    assert(out === Array(
      (1L, 3L, 0L, 0L), (2L, 4L, 0L, 3L), (3L, 5L, 1L, 3L),
      (10L, 4L, 0L, 0L), (11L, 1L, 1L, 0L)))
  }

  test("domainMixSample: rate 100 keeps all, 0 keeps none, default applies, deterministic") {
    val docs = (0L until 100L).map(i =>
      (i, "t", if (i % 2 == 0) "keep" else "drop")).toDF("doc_id", "text", "dom")
    val kept = Curation.domainMixSample(docs, "doc_id", "dom",
      Map("keep" -> 100, "drop" -> 0))
    assert(kept.count() === 50L)
    assert(kept.filter(col("dom") === "drop").count() === 0L)
    assert(kept.agg(max("target_pct")).as[Long].head() === 100L)
    // unknown domain falls back to defaultPct
    val half = Curation.domainMixSample(docs, "doc_id", "dom",
      Map.empty, defaultPct = 50)
    val n1 = half.count(); val n2 = half.count()
    assert(n1 === n2, "hash sampling must be deterministic")
    assert(n1 > 20L && n1 < 80L, s"default 50% should keep roughly half, got $n1")
  }

  test("decontaminate: flags exactly the train docs sharing a shingle with the bench set") {
    // bench doc 0 contains the trigram "alpha beta gamma"; train doc 1
    // repeats it (contaminated: 1 of its 2 distinct shingles), train doc 2
    // shares nothing.
    val bench = docsOf((0L, "alpha beta gamma delta", "b"))
    val train = docsOf(
      (1L, "alpha beta gamma epsilon", "t"),
      (2L, "one two three four five", "t"))
    val out = Dedup.decontaminate(train, bench, "text", "doc_id")
      .orderBy("doc")
      .select("doc", "n_shingles", "n_overlap")
      .as[(Long, Long, Long)].collect()
    assert(out === Array((1L, 2L, 1L)), "only doc 1 is contaminated, by 1 of 2 shingles")
  }

  test("decontaminate: bench side broadcasts — the corpus is probed without a shuffle join") {
    val bench = docsOf((0L, "alpha beta gamma delta", "b"))
    val train = docsOf((1L, "alpha beta gamma epsilon", "t"))
    val plan = Dedup.decontaminate(train, bench, "text", "doc_id")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"),
      "bench shingle set must broadcast-probe the corpus side")
    assert(!plan.contains("SortMergeJoin"),
      "corpus must not shuffle for the membership test")
  }

  test("bpePairCounts: frequency-weighted adjacent pairs, deterministic top pair") {
    // corpus: "low low lower" + "low" → word freqs low×3, lower×1.
    // pairs: (l,o) = 3+1 = 4, (o,w) = 4, (w,e) = 1, (e,r) = 1; single-char
    // words contribute nothing.
    val docs = Seq((1L, "low low lower"), (2L, "low a")).toDF("doc_id", "text")
    val pairs = Curation.bpePairCounts(docs, "text")
      .orderBy("left_sym", "right_sym")
      .as[(String, String, Long)].collect().toSeq
    assert(pairs == Seq(("e", "r", 1L), ("l", "o", 4L), ("o", "w", 4L), ("w", "e", 1L)))
    // top pair: (l,o) and (o,w) tie at 4 — lexicographic tie-break picks (l,o)
    val top = Curation.bpeTopPair(Curation.bpePairCounts(docs, "text"))
      .as[(String, String, Long)].head()
    assert(top == (("l", "o", 4L)))
  }

  test("decontaminateBloom: bit-identical to exact decontaminate on the sf0.001 corpus") {
    // The Bloom stage is pure pre-filtering: false positives die in the
    // exact verify join, so the two forms must agree row-for-row.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = docs.filter(pmod(col("doc_id"), lit(20L)) === 0)
    val train = docs.filter(pmod(col("doc_id"), lit(20L)) =!= 0)
    val exact = Dedup.decontaminate(train, bench, "text", "doc_id")
      .orderBy("doc").collect().toList
    val bloom = Dedup.decontaminateBloom(train, bench, "text", "doc_id")
      .orderBy("doc").collect().toList
    assert(exact.nonEmpty && bloom == exact,
      "Bloom pre-filter must not change the result — only the shuffle volume")
  }

  test("editDistancePairs: banded candidates verify at character level; threshold cuts") {
    // docs 1/2: identical but one substituted word ("dog" → "dpg" — edit
    // distance 1); doc 3: an exact copy of doc 1 (distance 0); doc 4:
    // unrelated (never a band candidate). High shingle overlap guarantees
    // the near-identical family shares LSH bands.
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again while the sun sets slowly behind the quiet green hills tonight"
    val docs = docsOf(
      (1L, base, "t"),
      (2L, base.replace("dog", "dpg"), "t"),
      (3L, base, "t"),
      (4L, "completely different words live in this other document entirely " +
        "nothing shared at all anywhere", "t"))
    val out = Dedup.editDistancePairs(docs, "text", "doc_id", maxDist = 5)
      .orderBy("id_a", "id_b")
      .select("id_a", "id_b", "edit_dist")
      .as[(Long, Long, Long)].collect()
    assert(out === Array((1L, 2L, 1L), (1L, 3L, 0L), (2L, 3L, 1L)),
      s"expected the near-identical family only, got ${out.mkString(",")}")
    // maxDist = 0: only the exact copy survives the thresholded verify
    val strict = Dedup.editDistancePairs(docs, "text", "doc_id", maxDist = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(strict === Array((1L, 3L)))
  }

  test("materialized cluster table: stored labels drive the same survivors as inline") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("clusters").toString + "/labels"
    Dedup.buildClusterTable(docs, "text", "doc_id", dir)
    val stored = Dedup.clusterSurvivors(
      Dedup.readClusterTable(spark, dir), docs, "doc_id", "n_chars")
      .orderBy("cluster_id").collect().toList
    val inline = Dedup.clusterSurvivors(
      Dedup.nearDupClusters(Dedup.minhashNearDups(docs, "text", "doc_id")),
      docs, "doc_id", "n_chars")
      .orderBy("cluster_id").collect().toList
    assert(stored.nonEmpty && stored == inline,
      "survivors from the stored label table must equal the inline derivation")
  }

  test("clusterSurvivors: argmax by priority with lowest-id tie-break") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "cluster_id")
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // tie at 30 → keep id 2
      (7L, 5L), (8L, 4L))
      .toDF("doc_id", "n_chars")
    val out = Dedup.clusterSurvivors(clusters, docs, "doc_id", "n_chars")
      .orderBy("cluster_id")
      .select("cluster_id", "n_members", "keep_id", "kept_priority")
      .as[(Long, Long, Long, Long)].collect()
    assert(out === Array((1L, 3L, 2L, 30L), (7L, 2L, 7L, 5L)))
  }

  test("splitAssignments: full coverage, expected shares, stable under growth") {
    val docs = spark.range(10000).select(col("id").as("doc_id"))
    val splits = Seq("train" -> 90, "val" -> 5, "test" -> 5)
    val a = Curation.splitAssignments(docs, "doc_id", splits).cache()
    // every doc gets exactly one split, shares near the declared pcts
    assert(a.count() == 10000)
    val byName = a.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > 8500 && byName("train") < 9500, s"$byName")
    assert(byName("val") > 250 && byName("val") < 750, s"$byName")
    // STABILITY UNDER GROWTH: adding documents must not move existing ones
    val grown = Curation.splitAssignments(
      spark.range(20000).select(col("id").as("doc_id")), "doc_id", splits)
      .filter(col("doc_id") < 10000)
    assert(a.exceptAll(grown).isEmpty && grown.exceptAll(a).isEmpty,
      "a grown corpus must not re-split the original documents")
    // bad percentage declarations fail fast
    assertThrows[IllegalArgumentException](
      Curation.splitAssignments(docs, "doc_id", Seq("a" -> 50, "b" -> 40)))
    a.unpersist()
  }

  test("bpeTrain: hand-computed merge sequence, greedy apply, early stop and minCount") {
    // vocab: ab x2, abc x1, aaa x1.
    // r1 pairs: (a,b)=3, (b,c)=1, (a,a)=2 -> merge (a,b)
    // r2: (ab,c)=1, (a,a)=2 -> merge (a,a)   [aaa greedily -> [aa, a]]
    // r3: (ab,c)=1, (aa,a)=1 -> lex tie-break: (aa,a)
    // r4: (ab,c)=1 -> merge (ab,c); r5: nothing left -> early stop
    val docs = Seq((1L, "ab ab abc"), (2L, "aaa")).toDF("doc_id", "text")
    val merges = Curation.bpeTrain(docs, "text", numMerges = 10)
    assert(merges == Seq(("a", "b"), ("a", "a"), ("aa", "a"), ("ab", "c")),
      s"merge sequence must match the hand computation: $merges")
    // minCount prunes the tail: only pairs with corpus count >= 2 merge
    val merges2 = Curation.bpeTrain(docs, "text", numMerges = 10, minCount = 2L)
    assert(merges2 == Seq(("a", "b"), ("a", "a")), s"$merges2")
    // APPLY replays the merges: fully-merged words collapse to one symbol,
    // an unseen word segments greedily with the same merges
    val seg = Curation.bpeSegments(
      Seq((1L, "ab abc aaa abba")).toDF("doc_id", "text"), "text", merges)
      .as[(String, Seq[String])].collect().toMap
    assert(seg("ab") == Seq("ab") && seg("abc") == Seq("abc") && seg("aaa") == Seq("aaa"))
    assert(seg("abba") == Seq("ab", "b", "a"), s"${seg("abba")}")
  }

  test("bpeMergeTable records the same merges with their winning counts") {
    val docs = Seq((1L, "ab ab abc"), (2L, "aaa")).toDF("doc_id", "text")
    val rows = Curation.bpeMergeTable(docs, "text", numMerges = 4)
      .orderBy("round")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // counts follow the hand trace in the bpeTrain test above
    assert(rows.toSeq == Seq(
      (1L, "a", "b", "ab", 3L), (2L, "a", "a", "aa", 2L),
      (3L, "aa", "a", "aaa", 1L), (4L, "ab", "c", "abc", 1L)), rows.mkString(";"))
  }

  test("repeatUpsample: copies follow the floor+hash-fraction rule exactly") {
    val docs = (0L until 40L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val rates = Seq(("src0", 0L), ("src1", 7500L), ("src2", 15000L),
      ("src3", 22500L)).toDF("source", "rate_bp")
    val got = Curation.repeatUpsample(docs, "doc_id", "source", rates,
        "source", "rate_bp")
      .groupBy("doc_id").agg(max("copy_idx").as("copies"), count(lit(1)).as("k"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def hash(id: Long) = ((id % 1000003L) * 2654435761L) % 10000L
    (0L until 40L).foreach { id =>
      val bp = (id % 4) * 7500L
      val expect = bp / 10000L + (if (hash(id) < bp % 10000L) 1L else 0L)
      if (expect == 0L) assert(!got.contains(id), s"id $id must drop")
      else assert(got(id) == (expect, expect),
        s"id $id: copy_idx must run 1..$expect, got ${got.get(id)}")
    }
    // rate < 1 epoch degenerates to exactly the Bernoulli downsampler
    val viaAlloc = Curation.allocationSample(docs, "doc_id", "source",
        rates.filter(col("rate_bp") < 10000), "source", "rate_bp")
      .select("doc_id").as[Long].collect().toSet
    val viaRepeat = got.keySet.filter(_ % 4 <= 1)
    assert(viaAlloc == viaRepeat, "sub-epoch upsample == allocationSample keep set")
  }

  // ---- Sequential Poisson weighted sampling ----

  /** The shared Knuth uniform, reimplemented in plain Scala. */
  private def spKey(id: Long, w: Long): Double = {
    val u = ((id % 1000003L) * 2654435761L) % 1000000007L + 1L
    u.toDouble / w
  }

  test("weightedSample matches an independent key computation exactly") {
    val rows = (1L to 100L).map(id => (id, (id % 7) + 1))
    val df = rows.toDF("doc_id", "w")
    val got = Curation.weightedSample(df, "doc_id", "w", n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = rows.map { case (id, w) => (id, w, spKey(id, w)) }
      .sortBy { case (id, _, k) => (k, id) }.take(10)
    assert(got.sortBy(_._1).toSeq == expect.sortBy(_._1).toSeq,
      s"got ${got.toSeq.sortBy(_._1)}")
  }

  test("weightedSample excludes weight-0 rows and favors heavy rows ~proportionally") {
    // ids 1..2000: even ids weight 20, odd ids weight 1, id 2001 weight 0
    val df = ((1L to 2000L).map(id => (id, if (id % 2 == 0) 20L else 1L)) :+ (2001L, 0L))
      .toDF("doc_id", "w")
    val got = Curation.weightedSample(df, "doc_id", "w", n = 200).collect()
    assert(!got.exists(_.getLong(0) == 2001L), "weight-0 row sampled")
    // 20:1 odds per row → expected heavy share ≈ n·(20/21) ≈ 190 of 200;
    // 150 is a generous deterministic bound for this fixture
    val heavy = got.count(_.getLong(1) == 20L)
    assert(heavy > 150, s"heavy-weight rows sampled: $heavy of ${got.length}")
    // and the selection is the exact expected set, not merely biased
    val expectIds = (1L to 2000L).map(id => (id, if (id % 2 == 0) 20L else 1L))
      .map { case (id, w) => (id, spKey(id, w)) }
      .sortBy { case (id, k) => (k, id) }.take(200).map(_._1).toSet
    assert(got.map(_.getLong(0)).toSet == expectIds)
  }

  test("weightedSample is invariant to input partitioning") {
    val df = (1L to 500L).map(id => (id, id % 11 + 1)).toDF("doc_id", "w")
    val a = Curation.weightedSample(df.repartition(1), "doc_id", "w", 50)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    val b = Curation.weightedSample(df.repartition(17), "doc_id", "w", 50)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("linkTables: identical and small-edit records link, unrelated never candidates") {
    val left = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "totally different words entirely here now")
    ).toDF("id", "name")
    val right = Seq(
      (11L, "alpha beta gamma delta epsilon zeta"),        // identical to 1
      (12L, "one two three four five six sevenX"),          // 1 edit from 2
      (13L, "unrelated vocabulary nothing shared at all")   // matches nobody
    ).toDF("rid", "rname")
    val out = Dedup.linkTables(left, "name", "id", right, "rname", "rid",
        maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 11L) -> 0L, (2L, 12L) -> 1L), s"got: $out")
  }

  test("linkTables: maxDist cuts a banded candidate that fails the verify") {
    // Same shingle-heavy prefix (band collision likely) but a long tail
    // of edits: candidate generated, verify must kill it at maxDist=2
    val left = Seq((1L, "aa bb cc dd ee ff gg hh ii jj")).toDF("id", "t")
    val right = Seq((9L, "aa bb cc dd ee ff gg hh XX YY ZZ WW")).toDF("rid", "rt")
    val out = Dedup.linkTables(left, "t", "id", right, "rt", "rid", maxDist = 2)
      .collect()
    assert(out.isEmpty, s"verify must cut the banded candidate: ${out.toSeq}")
  }

  test("splitLeakage: only clusters spanning splits surface, with sorted split lists") {
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L), (5L, 30L))
      .toDF("id", "cluster_id")
    val splits = Seq((1L, "train"), (2L, "train"),   // cluster 10: clean
      (3L, "test"), (4L, "train"),                   // cluster 20: leaks
      (5L, "val")                                    // singleton: clean
    ).toDF("id", "split")
    val out = Curation.splitLeakage(labels, "id", "cluster_id", splits)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(out == Seq((20L, 2L, 2L, "test,train")), s"got: $out")
  }

  test("globalShuffleOrder: a contiguous 0-based permutation matching the hash sort") {
    val ids = (1L to 997L).toDF("doc_id")
    val out = Curation.globalShuffleOrder(ids, "doc_id", buckets = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 997 && out.values.toSet == (0L until 997L).toSet,
      "positions must be a contiguous 0-based permutation")
    // positions agree with the local sort by (knuth hash, id)
    def h(id: Long) = (id % 1000003L) * 2654435761L % 1000000007L
    val expected = (1L to 997L).sortBy(id => (h(id), id)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    assert(out == expected)
  }

  test("globalShuffleOrder is bucket-count- and partitioning-invariant") {
    val ids = (1L to 500L).toDF("doc_id")
    def run(buckets: Int, parts: Int) =
      Curation.globalShuffleOrder(ids.repartition(parts), "doc_id", buckets)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1, 1) == run(64, 13),
      "the permutation is a pure function of the ids — never of bucketing or partitioning")
  }

  test("calibrateScores: tie-aware percentile bp, single-member group pins to 0") {
    val df = Seq(
      (1L, "g", 10.0), (2L, "g", 20.0), (3L, "g", 20.0), (4L, "g", 30.0),
      (5L, "solo", 99.0))
      .toDF("doc_id", "source", "quality")
    val out = Curation.calibrateScores(df, "source", "quality", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // ranks 1,2,2,4 of n=4 → 0, 3333, 3333, 10000
    assert(out == Map(1L -> 0L, 2L -> 3333L, 3L -> 3333L, 4L -> 10000L,
      5L -> 0L), s"got: $out")
  }

  test("calibrateScoresApprox tracks the exact calibration within the grid band") {
    val rows = (0 until 2000).map(i =>
      (i.toLong, s"g${i % 3}", ((i * 7919) % 1000).toDouble))
    val df = rows.toDF("doc_id", "source", "score")
    val exact = Curation.calibrateScores(df, "source", "score", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val approx = Curation.calibrateScoresApprox(df, "source", "score",
        "doc_id", gridSize = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val worst = exact.keys.map(id => math.abs(exact(id) - approx(id))).max
    assert(worst <= 300,
      s"grid calibration must stay within ~3 cells of exact, worst=$worst")
  }

  test("tokenBudget: cap + redistribution hand fixture") {
    val avail = Seq(("a", 10L), ("b", 1000L)).toDF("source", "avail")
    val wts = Seq(("a", 5000L), ("b", 5000L)).toDF("source", "w")
    val out = Curation.tokenBudget(avail, "source", "avail",
        wts, "source", "w", budget = 100L, rounds = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getBoolean(4), r.getLong(5)))).toMap
    // r1: each demands 50; a caps at 10. r2: b demands the remaining 90.
    assert(out("a") == ((10L, true, 10000L)), s"got ${out("a")}")
    assert(out("b") == ((90L, false, 900L)), s"got ${out("b")}")
  }

  test("tokenBudget: zero/missing weight and zero availability allocate 0; oversupply caps all") {
    val avail = Seq(("z", 50L), ("m", 50L), ("e", 0L), ("x", 30L))
      .toDF("source", "avail")
    val wts = Seq(("z", 0L), ("e", 4000L), ("x", 6000L)).toDF("source", "w")
    // budget 1000 ≫ total usable avail → every weighted source caps
    val out = Curation.tokenBudget(avail, "source", "avail",
        wts, "source", "w", budget = 1000L, rounds = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out("z") == ((50L, 0L, 0L, true)), s"zero weight: ${out("z")}")
    assert(out("m") == ((50L, 0L, 0L, true)), s"missing weight: ${out("m")}")
    assert(out("e") == ((0L, 4000L, 0L, true)), s"zero avail: ${out("e")}")
    assert(out("x") == ((30L, 6000L, 30L, true)), s"oversupply: ${out("x")}")
  }

  test("tokenBudget equals a sequential water-filling reference and is partitioning-invariant") {
    val srcs = (0 until 23).map(i => (s"s$i", (i * 37 % 90 + 10).toLong,
      ((i % 5) + 1) * 1000L))
    val budget = 700L
    // sequential twin of the fixed-round schedule
    var capped = srcs.map(s => s._1 -> (s._2 <= 0 || s._3 <= 0)).toMap
    var alloc = srcs.map(s => s._1 -> 0L).toMap
    for (_ <- 0 until 3) {
      val spent = srcs.filter(s => capped(s._1)).map(s => alloc(s._1)).sum
      val wun = srcs.filterNot(s => capped(s._1)).map(_._3).sum
      val newly = scala.collection.mutable.ArrayBuffer.empty[String]
      srcs.filterNot(s => capped(s._1)).foreach { s =>
        val dem = (BigInt(budget - spent) * s._3 / wun).toLong
        alloc += s._1 -> (if (dem >= s._2) s._2 else dem)
        if (dem >= s._2) newly += s._1
      }
      newly.foreach(n => capped += n -> true)
    }
    def run(parts: Int) = Curation.tokenBudget(
      srcs.map(s => (s._1, s._2)).toDF("source", "avail").repartition(parts),
      "source", "avail",
      srcs.map(s => (s._1, s._3)).toDF("source", "w"), "source", "w",
      budget, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val one = run(1)
    assert(one == alloc, s"engine vs sequential:\n$one\nvs\n$alloc")
    assert(one == run(11), "allocation must not depend on partitioning")
  }

  test("trainStump: finds the perfectly-separating split; polarity flips; deterministic tie-break") {
    import spark.implicits._
    // f1 separates perfectly at <=2 (positives low); f2 is noise
    val df = Seq((1L, 9L, true), (2L, 3L, true), (3L, 7L, false),
      (4L, 1L, false)).toDF("f1", "f2", "y")
    val r = Curation.trainStump(df, Seq("f1", "f2"), "y").collect().head
    assert((r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)) ==
      (("f1", 2L, "le_pos", 10000L)), s"got $r")
    // flipped labels -> same split, flipped polarity, same accuracy
    val rf = Curation.trainStump(df.withColumn("y", !$"y"),
      Seq("f1", "f2"), "y").collect().head
    assert((rf.getString(0), rf.getLong(1), rf.getString(2), rf.getLong(3)) ==
      (("f1", 2L, "le_neg", 10000L)), s"got $rf")
    // partition invariance of the argmax
    assert(Curation.trainStump(df.repartition(5), Seq("f1", "f2"), "y")
      .collect().head.toSeq == r.toSeq)
  }

  test("crossValidateStump: per-fold models match training the folds by hand; held-out accuracy exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def foldOf(id: Long, k: Int): Long = ((id % 1000003L) * 2654435761L) % k
    // signal feature f1 (pos iff f1 <= 50) with a little noise; f2 random-ish
    val rows = (1L to 300L).map { i =>
      val pos = (i % 100 < 50) != (i % 17 == 0)
      (i, if (pos) i % 50 else 51 + (i % 40), (i * 7) % 90, pos)
    }
    val df = rows.toDF("id", "f1", "f2", "y")
    val cv = Curation.crossValidateStump(df, "id", Seq("f1", "f2"), "y", 3)
      .orderBy("fold").collect()
    assert(cv.length == 3)
    for (r <- cv) {
      val f = r.getLong(0)
      // re-train on the same folds directly: must agree exactly
      val manual = Curation.trainStump(
        df.filter(expr(s"((id % 1000003) * 2654435761) % 3 <> $f")),
        Seq("f1", "f2"), "y").collect().head
      assert((r.getString(1), r.getLong(2), r.getString(3), r.getLong(4)) ==
        ((manual.getString(0), manual.getLong(1), manual.getString(2),
          manual.getLong(3))), s"fold $f model mismatch")
      // held-out accuracy recomputed sequentially
      val test = rows.filter(t => foldOf(t._1, 3) == f)
      val (feat, thr, pol) = (r.getString(1), r.getLong(2), r.getString(3))
      val correct = test.count { case (_, f1, f2, y) =>
        val v = if (feat == "f1") f1 else f2
        (if (pol == "le_pos") v <= thr else v > thr) == y
      }
      assert(r.getLong(5) == test.size.toLong)
      assert(r.getLong(6) == correct * 10000L / test.size)
    }
    // fold partition: every row in exactly one test fold
    assert((0 until 3).map(f => rows.count(t => foldOf(t._1, 3) == f)).sum ==
      rows.size)
  }

  test("groupSplitAssignments: group-atomic (no group straddles splits); null group fails loudly") {
    import spark.implicits._
    val docs = (1 to 200).map(i => (i.toLong, s"g${i % 12}")).toDF("id", "grp")
    val out = Curation.groupSplitAssignments(docs, "grp",
      Seq(("train", 80), ("test", 20)))
    // atomicity: every group maps to exactly one split
    assert(out.groupBy("grp").agg(countDistinct("split").as("k"))
      .filter($"k" =!= 1).count() == 0L)
    // stability: membership is a pure function of the group key
    assert(out.select("grp", "split").distinct().collect().toSet ==
      Curation.groupSplitAssignments(docs.repartition(7), "grp",
        Seq(("train", 80), ("test", 20)))
        .select("grp", "split").distinct().collect().toSet)
    val nullGrp = Seq((1L, null.asInstanceOf[String])).toDF("id", "grp")
    intercept[Exception] {
      Curation.groupSplitAssignments(nullGrp, "grp",
        Seq(("train", 80), ("test", 20))).collect()
    }
  }

  test("timeSplit: train/embargo/test boundaries are half-open; null ts fails loudly") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts(999)), (2L, ts(1000)),            // train: strictly before end
      (3L, ts(1060)),                            // embargo: inside the gap
      (4L, ts(1000 + 120))                       // test: at/after end+gap
    ).toDF("id", "t")
    val end = new java.sql.Timestamp(1000L * 1000).toString.stripSuffix(".0")
    val out = Curation.timeSplit(ev, "t", end, "2 MINUTES")
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "train", 2L -> "embargo", 3L -> "embargo",
      4L -> "test"), s"got $out")
    intercept[Exception] {
      Curation.timeSplit(Seq((1L, null.asInstanceOf[java.sql.Timestamp]))
        .toDF("id", "t"), "t", end, "2 MINUTES").collect()
    }
  }

  test("curriculumShards: round-robin deal stratifies difficulty per group; ties break by id") {
    import spark.implicits._
    // group g: scores 9,8,7,7,6 (docs 1..5; docs 3,4 tie at 7) → ranks by
    // (score desc, id asc): 1→1, 2→2, 3→3, 4→4, 5→5; shards mod 2: 0,1,0,1,0
    val docs = Seq((1L, "g", 9L), (2L, "g", 8L), (3L, "g", 7L),
      (4L, "g", 7L), (5L, "g", 6L), (6L, "h", 5L)).toDF("id", "grp", "sc")
    val out = Curation.curriculumShards(docs, "id", "sc", "grp", 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(1L -> ((1L, 0L)), 2L -> ((2L, 1L)), 3L -> ((3L, 0L)),
      4L -> ((4L, 1L)), 5L -> ((5L, 0L)), 6L -> ((1L, 0L))), s"got: $out")
    // stratification invariant: within a group, shard sizes differ by <= 1
    val sizes = Curation.curriculumShards(docs, "id", "sc", "grp", 2)
      .groupBy("grp", "shard").count()
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2))).toMap
    assert(sizes("g").max - sizes("g").min <= 1)
  }
}
