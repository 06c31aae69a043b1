package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Similarity-operator properties not already pinned by the oracle queries:
  * the hot-cell guard (a planted mega-cell must produce BOUNDED candidate
  * work, and cells under the cap must be untouched) and the materialized
  * IVF index round-trip. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** n vectors with deterministic pseudo-random float components. */
  private def vecs(n: Int, dim: Int = 8) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(j => (((i * 31 + j * 17) % 100) + 1) / 100.0f))
    }.toDF("id", "v")

  test("blocked pairs: a planted mega-cell is sub-split to bounded candidate counts") {
    // 2000 vectors ALL in one label cell. Uncapped, pair generation is
    // C(2000,2) = 1,999,000 candidates on one reducer — the d² hot key the
    // guard exists for. maxCell=100 → ~20 hash sub-cells → ~Σ C(~100,2) ≈
    // 99k candidates. threshold = -1 keeps every candidate (cosine ≥ -1
    // always), so the output count IS the candidate count.
    val emb = vecs(2000).withColumn("label", lit(0))
    val n = Similarity.blockedNearDupPairs(emb, "v", "id", "label",
      threshold = -1.0, maxCell = 100).count()
    assert(n < 300000L, s"candidates must be bounded by the sub-split, got $n")
    assert(n > 10000L, s"sub-cells must still generate within-cell pairs, got $n")
    // and the audit hook names the offending cell
    val over = Similarity.oversizedCells(
      emb.select(col("label"), col("id")), "label", maxCell = 100).collect()
    assert(over.length == 1 && over(0).getLong(1) == 2000L)
  }

  test("blocked pairs: the DEFAULT maxCell engages on a cell the old cap ignored") {
    // 9000 rows in one cell sits under the old 100k default (which would
    // have generated C(9000,2) ≈ 40.5M pairs on ONE task) but over the
    // tightened 8192: the default must sub-split into 2 hash cells,
    // bounding candidates at ~2·C(4500,2) ≈ 20M spread across tasks.
    val emb = vecs(9000).withColumn("label", lit(0))
    val n = Similarity.blockedNearDupPairs(emb, "v", "id", "label",
      threshold = -1.0).count() // no maxCell arg — the default is the guard
    assert(n < 30000000L, s"default cap must sub-split the 9000-row cell, got $n")
    assert(n > 10000000L, s"sub-cells must still pair within themselves, got $n")
  }

  test("blocked pairs: cells at or under maxCell are untouched (exact results)") {
    val emb = vecs(200).withColumn("label", (col("id") % 4).cast("int"))
    val capped = Similarity.blockedNearDupPairs(emb, "v", "id", "label",
      threshold = 0.9, maxCell = 50) // cells are exactly 50 — not > cap
    val uncapped = Similarity.blockedNearDupPairs(emb, "v", "id", "label",
      threshold = 0.9, maxCell = 100000)
    val a = capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = uncapped.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b, "guard must be a no-op below the cap")
    assert(a.nonEmpty)
  }

  test("LSH pairs: a planted mega-bucket is sub-split to bounded candidate counts") {
    // 1000 IDENTICAL vectors land in one hyperplane bucket (cos = 1 with
    // each other). maxCell=50 → ~20 sub-cells → ~Σ C(~50,2) ≈ 24.5k
    // candidates instead of C(1000,2) = 499.5k.
    val one = Array.tabulate(64)(j => (j + 1) / 64.0f)
    val emb = (0 until 1000).map(i => (i.toLong, one)).toDF("id", "v")
    val n = Similarity.lshNearDupPairs(emb, "v", "id", dim = 64, bits = 8,
      threshold = -1.0, maxCell = 50).count()
    assert(n < 80000L, s"candidates must be bounded by the sub-split, got $n")
    assert(n > 1000L, s"sub-cells must still generate within-cell pairs, got $n")
  }

  test("sub-split is deterministic: identical pair sets across executions") {
    val emb = vecs(500).withColumn("label", lit(0))
    def run() = Similarity.blockedNearDupPairs(emb, "v", "id", "label",
      threshold = 0.5, maxCell = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = run()
    assert(run() == first, "content-hash sub-cells must reproduce exactly")
  }

  test("ivfCellStats: hand-computed cell sizes and shares") {
    val emb = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),          // the two k=2 seeds
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.8f, 0.2f))   // both nearer seed 0
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfCellStats(emb, "embedding", "vec_id", k = 2)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((0L, 3L, 0.75), (1L, 1L, 0.25)), s"got: $out")
  }

  test("knnClassify: majority vote, self-exclusion, corpus-external probe, tie toward smaller label") {
    // axis-1 cluster labeled 1 (v1, v2); axis-2 cluster labeled 0 (v3..v5)
    val emb = Seq(
      (1L, Seq(1f, 0f), 1), (2L, Seq(0.95f, 0.05f), 1),
      (3L, Seq(0.9f, 0.1f), 0), (4L, Seq(0f, 1f), 0), (5L, Seq(0.05f, 0.95f), 0)
    ).toDF("vec_id", "embedding", "label")
    val probes = Seq((100L, Seq(0.97f, 0.03f))).toDF("probe_id", "q_vec")
    def classify(k: Int) =
      Similarity.knnClassify(emb, "embedding", "vec_id", "label", probes, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)))).toSeq
    // k=3: neighbors v1, v2 (label 1), v3 (label 0) → majority 1; probe id
    // absent from the corpus → null true_label/correct
    assert(classify(3) == Seq((100L, 1L, 2L, None, None)))
    // k=4: v5 joins → 2-2 vote tie → smaller label 0 wins
    assert(classify(4) == Seq((100L, 0L, 2L, None, None)))
    // corpus member as probe: self excluded; v4's neighbors at k=3 are
    // v5, v3 (label 0) and v2 (label 1) → pred 0, true 0, correct
    val self = Similarity.knnClassify(emb, "embedding", "vec_id", "label",
      emb.filter(col("vec_id") === 4L)
        .select(col("vec_id").as("probe_id"), col("embedding").as("q_vec")), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(self == Seq((4L, 0L, 2L, 0L, true)), s"got: $self")
  }

  test("ivfProbeBatch: full-nprobe equals the exact batch scan; knnClassifyIndexed agrees; narrow probe stays bounded") {
    val emb = vecs(400, dim = 16).withColumn("label", (col("id") % 5).cast("int"))
    val dir = java.nio.file.Files.createTempDirectory("ivfbatch").toString + "/idx"
    Similarity.buildIvfIndex(emb, "v", "id", kCentroids = 8, indexDir = dir)
    val probes = emb.filter(col("id") % 40 === 0)
      .select(col("id").as("probe_id"), col("v").as("q_vec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "rnk", "vec_id", "cos_sim")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // nprobe = kCentroids probes every cell → identical to the exact scan
    val exact = rows(Similarity.topKBatchFor(emb, "v", "id", probes, k = 10))
    val full = rows(Similarity.ivfProbeBatch(spark, dir, "v", "id", probes,
      k = 10, nprobe = 8))
    assert(full == exact, "full-nprobe batch probe must equal the exact scan")
    // the vote halves agree end-to-end through the indexed path too
    val cls = Similarity.knnClassify(emb, "v", "id", "label", probes, k = 10)
      .collect().map(_.toSeq).toSet
    val clsIdx = Similarity.knnClassifyIndexed(spark, dir, "v", "id", "label",
      probes, k = 10, nprobe = 8).collect().map(_.toSeq).toSet
    assert(clsIdx == cls, "indexed classify must equal exact at full nprobe")
    // narrow probe: ≤ k ordered hits per probe, scores non-increasing
    val narrow = rows(Similarity.ivfProbeBatch(spark, dir, "v", "id", probes,
      k = 10, nprobe = 1))
    narrow.groupBy(_._1).foreach { case (p, hs) =>
      assert(hs.size <= 10 && hs.map(_._2) == (1L to hs.size),
        s"probe $p: bad ranks")
      assert(hs.map(_._4) == hs.map(_._4).sorted.reverse, s"probe $p: bad order")
    }
  }

  test("embeddingHealthCard: hand-computed counts, ragged dims, exact norm micro-sum") {
    val emb = Seq(
      (1L, Seq(3f, 4f), 1),                 // norm 5
      (2L, Seq(0f, 0f), 1),                 // zero-norm
      (3L, Seq(1f, Float.NaN), 2),          // NaN-poisoned
      (4L, Seq(2f, 2f, 1f), 2),             // norm 3, ragged dim
      (5L, null: Seq[Float], 2)             // NULL vector — counts as BAD
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingHealthCard(emb, "embedding", "label")
      .orderBy("label")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // label 2: the null vector joins n_vectors AND n_nonfinite — under raw
    // three-valued logic it would vanish from every bucket (the
    // gateAttrition NULL-flag hole)
    assert(out == Seq(
      (1L, 2L, 0L, 1L, 2L, 2L, 5000000L),
      (2L, 3L, 2L, 0L, 2L, 3L, 3000000L)), s"got: $out")
  }

  test("materialized IVF index: build once then probe k hits with one dir per cell") {
    val emb = vecs(400, dim = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/idx"
    Similarity.buildIvfIndex(emb, "v", "id", kCentroids = 4, indexDir = dir)
    val indexed = Similarity.ivfProbeById(spark, dir, "v", "id",
      queryId = 7L, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(indexed.length == 5)
    // index layout: one directory per centroid cell
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
    assert(cellDirs.length == 4, s"expected 4 cell directories, got ${cellDirs.map(_.getName).toList}")
  }

  test("kmeans: refit converges to the planted cluster directions") {
    // Two well-separated direction clusters; seeds (ids 0 and 1) land one
    // in each. Axis-heavy base vectors with small deterministic jitter.
    val rows = (0 until 100).map { i =>
      val inA = i % 2 == 0 // even ids (incl. seed 0) → cluster A, odd → B
      val base = if (inA) Array(10f, 0f, 0f, 0f) else Array(0f, 10f, 0f, 0f)
      val jit = Array.tabulate(4)(j => ((i * 13 + j * 7) % 10) / 50.0f)
      (i.toLong, base.zip(jit).map { case (b, e) => b + e })
    }.toDF("id", "v")
    val centroids = Similarity.kmeansCentroids(rows, "v", "id", k = 2, iters = 3)
      .collect()
    assert(centroids.length == 2)
    val assigned = Similarity.assignToCentroids(rows, "v", "id",
      Similarity.kmeansCentroids(rows, "v", "id", k = 2, iters = 3))
    // every even id shares a cell with seed-derived centroid 0, odds with 1
    val wrong = assigned.filter(
      (pmod(col("id"), lit(2)) === 0 && col("centroid_id") =!= 0) ||
      (pmod(col("id"), lit(2)) === 1 && col("centroid_id") =!= 1)).count()
    assert(wrong == 0, s"$wrong vectors landed in the wrong planted cluster")
  }

  test("batched top-k agrees with the single-probe exact form for every probe") {
    val emb = vecs(300)
    val batch = Similarity.bruteForceTopKBatch(emb, "v", "id",
      probeIds = Seq(0L, 5L, 9L), k = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    for (p <- Seq(0L, 5L, 9L)) {
      val single = Similarity.bruteForceTopK(emb, "v", "id", p, 7).collect()
        .zipWithIndex.map { case (r, i) => (p, i + 1L, r.getLong(0), r.getDouble(1)) }
      val got = batch.filter(_._1 == p).sortBy(_._2)
      assert(got.toSeq == single.toSeq, s"probe $p: batch != single-probe top-k")
    }
  }

  test("TopKHits aggregate: bounded state, exact tie-break by smaller id") {
    import graft.functions.{Hit, TopKHits}
    val agg = new TopKHits(3)
    // reduce never grows past k, and equal scores keep the smaller id
    val hits = Seq(Hit(0.5, 10), Hit(0.9, 7), Hit(0.9, 4), Hit(0.7, 2), Hit(0.9, 9))
    val reduced = hits.foldLeft(agg.zero)(agg.reduce)
    assert(reduced.size == 3)
    assert(reduced == Seq(Hit(0.9, 4), Hit(0.9, 7), Hit(0.9, 9)))
    // merge of two partials == reduce over the concatenated stream
    val (l, r) = hits.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged == reduced, "merge must equal single-stream reduce")
  }

  test("quantizeInt8: codes in [0,254], dequant error within the half-step bound, degenerate dim -> 0") {
    val emb = vecs(200).withColumn("v",
      // plant a constant dimension by overwriting index 0
      expr("transform(v, (x, i) -> case when i = 0 then cast(7.5 as float) else x end)"))
    val codes = Similarity.quantizeInt8(emb, "v", "id")
    val stats = emb.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
    val exploded = emb.select(col("id").as("id2"), posexplode(col("v")).as(Seq("p2", "x")))
    val joined = codes.join(stats, codes("pos") === stats("pos"))
      .join(exploded, codes("id") === col("id2") && codes("pos") === col("p2"))
    val bad = joined.filter(col("code") < 0 || col("code") > 254).count()
    assert(bad == 0, "codes must stay in [0, 254]")
    // dequantized value within half a quantization step of the original
    val err = joined.filter(col("hi") =!= col("lo"))
      .select(abs(col("x").cast("double") -
        (col("lo") + col("code") / 254.0 * (col("hi") - col("lo"))))
        .as("e"), ((col("hi") - col("lo")) / 254.0 / 2.0 + 1e-9).as("bound"))
    assert(err.filter(col("e") > col("bound")).count() == 0,
      "dequantization error must stay within half a step")
    // the planted constant dimension codes to 0 everywhere
    val const0 = codes.filter(col("pos") === 0).select("code").distinct().collect()
    assert(const0.map(_.getLong(0)).toSeq == Seq(0L), "degenerate dim must code to 0")
  }

  test("quantizeInt8: a NaN entry is dropped, not allowed to poison its dimension") {
    val emb = vecs(50).withColumn("v",
      // vector 0 gets NaN in dimension 1
      expr("case when id = 0 then transform(v, (x, i) -> " +
        "case when i = 1 then cast('NaN' as float) else x end) else v end"))
    val codes = Similarity.quantizeInt8(emb, "v", "id").cache()
    // the bad (id=0, pos=1) cell is absent; every other cell of dim 1 codes fine
    assert(codes.filter(col("id") === 0 && col("pos") === 1).count() == 0)
    assert(codes.filter(col("pos") === 1).count() == 49)
    assert(codes.filter(col("code") < 0 || col("code") > 254).count() == 0,
      "remaining codes must stay in range — NaN must not poison the codebook")
    codes.unpersist()
  }

  test("appendToIvfIndex: incremental build probes identically to a one-shot build") {
    // Build on the first half, append the second; the delta assigns
    // against the STORED centroids (ids < k live in the first half), so
    // the incremental index must be logically identical to the one-shot —
    // pinned by comparing probes.
    val all = vecs(100)
    val dirInc = java.nio.file.Files.createTempDirectory("ivf-inc").toString + "/idx"
    val dirFull = java.nio.file.Files.createTempDirectory("ivf-full").toString + "/idx"
    Similarity.buildIvfIndex(all.filter(col("id") < 50), "v", "id", kCentroids = 4, dirInc)
    Similarity.appendToIvfIndex(all.filter(col("id") >= 50), "v", "id", dirInc)
    Similarity.buildIvfIndex(all, "v", "id", kCentroids = 4, dirFull)
    val pInc = Similarity.ivfProbeById(spark, dirInc, "v", "id", queryId = 7L, k = 5, nprobe = 2)
      .collect().toSeq
    val pFull = Similarity.ivfProbeById(spark, dirFull, "v", "id", queryId = 7L, k = 5, nprobe = 2)
      .collect().toSeq
    assert(pInc.nonEmpty && pInc == pFull,
      s"incremental and one-shot indexes must probe identically: $pInc vs $pFull")
    // and the appended vectors are actually reachable: a probe for a
    // second-half vector finds second-half neighbors
    val ids = Similarity.ivfProbeById(spark, dirInc, "v", "id", queryId = 70L, k = 5, nprobe = 4)
      .select("id").as[Long].collect().toSet
    assert(ids.exists(_ >= 50), s"appended vectors must be probe-reachable: $ids")
    // retry idempotency: a foreachBatch replay re-appends the same delta;
    // the anti-join against ids already in the target cells must make the
    // replay a no-op — no duplicate vector rows, probes unchanged
    val before = spark.read.parquet(dirInc).count()
    Similarity.appendToIvfIndex(all.filter(col("id") >= 50), "v", "id", dirInc)
    assert(spark.read.parquet(dirInc).count() == before,
      "a replayed append must add nothing")
    assert(Similarity.ivfProbeById(spark, dirInc, "v", "id", queryId = 7L,
      k = 5, nprobe = 2).collect().toSeq == pFull,
      "probes must be unchanged after a replayed append")
  }

  test("semDedup: in-cell cosine dups drop, lowest id survives, distinct content kept") {
    // One-hot directions: cos = 1.0 for the same axis, 0.0 across axes.
    // Seeds (k=2) are e0 and e1; every vector tie-breaks to its true cell.
    // id 3 duplicates id 0's direction (cell 0) and id 5 duplicates id 1's
    // (scaled ×2 — SAME direction, different magnitude: cosine dedup must
    // treat it as a dup). ids 2 and 4 are unique axes → kept.
    def oneHot(axis: Int, scale: Float = 1f) =
      Array.tabulate(8)(j => if (j == axis) scale else 0f)
    val emb = Seq(
      (0L, oneHot(0)), (1L, oneHot(1)), (2L, oneHot(2)),
      (3L, oneHot(0)), (4L, oneHot(3)), (5L, oneHot(1, 2f))
    ).toDF("id", "v")
    val kept = Similarity.semDedup(emb, "v", "id", k = 2, threshold = 0.99)
      .as[Long].collect().sorted
    assert(kept === Array(0L, 1L, 2L, 4L),
      "3 (dup of 0) and 5 (same direction as 1) must drop; one rep per neighborhood survives")
  }

  test("kmeans: an emptied cell keeps its centroid (k stays k)") {
    // Seeds are ids 0 and 1 with IDENTICAL vectors: every vector ties
    // between the two centroids and the tie-break always picks the smaller
    // id, so cell 1 attracts zero members in the refit. Without the
    // carry-forward, kmeansCentroids would silently return 1 centroid.
    val rows = (0 until 20).map { i =>
      (i.toLong, if (i <= 1) Array(1f, 1f, 0f, 0f)
                 else Array(1f, 1f, (i % 3) / 10f, 0f))
    }.toDF("id", "v")
    val centroids = Similarity.kmeansCentroids(rows, "v", "id", k = 2, iters = 2)
    assert(centroids.count() == 2,
      "an emptied cell must carry its previous centroid forward, not vanish")
    assert(centroids.select("centroid_id").as[Int].collect().sorted === Array(0, 1))
  }

  test("kmeans: one ivfRefit step reproduces hand-computed per-dimension means") {
    // two cells of two vectors each, trivially separable
    val rows = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(3.0f, 0.0f)),   // cell 0
      (1L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 5.0f))).toDF("id", "v") // cell 1
    val assigned = Similarity.ivfAssign(rows, "v", "id", k = 2)
    val refit = Similarity.ivfRefit(rows, "v", "id", assigned)
      .orderBy("centroid_id", "pos")
      .select("centroid_id", "pos", "mean_val", "n_members")
      .as[(Long, Int, Double, Long)].collect()
    assert(refit === Array(
      (0L, 0, 2.0, 2L), (0L, 1, 0.0, 2L),
      (1L, 0, 0.0, 2L), (1L, 1, 3.0, 2L)))
  }

  // ---- cluster-diversity sampling ----

  test("clusterSample: exact keep percentages and membership on planted skewed cells") {
    // two orthogonal-axis cells: ids 0/1 are the centroids ([1,0,..],
    // [0,1,..]); 40 members hug axis 0, 8 hug axis 1 → cells of 41 and 9.
    // alpha=0.5 flattens: w = round(√n·1e6); expected keep_pct and the
    // exact kept-id set re-derived in plain Scala below.
    def axisVec(axis: Int, noise: Int): Array[Float] =
      Array.tabulate(4)(j => if (j == axis) 1.0f else noise / 1000f)
    val members =
      (2L to 41L).map(i => (i, axisVec(0, (i % 5).toInt))) ++
        (42L to 49L).map(i => (i, axisVec(1, (i % 5).toInt)))
    val emb = ((0L, axisVec(0, 0)) +: (1L, axisVec(1, 0)) +: members)
      .toDF("vec_id", "embedding")
    val out = Similarity.clusterSample(emb, "embedding", "vec_id",
      k = 2, alpha = 0.5, targetTotal = 24L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val cellOf = (0L to 49L).map(id => id -> (if (id == 1L || id >= 42L) 1L else 0L)).toMap
    val sizes = cellOf.values.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val w = sizes.view.mapValues(n => math.round(math.sqrt(n) * 1e6)).toMap
    val z = w.values.sum.toDouble
    val pct = sizes.map { case (c, n) =>
      c -> math.min(100L, math.round(100.0 * 24L * (w(c) / z) / n))
    }
    val expectKept = cellOf.filter { case (id, c) =>
      ((id % 1000003L) * 2654435761L) % 100L < pct(c)
    }
    assert(out.keySet == expectKept.keySet, s"kept ids: ${out.keySet} vs $expectKept")
    out.foreach { case (id, (cell, kp)) =>
      assert(cell == cellOf(id), s"vec $id assigned to $cell")
      assert(kp == pct(cell), s"cell $cell keep_pct $kp vs ${pct(cell)}")
    }
    // the sparse cell keeps a higher share than the dense one (diversity)
    assert(pct(1L) > pct(0L))
  }

  test("semanticDecontaminate: near-bench vectors drop, orthogonal and zero-norm rows survive") {
    val bench = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Array(0.99f, 0.1f, 0f, 0f)),  // near the bench vector → dropped
      (2L, Array(0f, 1f, 0f, 0f)),       // orthogonal → kept
      (3L, Array(0f, 0f, 0f, 0f))        // zero norm → NaN cosine → kept
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDecontaminate(train, bench, "embedding",
      "vec_id", threshold = 0.35)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L), s"got: $kept")
  }

  test("silhouetteByLabel: separated clusters score near 1, merged labels score ~0") {
    // two orthogonal directions; labels 0/1 match them exactly, label 2
    // straddles both (its centroid sits between → poor silhouette)
    def v(x: Float, y: Float) = Array(x, y, 0.01f, 0.01f)
    val emb = Seq(
      (0L, 0, v(1f, 0f)), (1L, 0, v(0.9f, 0.1f)),
      (2L, 1, v(0f, 1f)), (3L, 1, v(0.1f, 0.9f)),
      (4L, 2, v(1f, 0.05f)), (5L, 2, v(0.05f, 1f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.silhouetteByLabel(emb, "embedding", "vec_id", "label")
      .orderBy("label")
      .as[(Int, Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(0, 1, 2))
    assert(out.forall(_._2 == 2L))
    val byLabel = out.map(t => t._1 -> t._3).toMap
    assert(byLabel(0) > 0.5 && byLabel(1) > 0.5, s"tight clusters: $out")
    assert(byLabel(2) < byLabel(0) && byLabel(2) < 0.2, s"straddler: $out")
  }

  test("dimStats: exact moments on the 1e-4 grid, non-finite rows dropped") {
    val emb = Seq(
      (0L, Array(0.1f, 1.0f, Float.NaN)),
      (1L, Array(0.3f, 1.0f, 2.0f)),
      (2L, Array(0.2f, 1.0f, Float.PositiveInfinity))
    ).toDF("vec_id", "embedding")
    val out = Similarity.dimStats(emb, "embedding")
      .orderBy("pos")
      .as[(Long, Long, Double, Double)].collect().toSeq
    // dim0: mean 0.2, population var = ((0.1-0.2)²+(0.3-0.2)²+0)/3 = 0.02/3
    assert(out(0) == (0L, 3L, 0.2, 0.006667), s"got: ${out(0)}")
    assert(out(1) == (1L, 3L, 1.0, 0.0), s"got: ${out(1)}")
    assert(out(2) == (2L, 1L, 2.0, 0.0), s"got: ${out(2)}") // finite row only
  }

  test("knnGraph: neighbors stay in-cell, ranks follow cosine, k bounds the fan-out") {
    // Two orthogonal families → two quantizer cells (seeds id 0 and 1).
    // x-family: ids 0,2,3 along +x (varying magnitude); y-family: 1,4.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(2.0f, 0.1f, 0.0f)),
      (3L, Array(3.0f, 0.0f, 0.1f)),
      (4L, Array(0.0f, 5.0f, 0.1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(emb, "embedding", "vec_id", k = 2,
        kNeighbors = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val bySrc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // cells: {0,2,3} on x, {1,4} on y — no cross-cell edges
    assert(bySrc(0L).toSet.subsetOf(Set(2L, 3L)), s"got: $bySrc")
    assert(bySrc(1L) == Seq(4L) && bySrc(4L) == Seq(1L), s"got: $bySrc")
    assert(out.forall(_._2 <= 2), "fan-out must be bounded by kNeighbors")
    // rank 1 for id 0 is the most-cosine-similar cellmate (id 2 carries a
    // small +y component; id 3's +z tilt is smaller → cos(0,3) > cos(0,2))
    assert(bySrc(0L).head == 3L, s"got: $bySrc")
  }

  test("defaultCells: floor-sqrt with [8, 65536] clamps; AutoCells wires through") {
    // the pure formula: ⌊√n⌋ clamped — engine-portable as
    // greatest(8, least(65536, floor(sqrt(n))))
    assert(Similarity.defaultCells(0) == 8)
    assert(Similarity.defaultCells(63) == 8)      // √63 ≈ 7.94 → clamp up
    assert(Similarity.defaultCells(64) == 8)
    assert(Similarity.defaultCells(500) == 22)    // √500 ≈ 22.36
    assert(Similarity.defaultCells(50000) == 223) // √50000 ≈ 223.6
    assert(Similarity.defaultCells(Long.MaxValue) == 65536) // clamp down
    // AutoCells resolves to defaultCells(count) inside the entry points:
    // identical output to the explicit k on the same corpus
    val emb = vecs(100).toDF("vec_id", "embedding")
    val auto = Similarity.ivfAssign(emb, "embedding", "vec_id",
        Similarity.AutoCells)
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    val explicit = Similarity.ivfAssign(emb, "embedding", "vec_id",
        Similarity.defaultCells(100))
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    assert(auto == explicit)
    assert(auto.map(_._2).size > 8, "k=10 at n=100 — more than 8 cells must exist")
  }

  test("contrastiveTriplets: positive shares the cell, negative never does, tail drops") {
    // Two orthogonal families → two cells (seeds 0, 1): x-cell {0,2,3,4},
    // y-cell {1,5}. Sizes differ → the negative rank wraps modulo 2.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(2.0f, 0.0f)), (3L, Array(3.0f, 0.0f)),
      (4L, Array(4.0f, 0.0f)), (5L, Array(0.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.contrastiveTriplets(emb, "embedding", "vec_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    val xCell = Set(0L, 2L, 3L, 4L); val yCell = Set(1L, 5L)
    // anchors: every cell member except the last of each cell (4 and 5)
    assert(out.map(_._1) == Seq(0L, 1L, 2L, 3L), s"got: $out")
    out.foreach { case (a, p, n) =>
      val cell = if (xCell(a)) xCell else yCell
      assert(cell(p), s"positive must share the anchor's cell: ($a,$p,$n)")
      assert(!cell(n), s"negative must come from the other cell: ($a,$p,$n)")
    }
    // rank wrap: x-cell anchors at ranks 1..3 map to y-cell ranks 1,2,1
    val negs = out.filter(t => xCell(t._1)).map(_._3)
    assert(negs == Seq(1L, 5L, 1L), s"got: $negs")
  }

  test("embeddingDrift: stable cluster ≈ 1, rotated cluster drops, one-sided label is NULL") {
    def cluster(label: Int, ids: Range, dir: Array[Float]) =
      ids.map(i => (i.toLong, label,
        dir.map(x => x + (i % 3) * 0.01f)))
    val xDir = Array(1.0f, 0.0f, 0.0f); val yDir = Array(0.0f, 1.0f, 0.0f)
    val ref = (cluster(0, 0 until 10, xDir) ++ cluster(1, 10 until 20, yDir) ++
      cluster(2, 20 until 25, xDir)).toDF("vec_id", "label", "embedding")
    // cur: label 0 stays on +x (stable), label 1 rotates to +x (drifted),
    // label 2 vanishes
    val cur = (cluster(0, 100 until 110, xDir) ++
      cluster(1, 110 until 120, xDir)).toDF("vec_id", "label", "embedding")
    val out = Similarity.embeddingDrift(ref, cur, "embedding", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(out(0L)._3 > 0.999, s"stable cluster must score ~1: ${out(0L)}")
    assert(out(1L)._3 < 0.1, s"rotated cluster must drop: ${out(1L)}")
    assert(out(2L)._1 == 5L && out(2L)._2 == 0L && out(2L)._3.isNaN,
      s"vanished label keeps its row with NULL cosine: ${out(2L)}")
  }

  test("pqCodes: seed vectors encode to themselves with zero error") {
    val emb = vecs(20, dim = 8)
    val out = Similarity.pqCodes(emb, "v", "id", m = 2, k = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 40, "one code per (vector, subspace)")
    for (id <- 0L until 4L; sub <- 0L until 2L)
      assert(out((id, sub)) == ((id, 0.0)),
        s"seed $id sub $sub must self-encode: ${out((id, sub))}")
    // every non-seed row picked SOME code with finite non-negative error
    assert(out.values.forall { case (c, d) => c >= 0 && c < 4 && d >= 0.0 })
  }

  test("pqTopK: an exact duplicate of the query scores ADC distance 0") {
    // id 100 duplicates id 0 (the query) exactly, so its codes coincide
    // with the query's own cells and its ADC distance is exactly 0. Other
    // vectors quantized into the same (sub, code) cells are
    // indistinguishable at ADC resolution — scoring 0 too is the PQ
    // contract (re-rank the winners full-precision to separate them), so
    // the assertion is membership-with-zero, not strict rank 1.
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(j => (((i * 31 + j * 17) % 100) + 1) / 100.0f))
    }
    val dup = (100L, base.head._2)
    val emb = (base :+ dup).toDF("id", "v")
    val out = Similarity.pqTopK(emb, "v", "id", queryId = 0L,
        m = 2, k = 4, dim = 8, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out.size == 5)
    assert(out.contains((100L, 0.0)), s"exact dup must score 0: $out")
    assert(out.map(_._2) == out.map(_._2).sorted, "ascending ADC order")
    assert(!out.map(_._1).contains(0L), "the query never matches itself")
  }

  test("ivfPqProbe: pruned-cell ADC equals inline PQ restricted to the probed cells") {
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => (((i * 31 + j * 17) % 100) + 1) / 100.0f))
    }
    val emb = base.toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toFile
      .getAbsolutePath + "/idx"
    Similarity.buildIvfPqIndex(emb, "v", "id", kCentroids = 4,
      m = 2, kCodes = 4, dim = 8, dir)
    val probe = Seq(Tuple1(base.head._2)).toDF("q_vec")
    val got = Similarity.ivfPqProbe(spark, dir, "id", probe,
        excludeId = 0L, m = 2, dim = 8, nprobe = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // sequential reference for the probed cells: rank the 4 seed
    // centroids by cosine to the query, take the best 2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    def r4d(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val probedCells = (0 until 4)
      .map(c => c.toLong -> r4d(cos(base.head._2, base(c)._2)))
      .sortBy { case (c, s) => (-s, c) }.take(2).map(_._1).toSet
    val assigned = Similarity.ivfAssign(emb, "v", "id", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference result: inline ADC over the whole corpus, restricted to
    // members of the probed cells, cut to 5
    val inline = Similarity.pqTopK(emb, "v", "id", queryId = 0L,
        m = 2, k = 4, dim = 8, topK = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter { case (id, _) => probedCells(assigned(id)) }
      .take(5).toSeq
    assert(got == inline,
      s"pruned probe must equal inline ADC over the probed cells:\n$got\nvs\n$inline")
  }

  test("IVF-PQ recall is measurable with recallAtK and nprobe=all covers ADC's shortlist") {
    // the parameter-gate workflow the probe docstring prescribes: measure
    // recall@k against brute-force before committing nprobe to a corpus
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => (((i * 31 + j * 17) % 100) + 1) / 100.0f))
    }
    val emb = base.toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivfpqrec").toFile
      .getAbsolutePath + "/idx"
    Similarity.buildIvfPqIndex(emb, "v", "id", kCentroids = 4,
      m = 2, kCodes = 4, dim = 8, dir)
    val probe = Seq(Tuple1(base.head._2)).toDF("q_vec")
    val exact = Similarity.bruteForceTopK(emb, "v", "id", queryId = 0L, k = 10)
    def recall(nprobe: Int): Double = Similarity.recallAtK(exact,
        Similarity.ivfPqProbe(spark, dir, "id", probe, excludeId = 0L,
          m = 2, dim = 8, nprobe = nprobe, topK = 10), "id")
      .collect().head.getDouble(2)
    val r1 = recall(1); val r4n = recall(4)
    assert(r4n >= r1, s"recall must be monotone in nprobe: $r1 vs $r4n")
    assert(r4n >= 0.4 && r4n <= 1.0,
      s"all-cells ADC recall is bounded by code resolution, not pruning: $r4n")
  }

  test("forgetFromIndex: only hit cells rewrite, forgotten ids vanish from probes, idempotent") {
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => (((i * 31 + j * 17) % 100) + 1) / 100.0f))
    }
    val emb = base.toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("forgetidx").toFile
      .getAbsolutePath + "/idx"
    Similarity.buildIvfIndex(emb, "v", "id", kCentroids = 4, indexDir = dir)
    val before = spark.read.parquet(dir).count()
    // remember the bytes of an untouched cell to prove it never rewrites
    val assigned = Similarity.ivfAssign(emb, "v", "id", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val victim = 25L
    val untouchedCell = assigned.values.toSet.find(_ != assigned(victim)).get
    def cellFiles(c: Long) = new java.io.File(s"$dir/centroid_id=$c")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val untouchedBefore = cellFiles(untouchedCell)
    val removed = Similarity.forgetFromIndex(spark, dir, "id",
      Seq(victim).toDF("id"))
    assert(removed == 1L)
    assert(spark.read.parquet(dir).count() == before - 1)
    assert(!spark.read.parquet(dir).filter(col("id") === victim).columns.isEmpty &&
      spark.read.parquet(dir).filter(col("id") === victim).count() == 0,
      "the forgotten id must be gone")
    assert(cellFiles(untouchedCell) == untouchedBefore,
      "cells without matches must not rewrite (byte-identical files)")
    // probes no longer see the victim
    val probe = Seq(Tuple1(base(victim.toInt)._2)).toDF("q_vec")
    val hits = Similarity.ivfProbe(spark, dir, "v", "id", probe,
        excludeId = -1L, k = 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(!hits.contains(victim), s"probe must not resurface the forgotten id: $hits")
    // idempotent replay
    assert(Similarity.forgetFromIndex(spark, dir, "id",
      Seq(victim).toDF("id")) == 0L)
  }

  test("residual IVF-PQ: the exact dup of a seed encodes to residual distance 0") {
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(j => (((i * 31 + j * 17) % 100) + 1) / 100.0f))
    }
    val emb = (base :+ ((100L, base(5)._2))).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivfpqr").toFile
      .getAbsolutePath + "/idx"
    Similarity.buildIvfPqResidualIndex(emb, "v", "id", kCentroids = 4,
      m = 2, kCodes = 4, dim = 8, dir)
    // the stored residual codebook must NOT be degenerate: seeds come
    // from ids ≥ kCentroids, whose residuals are nonzero (seeding from
    // the centroids' own zero residuals would erase in-cell resolution)
    val cbSubs = spark.read.parquet(dir + ".codebook")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](2).toVector))
    assert(cbSubs.groupBy(_._1).forall(_._2.map(_._2).distinct.size > 1),
      s"each subspace needs >1 distinct code vector: ${cbSubs.toSeq}")
    assert(cbSubs.exists(_._2.exists(_ != 0.0)), "codes must be nonzero")
    // id 100 duplicates id 5 — a residual-codebook SEED DONOR (id in
    // [kCentroids, kCentroids+kCodes)) — so its residual reproduces its
    // own seed codes and the query-residual LUT scores it exactly 0
    val probe = Seq(Tuple1(base(5)._2)).toDF("q_vec")
    val out = Similarity.ivfPqResidualProbe(spark, dir, "id", probe,
        excludeId = 5L, m = 2, dim = 8, nprobe = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out.contains((100L, 0.0)),
      s"the residual-seed duplicate must score 0: $out")
    assert(out.map(_._2) == out.map(_._2).sorted, "ascending ADC order")
    assert(!out.map(_._1).contains(5L), "the query never matches itself")
    // deterministic: a rebuilt index probes identically
    Similarity.buildIvfPqResidualIndex(emb, "v", "id", kCentroids = 4,
      m = 2, kCodes = 4, dim = 8, dir)
    val again = Similarity.ivfPqResidualProbe(spark, dir, "id", probe,
        excludeId = 5L, m = 2, dim = 8, nprobe = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(again == out, "rebuild + reprobe must be bit-identical")
  }

  test("pqProbeIndexed over the stored index equals the inline pqTopK") {
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(j => (((i * 31 + j * 17) % 100) + 1) / 100.0f))
    }
    val emb = base.toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toFile
      .getAbsolutePath + "/codes"
    Similarity.buildPqIndex(emb, "v", "id", m = 2, k = 4, dim = 8, dir)
    val probe = Seq(Tuple1(base.head._2)).toDF("q_vec")
    val stored = Similarity.pqProbeIndexed(spark, dir, "id", probe,
        excludeId = 0L, m = 2, dim = 8, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = Similarity.pqTopK(emb, "v", "id", queryId = 0L,
        m = 2, k = 4, dim = 8, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == inline,
      s"stored-index probe must equal the inline op:\n$stored\nvs\n$inline")
  }

  test("pqRerank: the exact dup ADC leaves ambiguous lands at rank 1 with cosine 1") {
    // same fixture as the ADC test: id 100 duplicates the query exactly;
    // ADC scores it 0 but can't separate cellmates — the rerank must.
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(j => (((i * 31 + j * 17) % 100) + 1) / 100.0f))
    }
    val emb = (base :+ ((100L, base.head._2))).toDF("id", "v")
    val out = Similarity.pqRerank(emb, "v", "id", queryId = 0L,
        m = 2, k = 4, dim = 8, shortlist = 12, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out.head == ((100L, 1.0)),
      s"full-precision rerank must put the exact dup first: $out")
    assert(out.map(_._2) == out.map(_._2).sorted.reverse, "descending cosine")
    assert(!out.map(_._1).contains(0L), "the query never matches itself")
  }

  test("marginMining: hand-computed ratio margins, one best pair per A, threshold cut") {
    // orthogonal axes → clean cosines: a1≡b1 (axis x), a2≡b3 (axis y),
    // b5/b7 pure distractors. cq(a1,b1)=10000, everything else 0.
    def axis(i: Int) = Array.tabulate(4)(j => if (j == i) 1.0f else 0.0f)
    val aSide = Seq((0L, axis(0)), (2L, axis(1))).toDF("vec_id", "embedding")
    val bSide = Seq((1L, axis(0)), (3L, axis(1)), (5L, axis(2)),
      (7L, axis(3))).toDF("vec_id", "embedding")
    val out = Similarity.marginMining(aSide, bSide, "embedding", "vec_id",
        cells = 1, kNN = 4, thresholdBp = 20000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // sa=10000/ca=4 per A; sb=10000/cb=2 per matched B →
    // margin = (1e4·2·4·2·1e4) div (1e4·2 + 1e4·4) = 26666
    assert(out == Map(0L -> ((1L, 1.0, 26666L)), 2L -> ((3L, 1.0, 26666L))),
      s"got: $out")
    val none = Similarity.marginMining(aSide, bSide, "embedding", "vec_id",
        cells = 1, kNN = 4, thresholdBp = 30000L).count()
    assert(none == 0L, "a threshold above every margin must mine nothing")
  }

  test("marginMining is partitioning-invariant") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat)))
    val aS = vecs.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val bS = vecs.filter(_._1 % 2 == 1).toDF("vec_id", "embedding")
    def run(parts: Int) = Similarity.marginMining(
      aS.repartition(parts), bS.repartition(parts), "embedding", "vec_id",
      cells = 4, kNN = 3, thresholdBp = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val one = run(1)
    assert(one.nonEmpty, "the fixture must mine at least one pair")
    assert(one == run(7))
  }

  test("randomProjection equals a sequential signed-sum reference; scaling flips exactly") {
    val dim = 16; val k = 4
    val v = Array.tabulate(dim)(j => ((j * 13 % 21) - 10) / 10.0f)
    val neg = v.map(-_)
    val emb = Seq((1L, v), (2L, v), (3L, neg)).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(emb, "embedding", "vec_id",
        outDims = k, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def ref(x: Array[Float], kk: Int): Long = (0 until dim).map { d =>
      val q = math.round(x(d).toDouble * 10000)
      if (Similarity.jlSign(kk, d) > 0) q else -q
    }.sum
    (0 until k).foreach { kk =>
      assert(out((1L, kk.toLong)) == ref(v, kk), s"dim $kk vs reference")
      assert(out((1L, kk.toLong)) == out((2L, kk.toLong)),
        "identical vectors project identically")
      assert(out((3L, kk.toLong)) == -out((1L, kk.toLong)),
        "negation flips every output exactly")
    }
  }

  test("randomProjection: non-finite and wrong-dim rows are excluded; angles survive") {
    val dim = 32
    val a = Array.tabulate(dim)(j => math.sin(j * 1.7).toFloat)
    val near = a.zipWithIndex.map { case (x, j) => x + (if (j % 7 == 0) 0.05f else 0f) }
    val ortho = Array.tabulate(dim)(j => math.cos(j * 2.3).toFloat)
    val bad = a.updated(3, Float.NaN)
    val short = Array(1.0f, 2.0f)
    val emb = Seq((1L, a), (2L, near), (3L, ortho), (9L, bad), (10L, short))
      .toDF("vec_id", "embedding")
    val rows = Similarity.randomProjection(emb, "embedding", "vec_id",
        outDims = 16, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!rows.keys.exists(_._1 == 9L), "NaN row must be excluded")
    assert(!rows.keys.exists(_._1 == 10L), "wrong-dim row must be excluded")
    def cos(x: Seq[Long], y: Seq[Long]): Double = {
      val dot = x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      dot / (math.sqrt(x.map(p => p.toDouble * p).sum) *
        math.sqrt(y.map(q => q.toDouble * q).sum))
    }
    def proj(id: Long) = (0 until 16).map(kk => rows((id, kk.toLong)))
    val cNear = cos(proj(1L), proj(2L)); val cOrtho = cos(proj(1L), proj(3L))
    assert(cNear > 0.8, s"near-duplicate pair must stay close after JL: $cNear")
    assert(cNear > cOrtho + 0.2,
      s"angular order must survive the projection: near=$cNear ortho=$cOrtho")
  }

  test("uncertaintySample ranks the contested probe above the unanimous one") {
    val emb = (Seq(
      (1L, Array(1f, 0.01f), 0), (2L, Array(1f, 0.02f), 0), (3L, Array(1f, 0.03f), 0)) ++
      (11 to 15).map(i => (i.toLong, Array(0.01f * (i - 10), 1f), 1)))
      .toDF("id", "v", "label")
    val probes = Seq((100L, Array(0.8f, 0.6f)), (200L, Array(0f, 1f)))
      .toDF("probe_id", "q_vec")
    val out = graft.operators.Similarity.uncertaintySample(
        emb, "v", "id", "label", probes, k = 5, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // probe 100's k=5 votes split 3 (label 0) vs 2 (label 1) -> margin 1;
    // probe 200 is unanimous label 1 -> margin 5; contested ranks first
    assert(out.toSeq === Seq((1L, 100L, 0L, 1L), (2L, 200L, 1L, 5L)))
  }

  test("PCA: covariance eigensolve recovers the planted dominant direction") {
    // x_i = a_i·e0 + b_i·e1 + tiny noise elsewhere; spread(a) >> spread(b)
    val d = 8
    val data = (0 until 200).map { i =>
      val a = math.sin(i * 0.37) * 2.0
      val b = math.cos(i * 0.91) * 0.4
      (i.toLong, Array.tabulate(d) { j =>
        (if (j == 0) a else if (j == 1) b else 0.001 * math.sin(i * 7 + j)).toFloat
      })
    }.toDF("id", "v")
    val model = Similarity.pcaTrain(data, "v", "id", k = 3)
    // eigenvalues descending, top one dominates
    assert(model.eigenvalues(0) > model.eigenvalues(1))
    assert(model.eigenvalues(1) > model.eigenvalues(2))
    assert(model.eigenvalues(0) > 10 * model.eigenvalues(1))
    // first component is ±e0, second ±e1
    assert(math.abs(model.components(0)(0)) > 0.999)
    assert(math.abs(model.components(1)(1)) > 0.999)
    // orthonormal
    for (a <- 0 until 3; b <- 0 until 3) {
      val dot = (0 until d).map(j => model.components(a)(j) * model.components(b)(j)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-6, s"<$a,$b>=$dot")
    }
    // independent eigenpair check: Cov·v ≈ λ·v against the collected matrix
    val cov = Array.ofDim[Double](d, d)
    Similarity.covarianceMatrix(data, "v", "id").collect().foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1, r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    val v0 = model.components(0)
    val av = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v0(j)).sum)
    (0 until d).foreach { i =>
      assert(math.abs(av(i) - model.eigenvalues(0) * v0(i)) < 1e-4,
        s"Cov·v != λ·v at dim $i: ${av(i)} vs ${model.eigenvalues(0) * v0(i)}")
    }
    // projection: per-out-dim variance ≈ the eigenvalue, ZERO shuffle plan
    val proj = Similarity.pcaProject(data, "v", "id", model)
    val stats = proj.groupBy("out_dim")
      .agg(avg("proj").as("m"), avg(col("proj") * col("proj")).as("m2"))
      .orderBy("out_dim").collect()
    stats.zipWithIndex.foreach { case (r, k) =>
      val variance = r.getDouble(2) - r.getDouble(1) * r.getDouble(1)
      assert(math.abs(variance - model.eigenvalues(k)) < 0.01 * (1 + model.eigenvalues(k)),
        s"proj variance vs eigenvalue at $k: $variance vs ${model.eigenvalues(k)}")
      assert(math.abs(r.getDouble(1)) < 1e-3, "projections are mean-centered")
    }
    val plan = proj.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
  }

  /** 64-dim vectors with deterministic signed components (the sign pattern
    * is what the binary tier packs). */
  private def vecs64(n: Int) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(64)(j =>
        (((i * 31 + j * 17) % 19) - 9) / 10.0f + 0.05f))
    }.toDF("id", "v")

  test("binarySignPack: hand-computed bit layout, halves stay in [0, 2^32)") {
    // dims 0,1,33 positive, everything else negative → lo = b0|b1 = 3,
    // hi = bit (33-32) = 2
    val v = Array.tabulate(64)(j => if (j == 0 || j == 1 || j == 33) 1.0f else -1.0f)
    val row = Similarity.binarySignPack(Seq((7L, v)).toDF("id", "v"), "v", "id")
      .collect()(0)
    assert(row.getLong(1) == 3L && row.getLong(2) == 2L,
      s"packed halves: ${row.getLong(1)}/${row.getLong(2)}")
    // bit 31 of a half (dim 31 / dim 63) must not overflow into the sign
    val top = Array.tabulate(64)(j => if (j == 31 || j == 63) 1.0f else -1.0f)
    val r2 = Similarity.binarySignPack(Seq((8L, top)).toDF("id", "v"), "v", "id")
      .collect()(0)
    assert(r2.getLong(1) == (1L << 31) && r2.getLong(2) == (1L << 31))
    assert(r2.getLong(1) > 0 && r2.getLong(2) > 0, "halves are non-negative")
  }

  test("hammingTopK: an exact sign-duplicate ranks first at distance 0") {
    // row 100 duplicates row 0's sign pattern (scaled positives stay
    // positive); every other row differs somewhere
    val base = vecs64(50)
    val dup = base.filter(col("id") === 0)
      .select(lit(100L).as("id"), transform(col("v"), x => x * 2.0f).as("v"))
    val out = Similarity.hammingTopK(base.union(dup), "v", "id",
      probeIds = Seq(0L), k = 5).orderBy("rnk").collect()
    // the generator's sign pattern has period 19 in id, so ids 19 and 38
    // ALSO match row 0 exactly — all three sit at distance 0, ranked by
    // the equal-score smaller-id-first contract
    val zeros = out.takeWhile(_.getLong(3) == 0L).map(_.getLong(2))
    assert(zeros.sameElements(Array(19L, 38L, 100L)),
      s"distance-0 set must be id-ordered 19,38,100: ${out.mkString(";")}")
    // distances are non-decreasing down the ranks and within [0, 64]
    val ds = out.map(_.getLong(3))
    assert(ds.sameElements(ds.sorted) && ds.forall(d => d >= 0 && d <= 64))
  }

  test("matryoshkaRecall: subDim = full dim is perfect recall; truncation is bounded") {
    val emb = vecs64(40)
    val probes = emb.filter(col("id") === 0)
      .select(col("id").as("probe_id"), col("v").as("q_vec"))
    val perfect = Similarity.matryoshkaRecall(emb, "v", "id", probes,
      k = 5, subDim = 64).collect()
    assert(perfect.length == 1 && perfect(0).getLong(2) == 10000L,
      "identical arms must agree exactly")
    val cut = Similarity.matryoshkaRecall(emb, "v", "id", probes,
      k = 5, subDim = 4).collect()(0)
    assert(cut.getLong(1) >= 0L && cut.getLong(1) <= 5L)
    assert(cut.getLong(2) == cut.getLong(1) * 10000 / 5)
  }

  test("hardNegatives: every hit has a different label, ranks follow cosine") {
    val emb = vecs64(60).withColumn("label", (col("id") % 3).cast("int"))
    val out = Similarity.hardNegatives(emb, "v", "id", "label",
      probeIds = Seq(0L, 1L), k = 4)
    val rows = out.orderBy("probe_id", "rnk").collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val probeLabel = r.getLong(0) % 3
      assert(r.getLong(3) != probeLabel,
        s"negative label ${r.getLong(3)} must differ from probe's $probeLabel")
    }
    // per probe: cosine non-increasing down the ranks
    rows.groupBy(_.getLong(0)).foreach { case (_, hs) =>
      val cs = hs.sortBy(_.getLong(1)).map(_.getDouble(4))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  // ---- DBSCAN ----

  private def classify(pts: Seq[(Long, Long, Long)], eps: Long, minPts: Int,
                       maxCell: Long = 100000L) =
    Similarity.dbscanClassify(pts.toDF("id", "x", "y"), "id", "x", "y",
        eps, minPts, maxCell)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap

  test("dbscanClassify: textbook roles on two planted triangles, a border and an outlier") {
    // triangles (1,2,3) and (6,7,8) are mutual eps-neighborhoods (core),
    // 4 touches core 2 but has only 2 neighbors (border), 5 is alone
    // (noise); (0,0)-(10,0) pins the dist² == eps² boundary INCLUSIVE
    // and crosses a cell boundary (cell width = eps = 10).
    val pts = Seq(
      (1L, 0L, 0L), (2L, 10L, 0L), (3L, 5L, 5L),
      (4L, 18L, 0L), (5L, 500L, 500L),
      (6L, 1000L, 0L), (7L, 1006L, 0L), (8L, 1003L, 5L))
    val out = classify(pts, eps = 10L, minPts = 3)
    // 2's neighborhood: self, 1 (dist 10, boundary), 3 (√50), 4 (dist 8)
    assert(out == Map(
      1L -> ((3L, "core")), 2L -> ((4L, "core")), 3L -> ((3L, "core")),
      4L -> ((2L, "border")), 5L -> ((1L, "noise")),
      6L -> ((3L, "core")), 7L -> ((3L, "core")), 8L -> ((3L, "core"))),
      s"got: $out")
  }

  test("dbscanClusters: min-id component labels, border takes min core neighbor, singleton core self-labels") {
    val pts = Seq(
      (1L, 0L, 0L), (2L, 10L, 0L), (3L, 5L, 5L),
      (4L, 18L, 0L), (5L, 500L, 500L),
      (6L, 1000L, 0L), (7L, 1006L, 0L), (8L, 1003L, 5L))
    val out = Similarity.dbscanClusters(pts.toDF("id", "x", "y"),
        "id", "x", "y", eps = 10L, minPts = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out == Map(
      1L -> (("core", 1L)), 2L -> (("core", 1L)), 3L -> (("core", 1L)),
      4L -> (("border", 1L)),
      6L -> (("core", 6L)), 7L -> (("core", 6L)), 8L -> (("core", 6L))),
      s"got: $out")
    // minPts=1: every point is a core; the isolated one self-labels via
    // the singleton self-pair
    val solo = Similarity.dbscanClusters(pts.toDF("id", "x", "y"),
        "id", "x", "y", eps = 10L, minPts = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(solo(5L) == 5L && solo(4L) == 1L, s"got: $solo")
  }

  test("dbscan grid blocking equals brute force on pseudo-random points (negatives included)") {
    val pts = (0 until 300).map { i =>
      (i.toLong, ((i * 7919) % 401 - 200).toLong, ((i * 104729) % 401 - 200).toLong)
    }
    val eps = 25L
    def dist2(a: (Long, Long, Long), b: (Long, Long, Long)) = {
      val dx = a._2 - b._2; val dy = a._3 - b._3; dx * dx + dy * dy
    }
    val brute = pts.map { p =>
      p._1 -> pts.count(q => dist2(p, q) <= eps * eps).toLong
    }.toMap
    val out = classify(pts, eps, minPts = 4)
    assert(out.view.mapValues(_._1).toMap == brute,
      "grid neighbor counts must equal all-pairs counts")
    // and the whole classification is partitioning-invariant
    val out13 = Similarity.dbscanClassify(
        pts.toDF("id", "x", "y").repartition(13), "id", "x", "y", eps, 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out13 == out)
  }

  test("dbscan hot-cell drop: an over-full cell is excluded, its points classify as noise") {
    // 5 coincident points + a far pair; maxCell=4 drops the pile-up cell
    val pts = (1L to 5L).map(i => (i, 0L, 0L)) ++
      Seq((10L, 100L, 100L), (11L, 101L, 100L))
    val out = classify(pts, eps = 5L, minPts = 2, maxCell = 4L)
    assert((1L to 5L).forall(i => out(i) == ((1L, "noise"))), s"got: $out")
    assert(out(10L) == ((2L, "core")) && out(11L) == ((2L, "core")))
  }

  test("jlCoords2d matches the stacked randomProjection outputs") {
    val emb = vecs(50, dim = 8)
    val wide = Similarity.jlCoords2d(emb, "v", "id", dim = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val stacked = Similarity.randomProjection(emb, "v", "id", outDims = 2, dim = 8)
      .collect().groupBy(_.getLong(0)).view.mapValues { rs =>
        val m = rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
        (m(0L), m(1L))
      }.toMap
    assert(wide == stacked)
  }

  test("treeAssign: hand-computed split tree — seeds, argmax ties, early exit") {
    // 2-d directions with EXACT 4-dp cosines (3-4-5 triangles and axes):
    //   cos(id4, id0) = 1/sqrt2 = 0.70710678 -> 0.7071 (ties with seed 1,
    //   breaks to the smaller seed id); cos(id4, id2) = 7/(5*sqrt2) =
    //   0.98994949 -> 0.9899; cos(id2, id6) = 1 (same direction).
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(4f, 3f)), (3L, Array(3f, 4f)),
      (4L, Array(1f, 1f)), (5L, Array(0f, 2f)),
      (6L, Array(8f, 6f)), (7L, Array(-1f, 0f))).toDF("id", "v")
    val cells = Similarity.treeAssign(emb, "v", "id",
        branch = 2, maxLeaf = 3, maxDepth = 5)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // Level 0: root(8) > 3 splits on seeds {0,1}: r-0 = {0,2,4,6}
    // (id4 ties 0.7071/0.7071 -> seed 0), r-1 = {1,3,5,7}.
    // Level 1: r-0 seeds {0,2}: id0 -> r-0-0; id2, id6 (cos 1), id4
    // (0.9899 > 0.7071) -> r-0-2. r-1 seeds {1,3}: id1, id5 (cos 1),
    // id7 (0 > -0.6) -> r-1-1; id3 -> r-1-3.
    // Level 2: every cell <= 3 -> loop exits before maxDepth.
    assert(cells == Map(
      0L -> "r-0-0", 2L -> "r-0-2", 4L -> "r-0-2", 6L -> "r-0-2",
      1L -> "r-1-1", 5L -> "r-1-1", 7L -> "r-1-1", 3L -> "r-1-3"))
  }

  test("semDedupTree: in-leaf dups drop, lowest id survives, cross-leaf twins kept") {
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(4f, 3f)), (3L, Array(3f, 4f)),
      (4L, Array(1f, 1f)), (5L, Array(0f, 2f)),
      (6L, Array(8f, 6f)), (7L, Array(-1f, 0f))).toDF("id", "v")
    // Leaves (prev test): {0}, {2,4,6}, {1,5,7}, {3}. At threshold 0.97:
    // in {2,4,6} cos(2,4) = 0.9899 and cos(2,6) = 1 drop 4 and 6; in
    // {1,5,7} cos(1,5) = 1 drops 5 (cos with id7 is 0). id3 is a 0.9899
    // twin of id4 but sits in its own leaf — the priced recall trade.
    val kept = Similarity.semDedupTree(emb, "v", "id", threshold = 0.97,
        branch = 2, maxLeaf = 3, maxDepth = 5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L, 7L))
  }

  test("semDedupMulti: a pair split across argmax cells is recovered by top-2 assignment") {
    // Centroids are ids 0 (x-axis) and 1 (y-axis). Vectors 2 = (3,2) and
    // 3 = (2,3) argmax-assign to DIFFERENT cells (cos to own axis
    // 3/sqrt13 = 0.8321) yet are a 12/13 = 0.9231 pair — invisible to
    // single assignment at threshold 0.9, recovered when each vector
    // also sits in its second cell.
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(3f, 2f)), (3L, Array(2f, 3f))).toDF("id", "v")
    val single = Similarity.semDedup(emb, "v", "id", k = 2, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(single == Set(0L, 1L, 2L, 3L), "argmax cells must hide the pair")
    val multi = Similarity.semDedupMulti(emb, "v", "id", k = 2,
        threshold = 0.9, nAssign = 2)
      .collect().map(_.getLong(0)).toSet
    assert(multi == Set(0L, 1L, 2L), "top-2 assignment must recover it (3 drops)")
  }

  test("treeAssign: a cell of identical vectors stops at maxDepth as an oversized leaf") {
    // Every member ties at cosine 1 to the lowest-id seed, so the cell
    // never shrinks — the documented degenerate case the maxDepth cap
    // bounds (downstream pair stages keep their own hot-cell guard).
    val emb = (0L until 6L).map(i => (i, Array(1f, 2f))).toDF("id", "v")
    val cells = Similarity.treeAssign(emb, "v", "id",
        branch = 2, maxLeaf = 2, maxDepth = 3)
      .select("id", "cell").collect().map(_.getString(1)).distinct
    assert(cells.toSeq == Seq("r-0-0-0"))
  }

  test("treeAssignMulti: primary paths equal treeAssign's; shadows freeze at " +
      "runner-up children and descend argmax-only") {
    // The treeAssign fixture (hand-computed cosines in that test). With
    // shadows: level 0 sends every primary's shadow to the OTHER root
    // child; level 1 splits r-0 (seeds {0,2}) and r-1 (seeds {1,3}) by
    // PRIMARY populations only, descends the level-0 shadows argmax-only
    // ({1,3,5,7} all prefer seed 2's direction in r-0; {0,2,4,6} all
    // prefer seed 3's in r-1), and spawns each primary's level-1 shadow
    // at its runner-up child. Loop exits at level 2 exactly like the
    // single lane (primary populations ≤ 3).
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(4f, 3f)), (3L, Array(3f, 4f)),
      (4L, Array(1f, 1f)), (5L, Array(0f, 2f)),
      (6L, Array(8f, 6f)), (7L, Array(-1f, 0f))).toDF("id", "v")
    val rows = Similarity.treeAssignMulti(emb, "v", "id",
        branch = 2, maxLeaf = 3, maxDepth = 5)
      .select("id", "cell", "is_shadow").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val primary = rows.filter(!_._3).map(r => r._1 -> r._2).toMap
    assert(primary == Map(
      0L -> "r-0-0", 2L -> "r-0-2", 4L -> "r-0-2", 6L -> "r-0-2",
      1L -> "r-1-1", 5L -> "r-1-1", 7L -> "r-1-1", 3L -> "r-1-3"),
      s"primary paths must equal the single lane's: $primary")
    val byId = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // 1 + (splits participated) memberships; every (id, cell) unique
    assert(rows.length == rows.map(r => (r._1, r._2)).distinct.length)
    assert(byId(0L) == Set("r-0-0", "r-0-2", "r-1-3"), s"got: $byId")
    assert(byId(2L) == Set("r-0-2", "r-0-0", "r-1-3"), s"got: $byId")
    assert(byId(3L) == Set("r-1-3", "r-1-1", "r-0-2"), s"got: $byId")
    assert(byId(7L) == Set("r-1-1", "r-1-3", "r-0-2"), s"got: $byId")
  }

  test("semDedupTreeMulti: a pair the tree routes apart is recovered by the " +
      "shadow membership") {
    // The semDedupMulti fixture: 2 = (3,2) and 3 = (2,3) argmax-route to
    // different root children (cos to own axis 0.8321) yet are a 12/13 =
    // 0.9231 pair. maxLeaf = 2 stops the tree at level 1 with leaves
    // r-0 = {0,2}, r-1 = {1,3}; the single lane finds no in-leaf pair at
    // 0.9, the shadow lane pairs 3's shadow (in r-0) with primary 2.
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(3f, 2f)), (3L, Array(2f, 3f))).toDF("id", "v")
    val single = Similarity.semDedupTree(emb, "v", "id", threshold = 0.9,
        branch = 2, maxLeaf = 2, maxDepth = 3)
      .collect().map(_.getLong(0)).toSet
    assert(single == Set(0L, 1L, 2L, 3L), "tree leaves must hide the pair")
    val multi = Similarity.semDedupTreeMulti(emb, "v", "id", threshold = 0.9,
        branch = 2, maxLeaf = 2, maxDepth = 3)
      .collect().map(_.getLong(0)).toSet
    assert(multi == Set(0L, 1L, 2L), "the shadow must recover it (3 drops)")
  }

  test("knnGraphMulti: a cross-cell true neighbor is found via the probed " +
      "second cell; corpus memberships stay argmax") {
    // Centroid cells from seeds {0, 1}; 2 = (3,2) and 3 = (2,3) sit in
    // different argmax cells but are each other's true nearest neighbor
    // (0.9231). Single-probe sees only cellmates; top-2 probing scores
    // both cells' members.
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(3f, 2f)), (3L, Array(2f, 3f))).toDF("vec_id", "embedding")
    val single = Similarity.knnGraph(emb, "embedding", "vec_id", k = 2,
        kNeighbors = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(single.filter(_._1 == 2L).map(_._3).toSet == Set(0L),
      "single-probe must only see the argmax cellmate")
    val multi = Similarity.knnGraphMulti(emb, "embedding", "vec_id", k = 2,
        kNeighbors = 3, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val by2 = multi.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq
    // cos(2,3) = 0.9231 > cos(2,0) = 0.8321 > cos(2,1) = 0.5547
    assert(by2 == Seq(3L, 0L, 1L), s"got: $by2")
    // every dst still reachable at most once per src (one corpus cell)
    assert(multi.length == multi.map(r => (r._1, r._3)).distinct.length)
  }

  test("knnGraphTree/TreeMulti: leaf-bounded adjacency; the shadow " +
      "membership recovers the cross-leaf neighbor exactly once") {
    // tree fixture (semDedupTreeMulti test): leaves r-0 = {0,2},
    // r-1 = {1,3}; memberships add shadows {1,3} to r-0 and {0,2} to
    // r-1 — so every pair shares SOME cell, several share two.
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(3f, 2f)), (3L, Array(2f, 3f))).toDF("vec_id", "embedding")
    val tree = Similarity.knnGraphTree(emb, "embedding", "vec_id",
        kNeighbors = 3, branch = 2, maxLeaf = 2, maxDepth = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tree.filter(_._1 == 2L).map(_._3).toSet == Set(0L),
      "single-path leaves see only leaf-mates")
    val multi = Similarity.knnGraphTreeMulti(emb, "embedding", "vec_id",
        kNeighbors = 3, branch = 2, maxLeaf = 2, maxDepth = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val by2 = multi.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq
    // cos(2,3) = 0.9231 > cos(2,0) = 0.8321 > cos(2,1) = 0.5547; the
    // (2,0) pair shares BOTH r-0 and r-1 — TopKHits' in-aggregate set
    // semantics must keep it to one slot so all three neighbors surface
    assert(by2 == Seq(3L, 0L, 1L), s"got: $by2")
    assert(multi.length == multi.map(r => (r._1, r._3)).distinct.length,
      "no duplicate (src, dst) edges under the in-aggregate dedup")
  }

  test("ivfAssignMulti: a zero-norm centroid's NaN hit is dropped, not " +
      "ranked first — the nAssign > 1 NaN contract") {
    // id 0 is a zero vector and, with k = 2, also centroid 0: every
    // vector's cosine to it is NaN. TopKHits drops the NaN hit, so the
    // top-2 selection over 2 centroids yields ONE real cell (centroid 1)
    // per vector — the oracle twin's NOT isnan(cs) filter, engine-side.
    val emb = Seq(
      (0L, Array(0f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(3f, 2f)), (3L, Array(2f, 3f))).toDF("vec_id", "embedding")
    val out = Similarity.ivfAssignMulti(emb, "embedding", "vec_id",
        k = 2, nAssign = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 1L), (2L, 1L), (3L, 1L)),
      s"zero-norm vector 0 gets no cells, others only the real cell: " +
        s"${out.toSeq}")
  }

  test("hot-cell precondition of the blocked-pair oracle twins holds at " +
      "gate scale (oversizedCells empty at sf0.01)") {
    // The DuckDB twins of the semdedup/pair/knn family join FULL cells,
    // while the engine sub-splits cells above maxCell = 8192 — the
    // documented shared exactness precondition (r12 ADVICE). Assert no
    // cell in any gated blocking relation exceeds the cap at the
    // driver-gate scale, including the tree lanes' documented degenerate
    // case (an oversized leaf frozen at maxDepth).
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val flat = Similarity.ivfAssign(emb, "embedding", "vec_id",
      Similarity.AutoCells).select(col("vec_id"), col("centroid_id"))
    assert(Similarity.oversizedCells(flat, "centroid_id", 8192).count() == 0L)
    val leaves = Similarity.treeAssign(emb, "embedding", "vec_id")
    assert(Similarity.oversizedCells(leaves, "cell", 8192).count() == 0L)
    val multi = Similarity.treeMultiMemberships(emb, "embedding", "vec_id")
    assert(Similarity.oversizedCells(multi, "cell", 8192).count() == 0L)
  }

  test("blocked near-dup lanes only prune: every lane's pairs are exact " +
      "pairs at gate scale (sf0.01, oracle threshold 0.35)") {
    // Blocking narrows which pairs get compared, never the verify, so each
    // lane must emit a subset of the all-pairs truth, and one cell holding
    // every vector must reproduce it. No recall floor: that is data-tuned.
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = Tables.load(spark, dir, "embeddings")
    val (v, id, thr) = ("embedding", "vec_id", 0.35)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    def blocked(cells: org.apache.spark.sql.DataFrame) =
      Similarity.blockedNearDupPairs(cells, v, id, "cell", threshold = thr)
    val exact = rows(Similarity.exactNearDupPairs(emb, v, id, thr))
    assert(exact.nonEmpty, "the ground truth must hold pairs to test against")
    val lanes = Seq(
      "ivf" -> Similarity.ivfNearDupPairs(emb, v, id, Similarity.AutoCells, thr),
      "ivf_multi" -> Similarity.ivfNearDupPairsMulti(emb, v, id,
        Similarity.AutoCells, thr, nAssign = 2),
      "tree" -> blocked(Similarity.treeAssign(emb, v, id)),
      "tree_multi" -> blocked(Similarity.treeMultiMemberships(emb, v, id)).distinct())
    for ((lane, pairs) <- lanes) {
      val outside = rows(pairs).filterNot(exact.toSet)
      assert(outside.isEmpty,
        s"$lane: ${outside.size} rows outside the exact pairs, e.g. ${outside.take(5)}")
    }
    assert(rows(blocked(emb.withColumn("cell", lit(0)))) == exact)
  }

  /** The nested-posexplode covariance formulation covarianceMatrix replaced
    * in optimization r14 — kept HERE as the equivalence oracle: the Gram
    * aggregate must reproduce it row-for-row, bit-for-bit. */
  private def covExplodeForm(emb: org.apache.spark.sql.DataFrame,
                             vecCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    def u(c: Column): Column = round(c.cast("double") * 1e6, 0).cast("long")
    val rows = emb.filter(col(vecCol).isNotNull)
      .select(col(vecCol).as("__v"), posexplode(col(vecCol)))
      .select((col("pos") + 1).cast("long").as("i"), u(col("col")).as("xu"),
        slice(col("__v"), col("pos") + 1, size(col("__v")) - col("pos")).as("__tail"))
    val marg = rows.groupBy("i").agg(count(lit(1)).as("n"), sum("xu").as("s"))
    val pair = rows.select(col("i"), col("xu"), posexplode(col("__tail")))
      .select(col("i"), (col("i") + col("pos")).as("j"),
        (col("xu") * u(col("col"))).cast("decimal(38,0)").as("xy"))
      .groupBy("i", "j").agg(sum(col("xy")).as("sxy"))
    pair
      .join(marg.select(col("i"), col("n"), col("s").as("si")), "i")
      .join(marg.select(col("i").as("j"), col("s").as("sj")), "j")
      .select(col("i"), col("j"),
        (round((col("n").cast("decimal(38,0)") * col("sxy")
            - col("si").cast("decimal(38,0)") * col("sj").cast("decimal(38,0)"))
            .cast("double")
          / col("n").cast("double") / col("n").cast("double") / 1e12, 6)
          + lit(0.0)).as("cov"))
  }

  test("covarianceMatrix: Gram aggregate ≡ explode form (signed, ragged, null cells)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // ragged lengths, signed components, occasional null cells and one
    // null vector — every semantic corner of the explode form
    val data = (0 until 400).map { i =>
      val len = 3 + rnd.nextInt(4) // 3..6
      val v: Seq[java.lang.Float] =
        if (i == 123) null
        else (0 until len).map { j =>
          if (rnd.nextInt(29) == 0) null
          else java.lang.Float.valueOf(((rnd.nextDouble() - 0.5) * 19).toFloat)
        }
      (i.toLong, v)
    }.toDF("id", "v").repartition(5)
    val exp = covExplodeForm(data, "v")
      .orderBy("i", "j").collect().map(r =>
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    val got = Similarity.covarianceMatrix(data, "v", "id")
      .orderBy("i", "j").collect().map(r =>
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.length == exp.length && got.length == 6 * 7 / 2)
    got.zip(exp).foreach { case (g, e) => assert(g == e, s"got $g expected $e") }
  }

  test("GramMatrixAgg: 128-bit cross-moment sums survive long overflow") {
    import spark.implicits._
    // 200k rows of ±10.0 components: per-cell product magnitude 1e14, so
    // the long-range sum wraps at ~9.2e4 rows — the decimal(38,0) lane
    // (and the 128-bit buffer) must NOT
    val n = 200000
    val data = (0 until n).map(i => (i.toLong, Seq(10.0f, -10.0f)))
      .toDF("id", "v").repartition(7)
    val out = Similarity.covarianceMatrix(data, "v", "id")
      .orderBy("i", "j").collect()
    // constant columns: covariance exactly 0 for all three cells, and the
    // intermediate Σxy = ±2e19 (beyond long) must cancel n·sxy − si·sj
    assert(out.length == 3)
    out.foreach(r => assert(r.getDouble(2) == 0.0, r.toString))
  }
}
