package graft

import graft.operators.Dedup

/** Recall of the banded near-duplicate lanes on the fixture corpus:
  * MinHash banding must surface every well-separated duplicate, and
  * SimHash chunk banding must be lossless at its pigeonhole radius. */
class DedupScaleModeSpec extends SparkSpec {
  import spark.implicits._

  test("MinHash banding recalls every high-similarity pair (LSH S-curve guarantee)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // ground truth: exact n-gram Jaccard at 0.8 — far above the banding
    // scheme's S-curve midpoint, so a sound hash family must catch all of
    // them; borderline pairs (J≈0.5-0.7) depend on the family
    val truth = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture corpus has planted near-dups")
    // 32 hashes / 8 bands: per-pair miss probability at J=0.8 is ~1.5%
    // (vs ~12% at the 16/4 default) — at the fixture's pair count the md5
    // family recalls everything. The outcome is deterministic; this pins it.
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id",
      numHashes = 32, rowsPerBand = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val missed = truth -- pairs
    assert(missed.isEmpty, s"missed high-sim pairs: $missed")
    // and everything emitted is verified >= the 0.5 threshold by construction
    assert(pairs.size >= truth.size)
  }

  test("SimHash is locality-sensitive, and its chunk banding is lossless") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // ground truth at J >= 0.95: nearly-identical token multisets. SimHash
    // does NOT guarantee Hamming <= 3 for them (a J=0.95 pair in this
    // corpus sits at distance 4-6) — the property the family must have
    // is that true near-dups land FAR below random distance
    // (E[random] = 32 bits): assert <= 16 for every truth pair.
    val truth = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture corpus has extreme near-dups")
    val fp = Dedup.simhashPacked(docs, "text", "doc_id")
    val hammings = truth.toSeq.toDF("id_a", "id_b")
      .join(fp.select(col("doc").as("id_a"), col("simhash").as("sa")), Seq("id_a"))
      .join(fp.select(col("doc").as("id_b"), col("simhash").as("sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("h"))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    truth.foreach { p =>
      assert(hammings(p) <= 16, s"near-dup $p sits at ${hammings(p)} bits")
    }
    // banding losslessness: the banded pipeline must return EXACTLY the
    // brute-force Hamming<=3 pair set (pigeonhole: <=3 flipped bits
    // cannot touch all four 16-bit chunks)
    val brute = fp.select(col("doc").as("id_a"), col("simhash").as("sa"))
      .crossJoin(fp.select(col("doc").as("id_b"), col("simhash").as("sb")))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDups(docs, "text", "doc_id", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded == brute, s"banding lost pairs: ${brute -- banded}, invented: ${banded -- brute}")
  }

  test("lshBandPlan picks the integrated-error argmin and tracks the threshold") {
    // independent recheck: Simpson-free trapezoid integral over a finer grid
    def scurve(s: Double, b: Int, r: Int) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
    def indepErr(t: Double, n: Int, b: Int, r: Int): Double = {
      val g = 4000
      (0 until g).map { i =>
        val s = (i + 0.5) / g
        if (s < t) scurve(s, b, r) else 1.0 - scurve(s, b, r)
      }.sum / g
    }
    for (t <- Seq(0.3, 0.5, 0.8); n <- Seq(16, 64, 128)) {
      val p = Dedup.lshBandPlan(t, n)
      assert(p.bands * p.rowsPerBand === n)
      val best = (1 to n).filter(n % _ == 0)
        .map(r => (n / r, r)).minBy { case (b, r) => indepErr(t, n, b, r) }
      assert((p.bands, p.rowsPerBand) === best, s"t=$t n=$n")
      // the chosen S-curve's transition must straddle the target: a pair
      // AT the threshold is neither a sure candidate nor a sure miss
      assert(scurve(t, p.bands, p.rowsPerBand) > 0.02 &&
        scurve(t, p.bands, p.rowsPerBand) < 0.98, s"t=$t n=$n")
      assert(p.fpArea >= 0 && p.fnArea >= 0 && p.fpArea + p.fnArea < 0.25)
    }
    // a higher threshold demands MORE rows per band (sharper curve, shifted right)
    assert(Dedup.lshBandPlan(0.9, 128).rowsPerBand >
      Dedup.lshBandPlan(0.4, 128).rowsPerBand)
    // weighting misses harder shifts the curve left (recall posture):
    // never fewer bands than the balanced plan
    assert(Dedup.lshBandPlan(0.7, 64, fnWeight = 4.0).bands >=
      Dedup.lshBandPlan(0.7, 64).bands)
    // the repo default (16 hashes, r=4) is exactly the balanced plan at 0.5
    val d = Dedup.lshBandPlan(0.5, 16)
    assert((d.bands, d.rowsPerBand) === ((4, 4)))
  }
}
