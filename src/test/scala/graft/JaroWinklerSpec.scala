package graft

import graft.expressions.{Exprs, JaroWinklerSim}
import graft.operators.Linkage
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler golden cases pinned to DuckDB's `jaro_winkler_similarity`
  * (the oracle engine): the classic Winkler test pairs, the boost-threshold
  * boundary, the both-empty = 0 convention, and the integer-halved
  * transposition count — every value below was probed against DuckDB
  * directly before being pinned here. */
class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinklerSim.compute(UTF8String.fromString(a), UTF8String.fromString(b))

  private def r10(x: Double): Double = math.rint(x * 1e10) / 1e10

  test("golden pairs match DuckDB jaro_winkler_similarity to 10 decimals") {
    val golden = Seq(
      ("MARTHA", "MARHTA", 0.9611111111),
      ("DIXON", "DICKSONX", 0.8133333333),
      ("JELLYFISH", "SMELLYFISH", 0.8962962963),
      ("CRATE", "TRACE", 0.7333333333),
      ("DWAYNE", "DUANE", 0.8400000000),
      ("abcdef", "fedcba", 0.3888888889),
      ("ab", "abcdefghij", 0.7866666667),
      ("Customer#000000001", "Customer#000000010", 0.9888888889))
    for ((a, b, want) <- golden) {
      assert(r10(jw(a, b)) == want, s"jw($a, $b)")
      assert(r10(jw(b, a)) == want, s"jw must be symmetric: ($b, $a)")
    }
  }

  test("edge conventions: empties are 0 (DuckDB), identity is 1, window-0 blocks cross matches") {
    assert(jw("", "") == 0.0, "both empty -> 0 (DuckDB convention, NOT rapidfuzz's 1)")
    assert(jw("a", "") == 0.0 && jw("", "a") == 0.0)
    assert(jw("a", "a") == 1.0 && jw("abcd", "abcd") == 1.0)
    assert(jw("a", "b") == 0.0)
    assert(jw("ab", "ba") == 0.0, "match window max(2,2)/2-1 = 0 forbids the swap")
  }

  test("transpositions halve as integers: k=3 order mismatches count as t=1") {
    // abcdef vs bcadef: all 6 match, matched orders abcdef vs bcadef differ
    // in 3 positions -> t = 3/2 = 1 (DuckDB probes 0.9444..., not the
    // t=1.5 reading 0.9166...).
    assert(r10(jw("abcdef", "bcadef")) == 0.9444444444)
    assert(r10(jw("abcdefgh", "bcadefgh")) == 0.9583333333)
  }

  test("Winkler boost applies only above 0.7 jaro and caps the prefix at 4") {
    // jaro = 0.69696..., shared 6-char prefix -- must NOT boost.
    assert(r10(jw("prefixmatch", "prefixxxxxx")) == 0.6969696970)
    // 10-char shared prefix: boost uses min(prefix, 4) = 4.
    val j = (10.0 / 11 + 10.0 / 11 + 10.0 / 10) / 3.0
    assert(jw("x" * 10 + "y", "x" * 10 + "z") == j + 4 * 0.1 * (1.0 - j))
  }

  test("Column/codegen lane and SQL registration agree with the kernel; null in, null out") {
    val df = Seq(("MARTHA", "MARHTA"), ("CRATE", "TRACE"))
      .toDF("a", "b")
      .select(round(Exprs.jaroWinkler(col("a"), col("b")), 10).as("jw"))
    assert(df.as[Double].collect().toSeq == Seq(0.9611111111, 0.7333333333))
    val viaSql = spark.sql(
      "SELECT round(jaro_winkler('DIXON', 'DICKSONX'), 10) AS jw, " +
        "jaro_winkler(CAST(NULL AS STRING), 'x') AS n").collect()(0)
    assert(viaSql.getDouble(0) == 0.8133333333)
    assert(viaSql.isNullAt(1), "null in, null out")
  }

  test("jaroBound is SOUND: no pair at or above the threshold is ever filtered") {
    import graft.expressions.JaroCommonBytesKernel
    def cb(a: String, b: String): Long = JaroCommonBytesKernel.commonBytes(
      UTF8String.fromString(a), UTF8String.fromString(b))
    // kernel correctness: exact byte-multiset intersection
    assert(cb("aabc", "abca") == 4L && cb("aabc", "ab") == 2L &&
      cb("abc", "xyz") == 0L && cb("", "abc") == 0L)
    assert(cb("a b", "b a") == 3L, "spaces count as matchable bytes")
    // soundness sweep: pseudo-random word-soup pairs at several thresholds
    val vocab = Seq("gold", "rod", "lavender", "spring", "choco", "late",
      "mint", "navy", "pale", "deep", "dim", "dark", "light", " ")
    def mk(seed: Int): String =
      (0 until 4 + seed % 4).map(i => vocab((seed * 31 + i * 17) % vocab.size))
        .mkString(" ")
    val pairs = for (i <- 1 to 60; j <- 1 to 60 if i < j) yield (mk(i), mk(j))
    for (bp <- Seq(7000L, 8500L, 9000L, 9500L); (a, b) <- pairs) {
      val jwBp = math.rint(jw(a, b) * 10000).toLong
      if (jwBp >= bp) {
        val t2 = 2L * bp - 1L
        val (la, lb) = (a.getBytes("UTF-8").length.toLong,
          b.getBytes("UTF-8").length.toLong)
        assert(4000L * cb(a, b) * (la + lb) >= (t2 - 12000L) * la * lb,
          s"bound dropped a true pair: jw=$jwBp bp=$bp a='$a' b='$b'")
      }
    }
    // the Column lane agrees with the kernel and actually filters
    val df = Seq(("goldenrod lace", "goldenrod lace"),
      ("goldenrod lace", "zzzzzz")).toDF("a", "b")
    val kept = df.filter(graft.operators.Linkage.jaroBound(
      col("a"), col("b"), 9000L)).count()
    assert(kept == 1L, "identical passes, disjoint is cut")
  }

  test("fuzzyScorePairs: weighted bp sum, null field scores 0; fuzzyLinkPairs thresholds") {
    val a = Seq((1L, "k", "MARTHA", "rome"), (2L, "k", "bob", null.asInstanceOf[String]))
      .toDF("id", "blk", "name", "city")
    val b = Seq((10L, "k", "MARHTA", "rome"), (20L, "k", "zzzz", "lima"))
      .toDF("id", "blk", "name", "city")
    val fields = Seq(("name", 2L), ("city", 1L))
    val s = Linkage.fuzzyScorePairs(
        Linkage.blockedCandidates(a, b, "id", Seq("blk"), fields.map(_._1)), fields)
      .select("id_a", "id_b", "score").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(s((1L, 10L)) == 2L * 9611 + 1L * 10000) // round(0.96111...*1e4) = 9611
    assert(s((2L, 20L)) % 1L == 0L && s((2L, 20L)) == 2L * math.rint(jw("bob", "zzzz") * 10000).toLong,
      "null city contributes exactly 0")
    val linked = Linkage.fuzzyLinkPairs(a, b, "id", Seq("blk"), fields,
      threshold = 25000L)
    assert(linked.select("id_a", "id_b").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L)))
  }
}
