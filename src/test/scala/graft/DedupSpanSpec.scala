package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Unit semantics for the round-6 span-grain dedup operators:
  * cross-doc duplicate-span localization (Lee et al. 2022 shape) and
  * winnowing fingerprints (Schleimer et al. 2003). The sf0.01 oracle rows
  * (q_span_dedup, q_winnow) check the same ops at corpus scale. */
class DedupSpanSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, words: String*) = (id, words.mkString(" "))

  test("duplicateSpans: a planted shared span merges to exact bounds") {
    // docs 1 and 2 share tokens "a b c d e f" at different offsets inside
    // otherwise-unique text; window=4, so 3 dup windows per doc merge into
    // one span of 6 tokens. doc 3 shares nothing.
    val shared = Seq("a", "b", "c", "d", "e", "f")
    val d1 = doc(1L, (Seq("x1", "x2") ++ shared ++ Seq("x3", "x4")): _*)
    val d2 = doc(2L, (Seq("y1", "y2", "y3") ++ shared ++ Seq("y4")): _*)
    val d3 = doc(3L, "z1", "z2", "z3", "z4", "z5", "z6", "z7", "z8")
    val docs = Seq(d1, d2, d3).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "text", "doc_id",
      window = 4).orderBy("doc").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // doc 1: shared run covers tokens 3..8 (1-based); doc 2: tokens 4..9
    val r1 = out(0); val r2 = out(1)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3), r1.getLong(4)) ==
      (3L, 8L, 3L, 6L))
    assert((r2.getLong(1), r2.getLong(2), r2.getLong(3), r2.getLong(4)) ==
      (4L, 9L, 3L, 6L))
  }

  test("duplicateSpans: within-doc repetition alone is NOT a cross-doc span") {
    val docs = Seq(
      doc(1L, "p", "q", "r", "s", "p", "q", "r", "s"), // self-repeat only
      doc(2L, "u1", "u2", "u3", "u4", "u5")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(docs, "text", "doc_id", window = 4)
      .count() == 0L)
  }

  test("duplicateSpans: two disjoint shared runs stay two islands") {
    val docs = Seq(
      doc(1L, "a", "b", "c", "m1", "m2", "m3", "m4", "x", "y", "z"),
      doc(2L, "a", "b", "c", "n1", "n2", "n3", "n4", "x", "y", "z"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "text", "doc_id",
      window = 3).orderBy("doc", "span_start").collect()
    // per doc: tokens 1..3 and 8..10 shared, middle differs
    assert(out.length == 4)
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 3L), (1L, 8L, 10L), (2L, 1L, 3L), (2L, 8L, 10L)))
  }

  test("winnowing no-miss guarantee: a shared w+gram-1 token run shares a fingerprint") {
    // gram=3, w=4: any shared run of >= 6 tokens must yield >= 1 shared
    // fingerprint (the paper's guarantee threshold t = w + k - 1)
    val shared = Seq("s1", "s2", "s3", "s4", "s5", "s6")
    val docs = Seq(
      doc(1L, (Seq("a1", "a2", "a3", "a4") ++ shared ++ Seq("a5", "a6", "a7", "a8")): _*),
      doc(2L, (Seq("b1", "b2") ++ shared ++ Seq("b3", "b4", "b5", "b6", "b7", "b8")): _*))
      .toDF("doc_id", "text")
    val out = Dedup.winnowFingerprints(docs, "text", "doc_id", gram = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) >= 1L && out(2L) >= 1L,
      s"shared run must fingerprint on both sides: $out")
  }

  test("winnowing density: fingerprints cover every window but stay sparse") {
    val docs = Seq(doc(1L, (1 to 40).map(i => s"w$i"): _*)).toDF("doc_id", "text")
    val r = Dedup.winnowFingerprints(docs, "text", "doc_id", gram = 3, w = 4)
      .collect()(0)
    val nK = r.getLong(1); val nF = r.getLong(2)
    assert(nK == 38L) // 40 tokens -> 38 3-grams
    // every w-window selects one fingerprint; consecutive windows usually
    // share it. Bounds: at least ceil(windows/w), at most all windows.
    val windows = nK - 4 + 1
    assert(nF >= (windows + 3) / 4 && nF <= windows, s"n_fps=$nF")
    assert(r.getLong(3) == 0L, "unique doc shares nothing")
  }

  test("lshCandidateEval: exact dups always surface; disjoint corpora degenerate to 0") {
    // identical text -> identical signature -> shares every band: the one
    // recall case banding can NEVER miss
    val txt = (1 to 12).map(i => s"tok$i").mkString(" ")
    val dups = Seq((1L, txt), (2L, txt), (3L, (20 to 31).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r = Dedup.lshCandidateEval(dups, "text", "doc_id", threshold = 0.5)
      .collect()(0)
    val (nTrue, nCand, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTrue >= 1L && nHit >= 1L, s"planted dup must be found: $r")
    assert(nHit <= math.min(nTrue, nCand))
    assert(r.getLong(3) == 10000L * nHit / nTrue)
    assert(r.getLong(4) == 10000L * nHit / nCand)
    // all-distinct corpus: no true pairs, no candidates, flat zeros
    val uniq = (1L to 5L).map(i => (i, (0 to 11).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val z = Dedup.lshCandidateEval(uniq, "text", "doc_id").collect()(0)
    assert((z.getLong(0), z.getLong(1), z.getLong(2), z.getLong(3), z.getLong(4)) ==
      (0L, 0L, 0L, 0L, 0L), s"got: $z")
  }

  test("winnowing: disjoint-vocabulary docs share zero fingerprints") {
    val docs = Seq(
      doc(1L, (1 to 12).map(i => s"a$i"): _*),
      doc(2L, (1 to 12).map(i => s"b$i"): _*)).toDF("doc_id", "text")
    val out = Dedup.winnowFingerprints(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L))
  }
}
