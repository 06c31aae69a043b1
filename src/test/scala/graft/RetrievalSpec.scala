package graft

import graft.operators.{RelationalOps, TextAnalysis}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** Retrieval-stack specs: BM25, Dirichlet query-likelihood, reciprocal-rank
  * fusion, and the character-entropy signal — expectations hand-computed
  * from the published formulas with independent arithmetic. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def micro(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private val corpus = Seq(
    (1L, "x x x y"), // len 4, tf(x)=3
    (2L, "x y"),     // len 2, tf(x)=1
    (3L, "y y"),     // no x, no z
    (4L, "x z"))     // len 2, tf(x)=1, tf(z)=1

  private def docs = corpus.toDF("doc_id", "text")

  /** A fresh stats path inside a temporary directory, which also holds the
    * `.stats`/`.terms` files written beside it. */
  private def statsDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  // shared corpus stats: N = 4 docs, 10 tokens, avgdl = 2.5
  private val avgdl = 2.5

  private def bm25Contrib(tf: Long, len: Long, n: Long, df: Long): Double = {
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len / avgdl))
  }

  test("bm25TopK ranks by tf with length normalization, ties break by id") {
    val out = TextAnalysis.bm25TopK(docs, "text", "doc_id",
        Seq(0L -> Seq("x")), k = 5)
      .orderBy("rank").collect()
    val m1 = micro(bm25Contrib(tf = 3, len = 4, n = 4, df = 3))
    val m2 = micro(bm25Contrib(tf = 1, len = 2, n = 4, df = 3))
    // doc 1 (tf 3) outranks the tf-1 docs; docs 2 and 4 tie exactly and
    // break by the smaller id; doc 3 (no match) never appears
    assert(out.toSeq === Seq(
      Row(0L, 1L, 1L, m1), Row(0L, 2L, 2L, m2), Row(0L, 3L, 4L, m2)))
  }

  test("bm25TopK scores each panel query independently") {
    val out = TextAnalysis.bm25TopK(docs, "text", "doc_id",
        Seq(0L -> Seq("x"), 1L -> Seq("z")), k = 2)
      .orderBy("query_id", "rank").collect()
    // query 1 ("z", df 1) matches only doc 4
    val mz = micro(bm25Contrib(tf = 1, len = 2, n = 4, df = 1))
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 1L, 1L), (0L, 2L, 2L), (1L, 1L, 4L)))
    assert(out.last.getLong(3) === mz)
  }

  test("queryLikelihoodTopK scores full query over the postings union") {
    // query ("x","z"): cf(x) = 5, cf(z) = 1, T = 10, mu = 1000
    val mu = 1000.0
    def ql(tf: Long, cf: Long, len: Long): Double =
      math.log((tf + mu * cf / 10.0) / (len + mu))
    val out = TextAnalysis.queryLikelihoodTopK(docs, "text", "doc_id",
        Seq(0L -> Seq("x", "z")), k = 5, mu = mu)
      .orderBy("rank").collect()
    // candidates: docs 1, 2, 4 (doc 3 matches neither term)
    val s1 = micro(ql(3, 5, 4)) + micro(ql(0, 1, 4))
    val s2 = micro(ql(1, 5, 2)) + micro(ql(0, 1, 2))
    val s4 = micro(ql(1, 5, 2)) + micro(ql(1, 1, 2))
    val expect = Seq((1L, s1), (2L, s2), (4L, s4))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => Row(0L, i + 1L, id, s) }
    assert(out.toSeq === expect)
    // doc 4 carries both terms' foreground mass — it must rank first
    assert(out.head.getLong(2) === 4L)
  }

  test("queryLikelihoodTopK drops query terms absent from the corpus") {
    val out = TextAnalysis.queryLikelihoodTopK(docs, "text", "doc_id",
        Seq(0L -> Seq("x", "nosuchterm")), k = 5)
      .collect()
    // scores = the x-only query's scores (no -inf poisoning, no crash)
    assert(out.length === 3)
    assert(out.forall(_.getLong(3) < 0L))
  }

  test("rrfFuse merges two rank lists in exact ppb units") {
    val a = Seq((0L, 1L, 1L), (0L, 2L, 2L)).toDF("g", "id", "rank")
    val b = Seq((0L, 2L, 1L), (0L, 3L, 2L)).toDF("g", "id", "rank")
    val out = RelationalOps.rrfFuse(a, b, "g", "id", kConst = 60, k = 10)
      .orderBy("rank").collect()
    val r61 = 1000000000L / 61 // 16393442
    val r62 = 1000000000L / 62 // 16129032
    assert(out.toSeq === Seq(
      Row(0L, 1L, 2L, r61 + r62), // in both lists
      Row(0L, 2L, 1L, r61),       // list-a only, rank 1
      Row(0L, 3L, 3L, r62)))      // list-b only, rank 2
  }

  test("rrfFuse fuses per group and honors k") {
    val a = Seq((0L, 1L, 1L), (1L, 7L, 1L), (1L, 8L, 2L)).toDF("g", "id", "rank")
    val b = Seq((1L, 8L, 1L)).toDF("g", "id", "rank")
    val out = RelationalOps.rrfFuse(a, b, "g", "id", kConst = 60, k = 1)
      .orderBy("g").collect()
    // k=1 keeps only each group's best: g0 → id 1, g1 → id 8 (two lists)
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((0L, 1L), (1L, 8L)))
  }

  test("rankingMetrics: recall/MRR/nDCG in exact integer units") {
    def m(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    val system = Seq(
      (0L, 5L, 1L), (0L, 2L, 2L), (0L, 9L, 3L), (0L, 3L, 4L),
      (1L, 8L, 1L)).toDF("g", "id", "rank")
    val gold = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 7L), (2L, 4L))
      .toDF("g", "id")
    val out = RelationalOps.rankingMetrics(system, gold, "g", "id", k = 5)
      .orderBy("g").collect()
    // g0: hits at ranks 2 and 4 of gold size 3
    val dcg = m(1e6 / log2(3)) + m(1e6 / log2(5))
    val idcg = m(1e6 / log2(2)) + m(1e6 / log2(3)) + m(1e6 / log2(4))
    assert(out(0) === Row(0L, 3L, 2L, 20000L / 3, 500000L, 10000L * dcg / idcg))
    // g1: system answered but missed; g2: system never answered
    assert(out(1) === Row(1L, 1L, 0L, 0L, 0L, 0L))
    assert(out(2) === Row(2L, 1L, 0L, 0L, 0L, 0L))
  }

  test("bm25ScoreFrom: stored-stats scores equal the inline kernel's") {
    val dir = statsDir("bm25")
    TextAnalysis.buildBm25Stats(docs, "text", dir)
    val stats = TextAnalysis.loadBm25Stats(spark, dir, Seq("x", "z", "nosuchterm"))
    assert(stats === TextAnalysis.Bm25Stats(4L, 10L, Map("x" -> 3L, "z" -> 1L)))
    val panel = Seq(0L -> Seq("x"), 1L -> Seq("z", "nosuchterm"))
    val stored = TextAnalysis.bm25ScoreFrom(docs, "text", "doc_id", panel, stats)
      .orderBy("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val inline = TextAnalysis.bm25TopK(docs, "text", "doc_id", panel, k = 100)
      .select(col("doc_id"), col("query_id"), col("score_micro"))
      .orderBy("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stored.nonEmpty)
    assert(stored.toSeq === inline.toSeq)
  }

  test("appendBm25Stats: additive delta merge equals a full retrain") {
    val dirInc = statsDir("bm25-inc")
    val dirFull = statsDir("bm25-full")
    TextAnalysis.buildBm25Stats(corpus.take(2).toDF("doc_id", "text"), "text", dirInc)
    TextAnalysis.appendBm25Stats(corpus.drop(2).toDF("doc_id", "text"), "text", dirInc)
    TextAnalysis.buildBm25Stats(docs, "text", dirFull)
    val terms = Seq("x", "y", "z")
    val inc = TextAnalysis.loadBm25Stats(spark, dirInc, terms)
    assert(inc === TextAnalysis.loadBm25Stats(spark, dirFull, terms))
    assert(inc === TextAnalysis.Bm25Stats(4L, 10L, Map("x" -> 3L, "y" -> 3L, "z" -> 1L)))
    // scoring against the appended artifact == scoring against the retrain
    val panel = Seq(0L -> Seq("x", "z"))
    val a = TextAnalysis.bm25ScoreFrom(docs, "text", "doc_id", panel, inc)
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.bm25ScoreFrom(docs, "text", "doc_id", panel,
        TextAnalysis.loadBm25Stats(spark, dirFull, terms))
      .orderBy("doc_id").collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("bm25ScoreFrom percolates a stream: per-batch output == batch scoring") {
    implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = statsDir("bm25")
    TextAnalysis.buildBm25Stats(docs, "text", dir) // train on the reference corpus
    val stats = TextAnalysis.loadBm25Stats(spark, dir, Seq("x", "z"))
    val panel = Seq(0L -> Seq("x", "z"))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = TextAnalysis.bm25ScoreFrom(
      in.toDF().toDF("doc_id", "text"), "text", "doc_id", panel, stats)
    val q = out.writeStream.format("memory").queryName("t_percolate")
      .outputMode("append").start()
    try {
      // two micro-batches of NEW documents (ids unseen in training)
      in.addData((100L, "x x z"), (101L, "y y y y"))
      q.processAllAvailable()
      in.addData((102L, "z"))
      q.processAllAvailable()
      val got = spark.table("t_percolate")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val batch = TextAnalysis.bm25ScoreFrom(
          Seq((100L, "x x z"), (101L, "y y y y"), (102L, "z")).toDF("doc_id", "text"),
          "text", "doc_id", panel, stats)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq === batch.toSeq)
      // the no-match doc (101) is routed away, the matches alert
      assert(got.map(_._1).toSeq === Seq(100L, 102L))
    } finally q.stop()
  }

  test("snippets: first-occurrence KWIC with start clamping") {
    val d = Seq((1L, "abc hash def"), (2L, "hash at start"), (3L, "no match here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.snippets(d, "text", "doc_id", Seq("hash"), window = 2)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq === Seq(
      (1L, 5L, "c hash d"),   // ±2 chars around the match
      (2L, 1L, "hash a")))    // clamped at the document start
  }

  test("mmrRerank diversifies: a redundant near-dup loses its slot") {
    // probe 0; ids 1,2 nearly identical high-relevance; id 3 diverse
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0.1f, 0f)),   // rel_u 9950
      (2L, Array(1f, 0.12f, 0f)),  // rel_u 9929, sim(1,2)_u 9998
      (3L, Array(0.6f, 0f, 0.8f))) // rel_u 6000, sim(1,3)_u 5970
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.mmrRerank(emb, "embedding", "vec_id",
        queryId = 0L, kCandidates = 3, k = 3, lambdaNum = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // step 2 prefers the DIVERSE id 3 (150) over the near-dup id 2 (-345)
    assert(out.toSeq === Seq((1L, 1L, 49750L), (2L, 3L, 150L), (3L, 2L, -345L)))
    // pure relevance (λ = 1.0) reduces to the cosine order
    val rel = graft.operators.Similarity.mmrRerank(emb, "embedding", "vec_id",
        queryId = 0L, kCandidates = 3, k = 3, lambdaNum = 10)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(rel.toSeq === Seq(1L, 2L, 3L))
  }

  test("property: stored-stats scoring == inline kernel on random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    for (trial <- 1 to 3) {
      val corpus = (0 until 40).map(i => (i.toLong,
        Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val df = corpus.toDF("doc_id", "text")
      val dir = statsDir(s"bm25-prop-$trial")
      TextAnalysis.buildBm25Stats(df, "text", dir)
      val stats = TextAnalysis.loadBm25Stats(spark, dir, vocab)
      val panel = Seq(0L -> Seq("alpha", "gamma"), 1L -> Seq("eps", "zeta", "eta"))
      val stored = TextAnalysis.bm25ScoreFrom(df, "text", "doc_id", panel, stats)
        .orderBy("query_id", "doc_id").collect()
        .map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).toSeq
      val inline = TextAnalysis.bm25TopK(df, "text", "doc_id", panel, k = 1000)
        .orderBy("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
      assert(stored === inline, s"trial=$trial")
      assert(stored.nonEmpty)
    }
  }

  test("charEntropy: uniform, skewed, single-letter and empty docs") {
    val out = TextAnalysis.charEntropy(
        Seq((1L, "abcd"), (2L, "aabb"), (3L, "aaaa"), (4L, "??!!"),
          (5L, "A1a B2b")).toDF("doc_id", "text"),
        "text", "doc_id")
      .orderBy("doc_id").collect()
    def ent(r: Row): Option[Double] = if (r.isNullAt(2)) None else Some(r.getDouble(2))
    assert(out.map(_.getLong(1)).toSeq === Seq(4L, 4L, 4L, 0L, 4L))
    assert(ent(out(0)) === Some(BigDecimal(math.log(4.0)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(ent(out(1)) === Some(0.6931)) // ln 2
    assert(ent(out(2)) === Some(0.0))
    assert(ent(out(3)) === None)         // no letters -> NULL, not -inf
    assert(ent(out(4)) === Some(0.6931)) // case-folded, digits ignored
  }
}
