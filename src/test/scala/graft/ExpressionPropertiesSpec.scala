package graft

import graft.expressions.{Exprs, FastDoubleRound, ShingleKernel}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests pinning the native expressions to their composable
  * reference semantics on arbitrary inputs — the codegen kernels must be
  * drop-in equal to the slow forms they replaced. */
class ExpressionPropertiesSpec extends SparkSpec {

  /** Deterministic sampling (scalatestplus bridge isn't on the offline
    * classpath, so drive ScalaCheck generators directly). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val text = Gen.listOf(word).map(_.mkString(" "))
  private val spacedText = for {
    t <- text; pre <- Gen.choose(0, 2); mid <- Gen.choose(0, 2)
  } yield (" " * pre) + t.replace(" ", " " * (mid + 1))

  /** Naive reference implementation of the shingle semantics. */
  private def naiveShingles(s: String, n: Int): Seq[String] = {
    val toks = s.split(" ").filter(_.nonEmpty).toSeq
    if (toks.length <= n) Seq(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSeq
  }

  test("ShingleKernel matches the naive sliding-window semantics on arbitrary spacing") {
    for {
      s <- samples(spacedText, 300)
      n <- 1 to 5
    } {
      val got = ShingleKernel.compute(UTF8String.fromString(s), n)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      assert(got == naiveShingles(s, n), s"text=<$s> n=$n")
    }
  }

  /** The replaced composable dot product, kept as the reference. */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Runs `body` once interpreted and once in whole-stage codegen. */
  private def inBothModes(body: String => Unit): Unit =
    for ((mode, wholeStage) <- Seq("NO_CODEGEN" -> "false", "CODEGEN_ONLY" -> "true")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  /** An RDD-backed frame: no local-relation or constant folding, so the
    * projection runs in the mode under test. */
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  /** Collects `df` and asserts the codegen mode ran as asked. */
  private def collectIn(mode: String, df: DataFrame): Array[Row] = {
    val out = df.collect()
    val fused = (new AdaptiveSparkPlanHelper {})
      .find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined
    assert(fused == (mode == "CODEGEN_ONLY"), s"$mode plan:\n${df.queryExecution.executedPlan}")
    out
  }

  private def planOf(df: DataFrame): String = df.queryExecution.optimizedPlan.toString

  /** Spark's `round(`, as a plan prints it; `fast_round(` does not match. */
  private val SparkRound = "(?<!fast_)round\\(".r

  /** `body` with the fast-round rule excluded through Spark's own
    * `spark.sql.optimizer.excludedRules`, so its plans run Spark's `Round`. */
  private def withoutFastRound[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", FastDoubleRound.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** Null-aware bit equality (-0.0 differs from +0.0; NaNs are one). */
  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))

  test("CosineSimilarity expression equals the HOF formulation on random vectors") {
    val vec = (i: Int) => Array.tabulate(16)(j => math.sin(i * 17 + j * 3).toFloat: java.lang.Float)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val rows = Seq.tabulate(50)(i => Row(i.toLong, vec(i).toSeq)) :+
      Row(50L, vec(50).toSeq.updated(5, null)) // a null element: both forms give null
    inBothModes { mode =>
      val vecs = frame(rows, schema)
      val got = collectIn(mode, vecs.as("a").crossJoin(vecs.as("b"))
        .select(col("a.id"), col("b.id"),
          Exprs.cosineSim(col("a.v"), col("b.v")).as("native"),
          (hofDot(col("a.v"), col("b.v")) /
            (sqrt(hofDot(col("a.v"), col("a.v"))) * sqrt(hofDot(col("b.v"), col("b.v"))))).as("hof")))
      assert(got.length == 51 * 51)
      got.foreach { r =>
        assert(bits(r, 2) == bits(r, 3), s"$mode pair (${r.getLong(0)}, ${r.getLong(1)})")
        assert(r.isNullAt(2) == (r.getLong(0) == 50L || r.getLong(1) == 50L))
      }
    }
  }

  test("Dot equals the aggregate(zip_with) form bit for bit, float and float x double; " +
      "empty, mismatch, null element, null array and -0.0 products") {
    val rng = new scala.util.Random(11)
    def floats(n: Int) = Seq.fill(n)((rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 3)).toFloat: java.lang.Float)
    def doubles(n: Int) = Seq.fill(n)(rng.nextGaussian() * 1e3 - 1.5: java.lang.Double)
    val nf = Seq[java.lang.Float](-0.0f, 0.0f, -0.0f, 3.0f)
    val edge = Seq[(Seq[java.lang.Float], Seq[java.lang.Float], Seq[java.lang.Double], Option[Double])](
      (Nil, Nil, Nil, Some(0.0)),                                          // empty
      (floats(3), floats(4), doubles(5), None),                            // mismatch
      (floats(2) :+ null, floats(3), doubles(2) :+ null, None),            // null element
      (null, floats(3), null, None),                                       // null array
      (nf, nf.reverse, Seq[java.lang.Double](0.0, -0.0, -0.0, 0.0), Some(0.0)), // -0.0 products
      (Seq[java.lang.Float](-0.0f), Seq[java.lang.Float](0.0f), Seq[java.lang.Double](-0.0), Some(0.0)))
    val random = Seq.tabulate(400) { i =>
      val n = i % 70
      (floats(n), floats(n), doubles(n), Option.empty[Double])
    }
    val all = edge ++ random
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true)),
      StructField("c", ArrayType(DoubleType, containsNull = true))))
    val rows = all.zipWithIndex.map { case ((a, b, c, _), i) => Row(i, a, b, c) }
    // an array built in the projection: null on even ids
    val built = array(col("id").cast("float"),
      when(col("id") % 2 === 0, lit(null).cast("float")).otherwise(lit(-0.5f)))
    inBothModes { mode =>
      val got = collectIn(mode, frame(rows, schema).select(col("id"),
        Exprs.dot(col("a"), col("b")), hofDot(col("a"), col("b")),
        Exprs.dot(col("a"), col("c")), hofDot(col("a"), col("c")),
        Exprs.dot(col("c"), col("a")), hofDot(col("c"), col("a")),
        Exprs.dot(built, built), hofDot(built, built)))
      assert(got.length == all.length)
      got.foreach { r =>
        val id = r.getInt(0)
        Seq(1, 3, 5, 7).foreach(k => assert(bits(r, k) == bits(r, k + 1), s"$mode row $id col $k"))
        assert(r.isNullAt(7) == (id % 2 == 0), s"$mode row $id built array")
        if (id < edge.length) {
          val want = edge(id)._4.map(java.lang.Double.doubleToLongBits)
          assert(bits(r, 1) == want, s"$mode edge row $id: ${r.get(1)}")
          assert(bits(r, 3) == want, s"$mode edge row $id (float x double): ${r.get(3)}")
        }
      }
    }
  }

  test("fast round equals Spark's round bit for bit at scales 0-6: random, ties, " +
      "near-ties, signed zeros, subnormals, NaN, Inf, and magnitudes near 2^53 and 1e15") {
    val rng = new scala.util.Random(13)
    val scales = 0 to 6
    def around(v: Double): Seq[Double] =
      Iterator.iterate(v)(java.lang.Math.nextUp(_: Double)).slice(1, 4).toSeq ++
        Iterator.iterate(v)(java.lang.Math.nextDown(_: Double)).take(4).toSeq
    val ties = for {
      s <- scales; _ <- 1 to 200
      k = rng.nextInt(1000000).toDouble
      t = (k + 0.5) / math.pow(10, s)
      v <- around(t)
    } yield v
    val edges = for {
      s <- scales
      base <- Seq(9007199254740992.0, 1e15)
      v0 = base / math.pow(10, s)
      v <- around(v0) ++ around(math.floor(v0) + 0.5) ++ around(v0 - 0.5 / math.pow(10, s))
    } yield v
    val specials = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, java.lang.Math.nextDown(java.lang.Double.MIN_NORMAL), 1e-310,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue,
      -Double.MaxValue, 1.00005, -1.00005, 0.12345, -0.12345, 0.5, 1.5, 2.5, -0.5,
      0.00005, 0.49999999999999994, 4.35, 1.005, 2.675)
    val random =
      Seq.fill(4000)(rng.nextDouble() * 2000 - 1000) ++
      Seq.fill(3000)((rng.nextDouble() * 2 - 1) * math.pow(10, -rng.nextInt(9))) ++
      Seq.fill(2000)(rng.nextLong() / math.pow(10, rng.nextInt(19))) ++
      Seq.fill(2000)(rng.nextInt(10000000).toDouble / math.pow(10, rng.nextInt(9))) ++
      Seq.fill(2000)(java.lang.Double.longBitsToDouble(rng.nextLong()))
    val xs = (specials ++ ties ++ edges ++ random).flatMap(v => Seq(v, -v))
    val rows = xs.zipWithIndex.map { case (v, i) => Row(i, v) }
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("x", DoubleType)))
    val rounds = col("id") +: scales.map(s => round(col("x"), s).as(s"r$s"))
    inBothModes { mode =>
      val fast = frame(rows, schema).select(rounds: _*)
      val got = collectIn(mode, fast)
      assert(planOf(fast).contains("fast_round("), planOf(fast))
      val (want, refPlan) = withoutFastRound {
        val ref = frame(rows, schema).select(rounds: _*)
        (collectIn(mode, ref), planOf(ref))
      }
      assert(SparkRound.findFirstIn(refPlan).isDefined && !refPlan.contains("fast_round("),
        s"the reference must run Spark's round:\n$refPlan")
      assert(got.length == xs.length && want.length == xs.length)
      got.zip(want).foreach { case (r, w) =>
        assert(r.getInt(0) == w.getInt(0))
        scales.foreach { s =>
          assert(bits(r, 1 + s) == bits(w, 1 + s),
            s"$mode x=${xs(r.getInt(0))} s=$s: fast ${r.get(1 + s)} vs round ${w.get(1 + s)}")
        }
      }
    }
  }

  test("decimal and float rounds keep Spark's round") {
    val df = frame(Seq(Row(BigDecimal("1.23456").bigDecimal, 1.23456f)), StructType(Seq(
      StructField("d", DecimalType(10, 5)), StructField("f", FloatType))))
      .select(round(col("d"), 2).as("rd"), round(col("f"), 2).as("rf"))
    val plan = planOf(df)
    assert(SparkRound.findAllIn(plan).length == 2 && !plan.contains("fast_round("), plan)
    val r = df.collect()(0)
    assert(r.getDecimal(0) == new java.math.BigDecimal("1.23") && r.getFloat(1) == 1.23f)
  }

  test("wikipedia parser round-trips generated well-formed lines") {
    import spark.implicits._
    val titles = Seq("Some Page", "Talk:Thing", "Special:Log/x", "A (b) c")
    val flagsSet = Seq("", "M", "N", "!", "B", "MB", "N!")
    val lines = for {
      (t, i) <- titles.zipWithIndex
      f <- flagsSet
    } yield graft.streaming.WikipediaFeedEvent("#en.wikipedia",
      s"[[$t]] $f https://x.org/d?i=$i * user$i * (${if (i % 2 == 0) "+" else "-"}${i + 1}) summary $i",
      1000000L + i, "src")
    val parsed = graft.streaming.WikipediaParse.parse(lines.toDF())
    assert(parsed.count() == lines.length, "every well-formed line must parse")
    val rows = parsed.collect()
    rows.foreach { r =>
      assert(titles.contains(r.getAs[String]("title")))
      assert(r.getAs[Boolean]("isMinor") == r.getAs[String]("unparsedFlags").contains("M"))
      assert(r.getAs[Boolean]("isTalk") == r.getAs[String]("title").startsWith("Talk:"))
    }
  }

  test("BloomMightContain agrees with the filter's own probe; nulls pass through") {
    import spark.implicits._
    val members = (0 until 500).map(i => s"shingle $i")
    val bf = members.toDF("s").stat.bloomFilter("s", 500, 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    val probes = (members ++ (1000 until 1500).map(i => s"other $i"))
      .map(Option(_)) :+ Option.empty[String]
    val got = probes.toDF("s")
      .select(col("s"), Exprs.bloomMightContain(col("s"), bfB).as("hit"))
      .collect()
      .map(r => Option(r.getString(0)) ->
        (if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    probes.foreach { p =>
      val expect = p.map(bf.mightContainString) // None for the null probe
      assert(got(p) == expect, s"probe=$p")
    }
    // every member must hit (Bloom has no false negatives)
    members.foreach(m => assert(got(Some(m)) == Some(true), m))
  }

  test("LetterCounts equals the 26-x-replace column twin on arbitrary text") {
    import spark.implicits._
    val mixed = for {
      t <- spacedText
      caps <- Gen.listOf(Gen.alphaUpperChar).map(_.mkString)
      junk <- Gen.listOf(Gen.oneOf('0', '9', '!', 'ü', 'И', '漢', ' ')).map(_.mkString)
    } yield t + caps + junk
    val rows = samples(mixed, 200).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = rows.toDF("id", "t")
    def twin(ch: Char) =
      (length(col("t")) - length(replace(replace(col("t"),
        lit(ch.toString), lit("")), lit(ch.toUpper.toString), lit("")))).cast("long")
    val got = df.select(col("id"),
        graft.expressions.Exprs.letterCounts(col("t")).as("lc"),
        array(('a' to 'z').map(twin): _*).as("tw"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
  }

  test("TermFrequencies equals the per-term size(filter(...)) twin on " +
      "arbitrary token arrays; panel order and misses pin to zero") {
    import spark.implicits._
    // small vocabulary so panel terms actually collide with tokens
    val tok = Gen.oneOf("apple", "banana", "cherry", "date", "egg", "fig")
    val doc = Gen.listOf(tok).map(_.mkString(" "))
    val panel = Seq("banana", "date", "nosuchterm", "apple")
    val rows = samples(doc, 200).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = rows.toDF("id", "t")
    val toks = filter(split(col("t"), " "), x => x =!= "")
    val got = df.select(col("id"),
        Exprs.termFrequencies(toks, panel).as("tf"),
        array(panel.map(tm =>
          size(filter(toks, x => x === lit(tm))).cast("long")): _*).as("tw"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
    // null text → null array (the null-intolerant UnaryExpression
    // contract the BM25 consumer's drop-semantics rely on)
    val nr = Seq((0L, Option.empty[String])).toDF("id", "t")
      .select(Exprs.termFrequencies(filter(split(col("t"), " "),
        x => x =!= ""), panel).as("tf")).collect()(0)
    assert(nr.isNullAt(0))
    // empty panel → empty counts, not a crash
    val er = Seq((0L, "apple fig")).toDF("id", "t")
      .select(Exprs.termFrequencies(filter(split(col("t"), " "),
        x => x =!= ""), Nil).as("tf")).collect()(0)
    assert(er.getSeq[Long](0).isEmpty)
  }

  test("PanelTermStats equals termFrequencies + size(tokens) on arbitrary " +
      "spacing, tabs and non-ASCII text (0x20-only split)") {
    import spark.implicits._
    // tokens may carry tabs/newlines/multibyte glyphs INSIDE them — only
    // 0x20 splits, exactly like split(text, " ") — and spacing varies
    val tok = Gen.oneOf("apple", "banana", "a\tb", "ü漢", "apple!", "x")
    val doc = for {
      ts <- Gen.listOf(tok)
      pre <- Gen.choose(0, 2); gap <- Gen.choose(1, 3)
    } yield (" " * pre) + ts.mkString(" " * gap)
    val panel = Seq("banana", "a\tb", "ü漢", "missing", "apple")
    val rows = samples(doc, 200).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = rows.toDF("id", "t")
    val toks = filter(split(col("t"), " "), x => x =!= "")
    val got = df.select(col("id"),
        Exprs.panelTermStats(col("t"), panel).as("ps"),
        concat(Exprs.termFrequencies(toks, panel),
          array(size(toks).cast("long"))).as("tw"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
  }
}
