package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

/** The SQL surface and planner rule that `SessionTuning` installs through
  * GraftExtensions, seen from a plain spec session: no registration call
  * anywhere, every function resolves through `spark.sql`, and Spark's
  * double `round` is planned as `fast_round` from every entry point. */
class ExtensionsSpec extends SparkSpec {

  private def optimized(df: DataFrame): String = df.queryExecution.optimizedPlan.toString

  test("cosine_sim, word_shingles and hamming_dist evaluate through SQL") {
    val r = spark.sql(
      """SELECT
        |  round(cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                   array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))), 4) AS cs,
        |  word_shingles('a b c d', 3) AS sh,
        |  hamming_dist('1010', '1001') AS hd
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
    assert(r.getLong(2) == 2L)
  }

  test("nfc_normalize folds decomposed forms, is idempotent, and preserves NFC input") {
    val decomposed = "café"   // e + combining acute (5 code points)
    val composed = "café"      // é (4 code points)
    val r = spark.sql(
      s"""SELECT nfc_normalize('$decomposed') AS n1,
         |  nfc_normalize('$composed') AS n2,
         |  nfc_normalize(nfc_normalize('$decomposed')) AS n3,
         |  length(nfc_normalize('$decomposed')) AS len,
         |  nfc_normalize(CAST(NULL AS STRING)) AS nn
         |""".stripMargin).collect()(0)
    assert(r.getString(0) == composed, "decomposed must fold to the composed form")
    assert(r.getString(1) == composed, "NFC input must pass through unchanged")
    assert(r.getString(2) == composed, "normalization must be idempotent")
    assert(r.getInt(3) == 4, "the combining mark must merge into one code point")
    assert(r.isNullAt(4), "null in, null out")
  }

  test("all 10 injected names resolve through spark.sql, reference spellings included") {
    val names = Seq("cosine_sim", "word_shingles", "hamming_dist", "jaro_winkler",
      "nfc_normalize", "standardize", "get_sql_field", "getsqlfield", "get_page_key",
      "getpagekey")
    assert(names.filterNot(n => spark.catalog.functionExists(n)).isEmpty)
    val r = spark.sql(
      """SELECT standardize('  BUILDING ') AS st,
        |  get_sql_field(json, 'a.b') AS f, GetSqlField(json, 'a.b') AS fc,
        |  getsqlfield(header) AS h, GetSqlField(header) AS hc,
        |  get_page_key(header) AS p, GetPageKey(header) AS pc,
        |  getpagekey(header) AS pl, GetSqlField(json, 'a.missing') AS miss,
        |  round(jaro_winkler('DIXON', 'DICKSONX'), 10) AS jw
        |FROM VALUES ('{"a":{"b":7}}', '{"pageKey":"home"}') AS t(json, header)
        |""".stripMargin).collect()(0)
    assert(r.getString(0) == "building")
    assert((1 to 2).map(r.getString) == Seq("7", "7"))
    assert((3 to 7).map(r.getString) == Seq.fill(5)("home"))
    assert(r.isNullAt(8), "a missing path is null")
    assert(r.getDouble(9) == 0.8133333333)
  }

  test("a double round plans as fast_round from the Column API, SQL and a streaming query") {
    val api = spark.range(5).select(round(col("id") / 3.0, 2).as("r"))
    assert(optimized(api).contains("fast_round("), optimized(api))
    val sql = spark.sql(
      "SELECT round(CAST(id AS DOUBLE) / 3, 2) AS r, round(id / 3.0, 2) AS d FROM range(5)")
    // `id / 3.0` is a decimal in SQL: its round stays Spark's
    assert(optimized(sql).contains("fast_round(") &&
      "(?<!fast_)round\\(".r.findFirstIn(optimized(sql)).isDefined, optimized(sql))
    assert(api.collect().map(_.getDouble(0)).toSeq == Seq(0.0, 0.33, 0.67, 1.0, 1.33))

    implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Double]
    val q = in.toDF().select(round(col("value"), 2).as("r"))
      .writeStream.format("memory").queryName("t_fast_round").outputMode("append").start()
    try {
      in.addData(1.005, 2.675, -0.125)
      q.processAllAvailable()
      val batch = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(batch.sparkSession ne spark, "a streaming query plans on a cloned session")
      assert(batch.optimizedPlan.toString.contains("fast_round("), batch.optimizedPlan.toString)
      assert(spark.table("t_fast_round").as[Double].collect().toSeq == Seq(1.01, 2.68, -0.13))
    } finally q.stop()
  }

  test("the rewrite keeps the schema, nullability included") {
    val df = spark.range(3).select(round(col("id") / 3.0, 2).as("r"),
      round(col("id").cast("double"), 1).as("s"))
    assert(optimized(df).contains("fast_round("), optimized(df))
    assert(df.queryExecution.optimizedPlan.schema == df.schema)
    assert(df.schema("s").nullable, "Spark's round is nullable over a non-null child")
  }
}
