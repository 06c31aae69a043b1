package graft.streaming

import graft.SparkSpec
import graft.sql.SqlSurface
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The SQL `INSERT INTO <system>.<topic> SELECT ...` surface — the
  * statement shape of all four reference samza.sql files (e.g.
  * /root/reference/src/main/java/samza/examples/sql/samza-sql-filter/
  * src/main/sql/samza.sql:4-7) run end-to-end: parse the INSERT target,
  * plan the SELECT over a streaming view, return the wired writer. */
case class SqlProfile(memberId: Long, firstName: String, lastName: String,
                   company: String, title: String)
case class SqlPageView(memberid: Long, requestHeader: String)
case class SqlProfileCc(id: Long, status: String, profilePicture: String,
                   industryName: String, positions: String)

class SqlInsertSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val profiles = Seq(
    SqlProfile(1, "Ada", "L", "EngineCo", "  Product Manager "),
    SqlProfile(2, "Ben", "K", "DataCo", "engineer"),
    SqlProfile(3, "Cyd", "M", "PlanCo", "PRODUCT MANAGER"))

  test("parseInsert handles the verbatim reference statement shape") {
    // comments + casing + qualified FROM, as in samza-sql-filter's file
    val stmt =
      """-- Filter Profile change-capture stream by 'Product Manager'
        |-- title and project basic profile data to a kafka topic.
        |
        |INSERT INTO kafka.ProductManagerProfiles
        |SELECT memberId, firstName, lastName, company
        |FROM kafka.ProfileChanges
        |WHERE standardize(title) = 'product manager'""".stripMargin
    val ins = SqlSurface.parseInsert(stmt)
    assert(ins.system == "kafka")
    assert(ins.target == "ProductManagerProfiles")
    assert(ins.select.startsWith("SELECT memberId"))
    // lowercase `insert into` + backticked stream (samza-sql-groupby shape)
    val ins2 = SqlSurface.parseInsert(
      "insert into kafka.groupbyTopic select count(*) as Views from kafka.`PageViewEvent`")
    assert(ins2.system == "kafka" && ins2.target == "groupbyTopic")
    // dotted topic names are idiomatic Kafka: first dot splits, the
    // target keeps the rest
    val ins3 = SqlSurface.parseInsert(
      "INSERT INTO kafka.page.views.v2 SELECT a FROM kafka.b")
    assert(ins3.system == "kafka" && ins3.target == "page.views.v2")
    assertThrows[IllegalArgumentException](
      SqlSurface.parseInsert("SELECT 1"))
  }

  test("system qualifiers strip from FROM/JOIN but real db.table survives") {
    assert(SqlSurface.stripSystemQualifiers(
      "SELECT a FROM kafka.Views JOIN kinesis.`Users` ON x = y") ==
      "SELECT a FROM Views JOIN `Users` ON x = y")
    assert(SqlSurface.stripSystemQualifiers(
      "SELECT a FROM warehouse.facts") == "SELECT a FROM warehouse.facts")
    // Samza's table-view suffix resolves to the <stream>_table view
    assert(SqlSurface.stripSystemQualifiers(
      "SELECT * FROM kafka.PageViewEvent as pv JOIN Kafka.ProfileChanges.`$table` as p ON pv.m = p.m") ==
      "SELECT * FROM PageViewEvent as pv JOIN ProfileChanges_table as p ON pv.m = p.m")
  }

  test("INSERT INTO memory.<name> runs a reference statement end-to-end") {
    val in = MemoryStream[SqlProfile]
    in.addData(profiles)
    in.toDS().createOrReplaceTempView("ProfileChanges")
    val writer = SqlSurface.insertInto(spark,
      """INSERT INTO memory.pm_profiles
        |SELECT memberId, firstName, lastName, company
        |FROM kafka.ProfileChanges
        |WHERE standardize(title) = 'product manager'""".stripMargin)
    val q = writer.start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("pm_profiles")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    // standardize = lower(trim): both PM spellings match, the engineer drops
    assert(out.toSeq == Seq((1L, "Ada", "L", "EngineCo"), (3L, "Cyd", "M", "PlanCo")))
  }

  test("a grouped INSERT (samza-sql-groupby shape) runs in update mode end-to-end") {
    val in = MemoryStream[SqlProfile]
    in.addData(profiles)
    in.toDS().createOrReplaceTempView("ProfileChanges")
    // the reference's aggregating statement shape
    // (samza-sql-groupby/src/main/sql/samza.sql:7-10): grouped counts,
    // continuously re-emitted — update mode is inferred from the plan
    val q = SqlSurface.insertInto(spark,
      """insert into kafka.groupbyTopic
        |  select company, count(*) as Views
        |  from kafka.ProfileChanges
        |  group by company""".stripMargin
        .replace("kafka.groupbyTopic", "memory.grouped_out"))
      .start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("grouped_out").as[(String, Long)].collect().toMap
    assert(out == Map("EngineCo" -> 1L, "DataCo" -> 1L, "PlanCo" -> 1L))
  }

  test("INSERT INTO file.<leaf> lands parquet under options(path)/<leaf>") {
    val in = MemoryStream[SqlProfile]
    in.addData(profiles)
    in.toDS().createOrReplaceTempView("ProfileChanges")
    val base = java.nio.file.Files.createTempDirectory("sql-insert-file").toString
    // the statement's named destination is the leaf directory under the
    // caller's base path (documented sink mapping) — pin the composition
    // end-to-end, trailing slash and all
    val q = SqlSurface.insertInto(spark,
      "INSERT INTO file.pm_out SELECT memberId, company FROM kafka.ProfileChanges",
      Map("path" -> (base + "/"), "checkpoint" -> s"$base/ck"))
      .start()
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(s"$base/pm_out")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "EngineCo"), (2L, "DataCo"), (3L, "PlanCo")))
  }

  // ---- the four reference samza.sql files, verbatim ----------------------

  private val sqlDir =
    "/root/reference/src/main/java/samza/examples/sql"
  private def referenceSql(example: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$sqlDir/$example/src/main/sql/samza.sql"))

  private def registerReferenceViews(): Unit = {
    val prof = MemoryStream[SqlProfileCc]
    prof.addData(Seq(
      SqlProfileCc(1, "active", "pic1.jpg", "software",
        """{"Position":{"companyName":"EngineCo"}}"""),
      SqlProfileCc(2, "active", "pic2.jpg", "data",
        """{"Position":{"companyName":"DataCo"}}""")))
    prof.toDS().createOrReplaceTempView("ProfileChanges")
    val pv = MemoryStream[SqlPageView]
    pv.addData(Seq(
      SqlPageView(1, """{"pageKey":"home"}"""),
      SqlPageView(2, """{"pageKey":"home"}"""),
      SqlPageView(1, """{"pageKey":"about"}"""),
      SqlPageView(3, """{"pageKey":"home"}""")))
    pv.toDS().createOrReplaceTempView("PageViewEvent")
    // the `$table` side of the stream-table join: the materialized
    // latest-wins snapshot registered under <stream>_table
    Seq((1L, "Ada"), (2L, "Ben")).toDF("memberid", "name")
      .createOrReplaceTempView("ProfileChanges_table")
  }

  test("all four reference samza.sql files parse, analyze, and wire verbatim") {
    registerReferenceViews()
    // Every statement exactly as shipped: UDFs resolve (standardize,
    // GetSqlField 1- and 2-arg, GetPageKey), system qualifiers and the
    // `$table` suffix rewrite, and the kafka sink wires without starting
    // (no broker in this sandbox). The filter example's ProfileChanges
    // carries a different schema than casewhen's (two different capture
    // topics in the reference), so the view re-registers per statement.
    for (ex <- Seq("samza-sql-filter", "samza-sql-casewhen",
                   "samza-sql-stream-table-join", "samza-sql-groupby")) {
      if (ex == "samza-sql-filter") {
        val in = MemoryStream[SqlProfile]
        in.addData(profiles)
        in.toDS().createOrReplaceTempView("ProfileChanges")
      } else registerReferenceViews()
      val writer = SqlSurface.insertInto(spark, referenceSql(ex),
        Map("brokers" -> "b:9092", "checkpoint" -> s"/tmp/sql-verbatim-ck-$ex"))
      assert(writer != null, ex)
    }
  }

  test("the verbatim samza-sql-groupby statement runs end-to-end") {
    registerReferenceViews()
    // Only the sink is redirected (kafka has no broker here); the SELECT —
    // GetSqlField(pv.requestHeader) AS __key__ grouped with
    // GetPageKey(pv.requestHeader) AS pageKey — is untouched. Both compile
    // to get_json_object(requestHeader, '$.pageKey'), which is what lets
    // Catalyst accept the non-grouped GetPageKey select: it is
    // semantically equal to the grouping expression.
    val stmt = referenceSql("samza-sql-groupby")
      .replace("kafka.groupbyTopic", "memory.groupby_out")
    val q = SqlSurface.insertInto(spark, stmt).start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("groupby_out")
      .as[(String, String, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("about", "about", 1L), ("home", "home", 3L)))
  }

  test("the verbatim stream-table-join statement runs end-to-end") {
    registerReferenceViews()
    val stmt = referenceSql("samza-sql-stream-table-join")
      .replace("kafka.tracking.EnrichedPageVIewEvent", "memory.enriched_out")
    val q = SqlSurface.insertInto(spark, stmt).start()
    q.processAllAvailable(); q.stop()
    // members 1 and 2 are in the snapshot table; member 3's view drops
    // (inner join) — 3 of the 4 page views enrich
    assert(spark.table("enriched_out").count() == 3)
  }

  test("get_page_key and 1-arg get_sql_field agree; batch SQL resolves them") {
    val out = spark.sql(
      """SELECT GetPageKey(h) AS a, GetSqlField(h) AS b,
        |       get_sql_field(h, 'pageKey') AS c
        |FROM VALUES ('{"pageKey":"jobs"}'), (NULL), ('not json') AS t(h)"""
        .stripMargin).as[(String, String, String)].collect()
    assert(out.toSeq == Seq(("jobs", "jobs", "jobs"),
      (null, null, null), (null, null, null)))
  }

  test("INSERT INTO kafka.<topic> returns a wired writer; unknown system throws") {
    val in = MemoryStream[SqlProfile]
    in.toDS().createOrReplaceTempView("ProfileChanges")
    // no broker in this sandbox: assert the wiring is built (format/topic
    // options accepted) without starting it
    SqlSurface.insertInto(spark,
      "INSERT INTO kafka.out SELECT memberId FROM kafka.ProfileChanges",
      Map("brokers" -> "b:9092", "checkpoint" -> "/tmp/sql-insert-ck"))
    assertThrows[IllegalArgumentException](SqlSurface.insertInto(spark,
      "INSERT INTO kafka.out SELECT memberId FROM kafka.ProfileChanges"))
    assertThrows[IllegalArgumentException](SqlSurface.insertInto(spark,
      "INSERT INTO nowhere.out SELECT memberId FROM kafka.ProfileChanges"))
  }
}
