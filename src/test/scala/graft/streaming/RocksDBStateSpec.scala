package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The RocksDB state store provider — the reference's actual state backend
  * (RocksDbKeyValueStorageEngineFactory,
  * wikipedia-application.properties:31-34) and the right Spark provider at
  * 100 TB state (off-heap, incremental checkpoints vs the default in-memory
  * HDFS-backed map). Own suite because the provider is session-level conf.
  *
  * Round 9: the W5/W6/J2/funnel stateful kernels each re-run their
  * default-provider golden fixture here, so the semantics the reference
  * stores in RocksDB are proven on the SAME store class a 100-TB
  * deployment would configure — not only on the in-memory test provider. */
class RocksDBStateSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = graft.SessionTuning.local(2)
    .appName("rocksdb-state")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  private def ts(epochSec: Long) = new java.sql.Timestamp(epochSec * 1000L)

  test("provider conf is RocksDB, not a silent fallback") {
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
  }

  test("W5 running count keeps state in RocksDB across micro-batches") {
    implicit val sp: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val q = StatefulOps.runningCount(in.toDS())
      .writeStream.format("memory").queryName("t_rocks").outputMode("update").start()
    in.addData("a", "a", "b"); q.processAllAvailable()
    in.addData("a", "b"); q.processAllAvailable()
    q.stop()
    val totals = spark.table("t_rocks").as[(String, Long)].collect().toSet
    assert(totals.contains(("a", 3L)) && totals.contains(("b", 2L)),
      s"RocksDB-backed state must accumulate across batches, saw $totals")
    // the provider actually engaged (not silently fallen back)
    assert(q.lastProgress.stateOperators.nonEmpty)
  }

  test("W6 sessionizeExact closes the golden 2 sessions on RocksDB state") {
    implicit val sp: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[PageView]
    val q = StatefulOps.sessionizeExact(in.toDS(), gapMs = 10000)
      .writeStream.format("memory").queryName("t_rocks_sess")
      .outputMode("append").start()
    in.addData(
      PageView("a", "user1", "x", ts(1000)), PageView("b", "user1", "x", ts(1002)),
      PageView("c", "user1", "x", ts(1004)),
      PageView("d", "user2", "x", ts(1001)), PageView("e", "user2", "x", ts(1003)),
      PageView("f", "user2", "x", ts(1005)))
    q.processAllAvailable()
    in.addData(PageView("g", "user3", "x", ts(2000)))
    q.processAllAvailable()
    in.addData(PageView("h", "user3", "x", ts(3000)))
    q.processAllAvailable(); q.stop()
    val out = spark.table("t_rocks_sess").as[StatefulOps.SessionOut].collect()
      .filter(s => s.userId == "user1" || s.userId == "user2").sortBy(_.userId)
    assert(out.map(s => (s.userId, s.count)).toSeq ==
      Seq(("user1", 3L), ("user2", 3L)), s"saw ${out.toSeq}")
    assert(out.forall(_.durationMs == 4000L))
    assert(q.lastProgress.stateOperators.nonEmpty)
  }

  test("J2 streamTableJoin enriches with the latest profile on RocksDB state") {
    implicit val sp: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val pv = MemoryStream[PageView]
    val pr = MemoryStream[Profile]
    pr.addData(Profile("user1", "LNKD"), Profile("user1", "MSFT"),
      Profile("user2", "GOOG"))
    val q = StatefulOps.streamTableJoin(pv.toDS(), pr.toDS())
      .writeStream.format("memory").queryName("t_rocks_stj")
      .outputMode("append").start()
    q.processAllAvailable()
    pv.addData(
      PageView("google.com/home", "user1", "india", ts(1000)),
      PageView("yahoo.com/home", "user2", "china", ts(1001)),
      PageView("bing.com", "user7", "us", ts(1002)))
    q.processAllAvailable(); q.stop()
    val out = spark.table("t_rocks_stj").as[EnrichedPageView].collect()
      .sortBy(_.userId)
    assert(out.toSeq == Seq(
      EnrichedPageView("user1", "MSFT", "google.com/home"),
      EnrichedPageView("user2", "GOOG", "yahoo.com/home")), s"saw ${out.toSeq}")
    assert(q.lastProgress.stateOperators.nonEmpty)
  }

  test("funnelStream matches the batch funnel across a mid-funnel cut on RocksDB state") {
    implicit val sp: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import StatefulOps.{FunnelEvent, FunnelAdvance}
    def us(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000L
    val fixture = Seq(
      FunnelEvent(1L, "view", us("2024-01-01 10:00:00")),
      FunnelEvent(1L, "click", us("2024-01-01 11:00:00")),
      FunnelEvent(1L, "purchase", us("2024-01-01 12:00:00")),
      FunnelEvent(2L, "view", us("2024-01-01 10:00:00")),
      FunnelEvent(2L, "click", us("2024-01-09 10:00:00")),
      FunnelEvent(3L, "click", us("2024-01-01 10:00:00")),
      FunnelEvent(3L, "view", us("2024-01-01 11:00:00")),
      FunnelEvent(3L, "purchase", us("2024-01-01 10:30:00")),
      FunnelEvent(4L, "view", us("2024-01-01 10:00:00")),
      FunnelEvent(4L, "purchase", us("2024-01-01 11:00:00")),
      FunnelEvent(5L, "click", us("2024-01-01 10:00:00")),
      FunnelEvent(5L, "purchase", us("2024-01-01 11:00:00")),
      FunnelEvent(6L, "view", us("2024-01-01 10:00:00")),
      FunnelEvent(6L, "click", us("2024-01-01 10:00:00")),
      FunnelEvent(6L, "click", us("2024-01-01 10:00:01")),
      FunnelEvent(6L, "purchase", us("2024-01-01 10:00:00")))
    val steps = Seq("view", "click", "purchase")
    val in = MemoryStream[FunnelEvent]
    val q = StatefulOps.funnelStream(in.toDS(), steps,
        maxSpanMicros = 7L * 24 * 3600 * 1000000L)
      .writeStream.format("memory").queryName("t_rocks_funnel")
      .outputMode("append").start()
    val (b1, b2) = fixture.sortBy(e => (e.userId, e.tsMicros))
      .partition(e => e.tsMicros <= us("2024-01-01 10:30:00"))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val advances = spark.table("t_rocks_funnel").as[FunnelAdvance].collect()
    val maxStep = advances.groupBy(_.userId)
      .map { case (_, as) => as.map(_.step).max }
    val streamCounts = (1 to steps.size).map { s =>
      s.toLong -> maxStep.count(_ >= s).toLong
    }.toMap
    val batch = graft.operators.RelationalOps.funnelSteps(
      fixture.map(e => (e.userId, e.eventType,
        new java.sql.Timestamp(e.tsMicros / 1000L)))
        .toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", steps, "7 DAY")
      .select("step", "n_users").as[(Long, Long)].collect().toMap
    assert(streamCounts == batch, s"stream $streamCounts must equal batch $batch")
    assert(advances.groupBy(a => (a.userId, a.step)).values.forall(_.length == 1))
    assert(q.lastProgress.stateOperators.nonEmpty)
  }
}
