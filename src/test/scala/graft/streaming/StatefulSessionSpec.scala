package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Exact sessionization and streaming dedup (stateful-API variants). */
class StatefulSessionSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  implicit def sp: org.apache.spark.sql.SparkSession = spark

  test("funnelStream equals the batch funnel on the same events, across micro-batches") {
    import StatefulOps.{FunnelEvent, FunnelAdvance}
    def us(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000L
    // the batch spec's fixture: u1 full funnel, u2 span miss, u3 order
    // miss, u4 missing middle, u5 no anchor, u6 same-ts tie
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
      FunnelEvent(6L, "purchase", us("2024-01-01 10:00:00"))
    )
    val steps = Seq("view", "click", "purchase")
    val in = MemoryStream[FunnelEvent]
    val q = StatefulOps.funnelStream(in.toDS(), steps,
        maxSpanMicros = 7L * 24 * 3600 * 1000000L)
      .writeStream.format("memory").queryName("t_funnel").outputMode("append").start()
    // per-user event-time order across batches (the transport contract);
    // the batch boundary cuts every user's sequence mid-funnel
    val (b1, b2) = fixture.sortBy(e => (e.userId, e.tsMicros))
      .partition(e => e.tsMicros <= us("2024-01-01 10:30:00"))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val advances = spark.table("t_funnel").as[FunnelAdvance].collect()
    val maxStep = advances.groupBy(_.userId).map { case (_, as) => as.map(_.step).max }
    val streamCounts = (1 to steps.size).map { s =>
      s.toLong -> maxStep.count(_ >= s).toLong
    }.toMap
    val batch = graft.operators.RelationalOps.funnelSteps(
      fixture.map(e => (e.userId, e.eventType,
        new java.sql.Timestamp(e.tsMicros / 1000L)))
        .toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", steps, "7 DAY")
      .select("step", "n_users").as[(Long, Long)].collect().toMap
    assert(streamCounts == batch,
      s"stream $streamCounts must equal batch $batch")
    // each advancement is emitted exactly once despite the mid-funnel cut
    assert(advances.groupBy(a => (a.userId, a.step)).values.forall(_.length == 1))
  }

  test("flatMapGroupsWithState sessionization closes sessions on event-time timeout") {
    val in = MemoryStream[PageView]
    val q = StatefulOps.sessionizeExact(in.toDS(), gapMs = 10000)
      .writeStream.format("memory").queryName("t_fmgws").outputMode("append").start()
    // the 6-event fixture: user1 and user2, 3 views each within the gap
    in.addData(
      PageView("a", "user1", "x", ts(1000)), PageView("b", "user1", "x", ts(1002)),
      PageView("c", "user1", "x", ts(1004)),
      PageView("d", "user2", "x", ts(1001)), PageView("e", "user2", "x", ts(1003)),
      PageView("f", "user2", "x", ts(1005)))
    q.processAllAvailable()
    // advance the watermark far past both sessions' timeout
    in.addData(PageView("g", "user3", "x", ts(2000)))
    q.processAllAvailable()
    in.addData(PageView("h", "user3", "x", ts(3000)))
    q.processAllAvailable(); q.stop()
    val out = spark.table("t_fmgws").as[StatefulOps.SessionOut].collect()
      .filter(s => s.userId == "user1" || s.userId == "user2").sortBy(_.userId)
    assert(out.map(s => (s.userId, s.count)).toSeq == Seq(("user1", 3L), ("user2", 3L)),
      s"exactly 2 sessions of 3 views, saw ${out.toSeq}")
    assert(out.forall(_.durationMs == 4000L))
  }

  test("dropDuplicatesWithinWatermark removes repeated events in-stream") {
    val in = MemoryStream[PageView]
    val q = StatefulOps.dedupStream(in.toDS().toDF(), "ts", "10 seconds", Seq("pageId", "userId"))
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    in.addData(
      PageView("p1", "u1", "x", ts(1000)),
      PageView("p1", "u1", "x", ts(1001)), // duplicate within watermark
      PageView("p2", "u1", "x", ts(1002)))
    q.processAllAvailable()
    in.addData(PageView("p1", "u1", "x", ts(1003))) // still duplicate
    q.processAllAvailable(); q.stop()
    val out = spark.table("t_dedup").select("pageId").as[String].collect().sorted
    assert(out.toSeq == Seq("p1", "p2"), s"saw ${out.toSeq}")
  }

  test("transitionStream counts equal the batch Markov matrix, across micro-batches") {
    import graft.streaming.StatefulOps.{SeqEvent, Transition}
    val fixture = Seq(
      SeqEvent(1L, "a", 1000L), SeqEvent(1L, "b", 2000L),
      SeqEvent(1L, "a", 3000L), SeqEvent(1L, "c", 4000L),
      SeqEvent(2L, "a", 1000L), SeqEvent(2L, "b", 2000L),
      SeqEvent(3L, "z", 1000L)) // single event: no transition
    val in = MemoryStream[SeqEvent]
    val q = StatefulOps.transitionStream(in.toDS())
      .writeStream.format("memory").queryName("t_trans").outputMode("append").start()
    // batch boundary cuts u1 and u2 mid-sequence: the b→a (u1) and a→b
    // (u2) transitions only exist if state carries the last event across
    val (b1, b2) = fixture.partition(_.tsMicros <= 2000L)
    in.addData(b1.filter(_.tsMicros <= 1000L): _*); q.processAllAvailable()
    in.addData(b1.filter(_.tsMicros > 1000L): _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_trans").as[Transition].collect()
      .groupBy(t => (t.fromType, t.toType)).map { case (k, v) => k -> v.length.toLong }
    val batch = graft.operators.Sequences.markovTransitions(
        fixture.toDF("user_id", "event_type", "ts_us"),
        "user_id", "event_type", Seq("ts_us"))
      .select("from_type", "to_type", "n")
      .as[(String, String, Long)].collect()
      .map { case (f, t, n) => (f, t) -> n }.toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed(("a", "b")) == 2L) // spans the batch cut for u2
  }

  test("anomalyStream flags equal the batch rollingAnomalies, across micro-batches") {
    import graft.streaming.StatefulOps.{AnomalyFlag, SeriesPoint}
    // two keys, values with a planted spike per key; the spike for key 1
    // arrives in a LATER micro-batch than its history — only carried
    // deque state can flag it
    val fixture = (1L to 10L).map(i => SeriesPoint(1L, i, 100L)) ++
      Seq(SeriesPoint(1L, 11L, 900L)) ++
      (1L to 6L).map(i => SeriesPoint(2L, i, (if (i % 2 == 0) 110L else 90L))) ++
      Seq(SeriesPoint(2L, 7L, 104L))
    val in = MemoryStream[SeriesPoint]
    val q = StatefulOps.anomalyStream(in.toDS(), lookback = 8, kSigma = 3)
      .writeStream.format("memory").queryName("t_anom").outputMode("append").start()
    val (b1, b2) = fixture.partition(_.idx <= 6L)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_anom").as[AnomalyFlag].collect()
      .map(f => (f.key, f.idx) -> ((f.nPrior, f.isAnomaly))).toMap
    val batch = graft.operators.Timeseries.rollingAnomalies(
        fixture.toDF("key", "idx", "v"), "key", Seq("idx"), "v",
        idCols = Seq("key", "idx"), lookback = 8, kSigma = 3)
      .select("key", "idx", "n_prior", "is_anomaly")
      .as[(Long, Long, Long, Boolean)].collect()
      .map { case (k, i, n, a) => (k, i) -> ((n, a)) }.toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed((1L, 11L))._2, "cross-batch spike must flag")
    assert(!streamed((2L, 7L))._2, "in-band point must stay quiet")
  }

  test("kmvDistinctStream: JVM hash is byte-equal to the Column-side md5Hash32") {
    val vals = Seq("", "a", "hello world", "tok_42", "ünïcode ✓")
    val colSide = vals.toDF("v")
      .select(graft.operators.Sketches.md5Hash32(col("v")))
      .collect().map(_.getLong(0)).toSeq
    val jvmSide = vals.map(StatefulOps.md5Hash32Jvm)
    assert(colSide == jvmSide, s"col $colSide vs jvm $jvmSide")
  }

  test("kmvDistinctStream equals the batch kmvDistinct after every prefix") {
    import graft.streaming.StatefulOps.{DistinctEstimate, KeyedValue}
    // two keys; duplicates SPAN the batch cut (v3/v4 re-sent in batch 2);
    // k=8 so key a overflows the sketch (estimator branch) and key b
    // stays exact
    val b1 = (0 until 12).map(i => KeyedValue("a", s"v$i")) ++
      (0 until 3).map(i => KeyedValue("b", s"w$i"))
    val b2 = Seq(KeyedValue("a", "v3"), KeyedValue("a", "v4")) ++
      (12 until 20).map(i => KeyedValue("a", s"v$i")) ++
      Seq(KeyedValue("b", "w0"), KeyedValue("b", "w3"))
    val in = MemoryStream[KeyedValue]
    val q = StatefulOps.kmvDistinctStream(in.toDS(), k = 8)
      .writeStream.format("memory").queryName("t_kmv").outputMode("update").start()
    def batchEst(rows: Seq[KeyedValue]) =
      graft.operators.Sketches.kmvDistinct(
        rows.toDF("key", "value"), "value", "key", k = 8)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      in.addData(b1: _*); q.processAllAvailable()
      val afterB1 = spark.table("t_kmv").as[DistinctEstimate].collect()
        .map(e => e.key -> e.estDistinct).toMap
      assert(afterB1 == batchEst(b1), s"prefix 1: $afterB1 vs ${batchEst(b1)}")
      in.addData(b2: _*); q.processAllAvailable()
      val all = spark.table("t_kmv").as[DistinctEstimate].collect()
      // batch-2 emissions are the rows beyond batch 1's two
      val afterB2 = all.drop(2).map(e => e.key -> e.estDistinct).toMap
      assert(afterB2 == batchEst(b1 ++ b2),
        s"prefix 2: $afterB2 vs ${batchEst(b1 ++ b2)}")
    } finally q.stop()
  }

  test("sequenceMonitor: frontier tracks holes, fills advance it, overflow flags the jump") {
    import graft.streaming.StatefulOps.{SeqId, SeqStatus}
    val in = MemoryStream[SeqId]
    val q = StatefulOps.sequenceMonitor(in.toDS(), startAt = 0L,
        maxPending = 3)
      .writeStream.format("memory").queryName("t_seqmon")
      .outputMode("update").start()
    def latest(): Map[String, (Long, Long, Long, Boolean)] =
      spark.table("t_seqmon").as[SeqStatus].collect()
        .zipWithIndex.groupBy(_._1.key)
        .map { case (k, rs) => // last emission per key wins
          val s = rs.maxBy(_._2)._1
          k -> ((s.frontier, s.nPending, s.firstMissing, s.overflow))
        }
    try {
      // key a: 0,1,2 contiguous + 5 ahead (3,4 missing); key b: replay-safe
      in.addData(SeqId("a", 0), SeqId("a", 1), SeqId("a", 2), SeqId("a", 5),
        SeqId("b", 0), SeqId("b", 0))
      q.processAllAvailable()
      assert(latest()("a") == ((2L, 1L, 3L, false)), s"got ${latest()("a")}")
      assert(latest()("b") == ((0L, 0L, -1L, false)))
      // the hole fills out of order → frontier sweeps through 5
      in.addData(SeqId("a", 4), SeqId("a", 3), SeqId("a", 2))
      q.processAllAvailable()
      assert(latest()("a") == ((5L, 0L, -1L, false)), s"got ${latest()("a")}")
      // a permanent hole + pending beyond maxPending → flagged jump
      in.addData(SeqId("a", 100), SeqId("a", 101), SeqId("a", 102),
        SeqId("a", 103))
      q.processAllAvailable()
      val (f, nPend, _, ovf) = latest()("a")
      assert(ovf, "overflow must be flagged, never silent")
      assert(f == 103L && nPend == 0L,
        s"the jump lands on the smallest pending id and drains: ${latest()("a")}")
      // WIDELY SCATTERED backlog in one batch: the bound must hold after
      // a single batch even when no two pending ids are contiguous (one
      // jump per excess, not one per batch)
      in.addData((0 until 9).map(i => SeqId("a", 1000L + i * 50)): _*)
      q.processAllAvailable()
      val (_, nPend2, _, ovf2) = latest()("a")
      assert(ovf2 && nPend2 <= 3L,
        s"maxPending must bound state for scattered ids too: ${latest()("a")}")
    } finally q.stop()
  }
}
