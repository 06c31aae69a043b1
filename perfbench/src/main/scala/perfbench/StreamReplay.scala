package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.streaming.{AdClick, PageView, Pipelines, Profile, StatefulOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** `stream_replay`: `events` in timestamp order, replayed through the
  * program's line-replay source (`graft.sources.ReplayFeedProvider`) at a
  * fixed number of rows per micro-batch into each streaming twin of the
  * cookbook, one pipeline at a time. The engine offers the next micro-batch
  * when the previous one has committed (a closed loop).
  *
  * The seed permutes rows inside each micro-batch. The event-time watermark
  * only advances between micro-batches, so no row becomes late and the
  * expected output does not change with the seed.
  *
  * A last line far in the future (user "-1") advances the watermark so
  * every window and session closes; it is left out of the compare. Each
  * pipeline's sink must equal the batch twin over the same events: the same
  * `Pipelines`/`StatefulOps` transform run with `spark.read` semantics, or,
  * for the changelog-ordered stream-table join, the equivalent join on
  * micro-batch numbers. */
final class StreamReplay(spark: SparkSession, conf: Harness.Conf,
                         rec: Harness.Record) extends Workload {
  import spark.implicits._
  private implicit val session: SparkSession = spark

  private val rowsPerBatch = conf.int("rowsPerBatch")
  private val scratch = conf("scratchDir")
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Replay lines "event_id,ts_micros,user_id,event_type,k": the first
    * `rows - 1` events and the closing line, which thus rides in the last
    * micro-batch; the seed shuffles rows within each micro-batch. */
  private def replayLines(rows: Int): Array[String] = {
    val ev = Tables.load(spark, conf("dataDir"), "events")
      .orderBy("ts", "event_id").limit(rows - 1)
      .select(concat_ws(",", col("event_id"), unix_micros(col("ts")), col("user_id"),
        col("event_type"), get_json_object(col("props"), "$.k")))
      .as[String].collect()
    val rnd = new scala.util.Random(conf.int("seed"))
    val shuffled = ev.grouped(rowsPerBatch).flatMap(b => rnd.shuffle(b.toSeq)).toArray
    val lastTs = ev.last.split(",")(1).toLong
    shuffled :+ s"-1,${lastTs + 86400L * 1000000L},-1,flush,-1"
  }

  private def writeLines(name: String, lines: Array[String]): String = {
    val p = Paths.get(scratch, name)
    Files.write(p, lines.toSeq.asJava)
    p.toString
  }

  /** Parses replay lines; any other columns of `lines` are kept. */
  private def parse(lines: DataFrame): DataFrame = {
    val f = split(col("value"), ",")
    lines.select(Seq(f(0).cast("long").as("event_id"),
      timestamp_micros(f(1).cast("long")).as("ts"), f(2).cast("long").as("user_id"),
      f(3).as("event_type"), f(4).cast("int").as("k")) ++
      lines.columns.filter(_ != "value").map(col): _*)
  }

  private final class Inputs(val ev: DataFrame) {
    val pv: Dataset[PageView] = ev.select(concat(lit("p"), col("k")).as("pageId"),
      col("user_id").cast("string").as("userId"), col("event_type").as("country"),
      col("ts")).as[PageView]
    val ac: Dataset[AdClick] = ev.filter(col("event_type") === "click")
      .select(concat(lit("p"), col("k")).as("pageId"),
        concat(lit("ad"), pmod(col("event_id"), lit(50))).as("adId"),
        col("user_id").cast("string").as("userId"), col("ts")).as[AdClick]
    val profiles: Dataset[Profile] = ev.filter(col("event_type") === "signup")
      .select(col("user_id").cast("string").as("userId"),
        concat(lit("co"), pmod(col("user_id"), lit(37))).as("company")).as[Profile]
  }

  /** A streaming twin: its transform, output mode, whether it runs on the
    * RocksDB state store, its batch twin (by default the same transform over
    * a batch DataFrame) and how its sink reduces to the compared rows. */
  private final class Pipeline(val name: String, val mode: String, val rocks: Boolean,
                               val build: Inputs => DataFrame,
                               twinOf: Option[Inputs => DataFrame] = None,
                               val sinkRows: DataFrame => DataFrame = identity) {
    def twin(in: Inputs): DataFrame = sinkRows(twinOf.getOrElse(build)(in))
  }

  private val pipelines: Seq[Pipeline] = Seq(
    new Pipeline("tumbling", "append", rocks = false,
      in => Pipelines.tumblingUserCounts(in.pv, "1 hour")),
    new Pipeline("session", "append", rocks = false,
      in => Pipelines.sessionUserCounts(in.pv, "4 hours")),
    new Pipeline("ad_join", "append", rocks = false,
      in => Pipelines.pageViewAdClickJoin(in.pv, in.ac)),
    new Pipeline("stream_table_join", "append", rocks = false,
      in => StatefulOps.streamTableJoin(in.pv, in.profiles).toDF(),
      // changelog order: a view is enriched once a profile for its user
      // arrived in the same or an earlier micro-batch
      Some { in =>
        val firstProfile = in.ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min("batch").as("pb"))
        in.ev.join(firstProfile, "user_id").filter(col("batch") >= col("pb"))
          .select(col("user_id").cast("string").as("userId"),
            concat(lit("co"), pmod(col("user_id"), lit(37))).as("company"),
            concat(lit("p"), col("k")).as("pageId"))
      }),
    new Pipeline("dedup", "append", rocks = false,
      in => StatefulOps.dedupStream(in.pv.toDF(), "ts", "31 days", Seq("userId", "country"))
        .select("userId", "country"),
      // the documented batch twin of dropDuplicatesWithinWatermark
      Some(in => in.pv.toDF().dropDuplicates("userId", "country").select("userId", "country"))),
    new Pipeline("running_count", "update", rocks = true,
      in => StatefulOps.runningCount(in.pv.map(_.userId)).toDF("userId", "count"),
      sinkRows = // an update-mode changelog: the last (largest) count per key
        sink => sink.groupBy("userId").agg(max("count").as("count"))))

  /** Sink or twin rows as a sorted multiset, the closing line's user left out. */
  private def sorted(df: DataFrame): Array[String] =
    df.filter(col("userId") =!= "-1").collect().map(_.toString).sorted

  /** Expected sink rows per pipeline: the batch twin over the replayed
    * events (the closing line excluded), with each row's micro-batch. */
  private def expected(lines: Array[String]): Map[String, Array[String]] = {
    val body = spark.sparkContext.parallelize(lines.dropRight(1).toSeq.zipWithIndex
      .map { case (l, i) => (l, i / rowsPerBatch) }).toDF("value", "batch")
    val parsed = parse(body).cache()
    val in = new Inputs(parsed)
    val out = pipelines.map(p => p.name -> sorted(p.twin(in))).toMap
    parsed.unpersist()
    out
  }

  private lazy val lines = replayLines(conf.int("rows"))
  private lazy val want = expected(lines)
  private var mainPath = ""

  /** Every pipeline once over the first rows, all started together: the
    * warm-up is compile-bound, and the timed passes run one at a time. */
  def warmUp(): Unit = {
    Files.createDirectories(Paths.get(scratch))
    mainPath = writeLines("replay.csv", lines)
    val warm = writeLines("warmup.csv",
      lines.take(conf.int("warmupRows")) :+ lines.last)
    val t0 = System.nanoTime()
    val queries = pipelines.map(p => start(p, warm, s"${p.name}_0")._1)
    queries.foreach { q => q.processAllAvailable(); q.stop() }
    pipelines.foreach(p => spark.catalog.dropTempView(s"${p.name}_0"))
    System.err.println(f"[perfbench] warm-up ${(System.nanoTime() - t0) / 1e6}%.0f ms")
  }

  /** Builds the pipeline over a replay of `path` and starts it; returns the
    * query and the time its DataFrame was built. */
  private def start(p: Pipeline, path: String, sink: String): (StreamingQuery, Long) = {
    val source = spark.readStream.format("graft.sources.ReplayFeedProvider")
      .option("path", path).option("linesPerBatch", rowsPerBatch).load()
    val df = p.build(new Inputs(parse(source)))
    val built = System.nanoTime()
    if (p.rocks) spark.conf.set("spark.sql.streaming.stateStore.providerClass", rocksDb)
    val q = try df.writeStream.format("memory").queryName(sink).outputMode(p.mode)
      .option("checkpointLocation", s"$scratch/ckpt/$sink").start()
    finally if (p.rocks) spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    (q, built)
  }

  private def replay(p: Pipeline, path: String, pass: Int): (Op, Seq[StreamingQueryProgress], String) = {
    val t0 = System.nanoTime()
    val (q, built) = start(p, path, s"${p.name}_$pass")
    q.processAllAvailable()
    q.stop()
    val t1 = System.nanoTime()
    (Op(s"${p.name}#$pass", p.name, t0, built, t1), q.recentProgress.toSeq, q.runId.toString)
  }

  private val runs = scala.collection.mutable.Map.empty[String, (String, Int)]

  def runPass(pass: Int, trace: Option[Collector]): Seq[Op] = pipelines.map { p =>
    val cg0 = trace.map(_ => Codegen.snapshot())
    val (op, progress, runId) = replay(p, mainPath, pass)
    runs(op.id) = (runId, progress.size)
    pending += ((pass, p, progress, trace.isDefined))
    op.copy(extra = cg0.map(c => Map("exec.codegen_compile_ms" ->
      Codegen.deltaMs(c, Codegen.snapshot()))).getOrElse(Map.empty))
  }

  private val pending = scala.collection.mutable.ArrayBuffer
    .empty[(Int, Pipeline, Seq[StreamingQueryProgress], Boolean)]

  /** After the pass: each sink must equal its batch twin. */
  def verify(): Unit = {
    pending.foreach { case (pass, p, progress, traced) =>
      val sink = s"${p.name}_$pass"
      val got = sorted(p.sinkRows(spark.table(sink)))
      val ok = got.sameElements(want(p.name))
      spark.catalog.dropTempView(sink)
      rec.checks(s"${p.name}#$pass") = Map("status" -> (if (ok) "pass" else "fail"),
        "rows" -> got.length, "expected_rows" -> want(p.name).length)
      // one operation per micro-batch trigger that carried data
      progress.filter(_.numInputRows > 0).foreach { b =>
        rec.ops += Map("pass" -> pass, "name" -> p.name,
          "ms" -> b.durationMs.get("triggerExecution").toDouble, "ok" -> ok,
          "rows" -> b.numInputRows,
          "error" -> (if (ok) "" else "sink differs from the batch twin"), "traced" -> traced)
      }
    }
    pending.clear()
  }

  def layers(ops: Seq[Op], c: Collector): Map[String, Double] = {
    val perOp = ops.map { op =>
      val (runId, n) = runs(op.id)
      c.waitForProgress(runId, n)
      val prog = c.progressOf(runId)
      def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long, ps: Seq[StreamingQueryProgress]) =
        ps.flatMap(_.stateOperators).map(f).sum.toDouble
      val last = prog.lastOption.toSeq
      val (a, b, e) = (Clock.ms(op.t0), Clock.ms(op.tConstructed), Clock.ms(op.t1))
      addSpans(op, a, b, e, prog)
      Layers.work(c, Seq(runId)) ++ op.extra ++ Map(
        "construct.ms" -> (b - a),
        "exec.ms" -> (e - b),
        "stream.batches" -> prog.count(_.numInputRows > 0).toDouble,
        "stream.no_data_batches" -> prog.count(_.numInputRows == 0).toDouble,
        "stream.latest_offset_ms" -> dur("latestOffset"),
        "stream.query_planning_ms" -> dur("queryPlanning"),
        "stream.add_batch_ms" -> dur("addBatch"),
        "stream.wal_commit_ms" -> dur("walCommit"),
        "stream.commit_offsets_ms" -> dur("commitOffsets"),
        "state.rows_total" -> state(_.numRowsTotal, last),
        "state.rows_updated" -> state(_.numRowsUpdated, prog),
        "state.memory_bytes" -> state(_.memoryUsedBytes, last),
        "state.commit_ms" -> state(_.commitTimeMs, prog),
        "state.rows_dropped_by_watermark" -> state(_.numRowsDroppedByWatermark, prog))
    }
    Layers.total(perOp, spark.sparkContext.defaultParallelism)
  }

  private val phaseOrder = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  private def addSpans(op: Op, a: Double, b: Double, e: Double,
                       prog: Seq[StreamingQueryProgress]): Unit = {
    val id = op.id
    rec.spans += Span(id, id, "", op.name, a, e)
    rec.spans += Span(id, s"$id/construct", id, "construct", a, b)
    rec.spans += Span(id, s"$id/exec", id, "exec", b, e)
    prog.foreach { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      val bid = s"$id/batch-${p.batchId}"
      rec.spans += Span(id, bid, s"$id/exec", "micro-batch", start, start + total,
        Map("rows" -> p.numInputRows))
      var t = start
      phaseOrder.foreach { k =>
        Option(p.durationMs.get(k)).map(_.toDouble).filter(_ > 0).foreach { d =>
          rec.spans += Span(id, s"$bid/$k", bid, k, t, t + d)
          t += d
        }
      }
    }
  }
}
