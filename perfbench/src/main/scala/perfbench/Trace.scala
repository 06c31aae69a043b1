package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (the clock Spark's
  * listener events use); `op` is the id shared by every span of one
  * operation (a query, or one pipeline's replay). */
final case class Span(op: String, id: String, parent: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
}

object Span {
  /** Self time of each span: its duration minus the part of it covered by
    * its children. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var end = Double.NegativeInfinity
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
      s.id -> (s.durMs - covered)
    }.toMap
  }
}

/** Executor-side work attributed to one job group. */
final class Work {
  @volatile var jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleRead,
    shuffleWrite, spill, bytesRead, rowsRead, singleTaskStageMs = 0L
}

/** Wall clock aligned to epoch ms with nanoTime resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(nanos: Long): Double = baseMs + (nanos - baseNs) / 1e6
  def now: Double = ms(System.nanoTime())
}

/** Reads compile time out of Spark's codegen metrics histogram. The
  * histogram keeps every sample until it holds 1028 of them, so the sum
  * of its values is exact until then and an estimate (count × mean)
  * afterwards. */
object Codegen {
  private def h = CodegenMetrics.METRIC_COMPILATION_TIME
  def snapshot(): (Long, Double) = {
    val s = h.getSnapshot
    (h.getCount, s.getValues.map(_.toDouble).sum)
  }
  def deltaMs(before: (Long, Double), after: (Long, Double)): Double =
    if (after._1 <= 1028) after._2 - before._2
    else (after._1 - before._1) * h.getSnapshot.getMean
}

/** The traced run's collector: Spark's public listener APIs only.
  *
  *  - `SparkListener`: jobs, stages and tasks, attributed to an operation
  *    by the job group the harness sets around each call (streaming
  *    queries run their jobs in a group named after the run id);
  *  - `QueryExecutionListener`: Catalyst phase times of every action;
  *  - `StreamingQueryListener`: one progress event per micro-batch.
  *
  * Everything is kept in memory; the harness turns it into spans and
  * counts when the run ends. */
final class Collector(spark: SparkSession) {
  val work = TrieMap.empty[String, Work]
  val stageSpans = new ConcurrentLinkedQueue[(String, Int, String, Long, Long, Int)]()
  /** (startMs, endMs, phase) for every planning phase of every action. */
  val phases = new ConcurrentLinkedQueue[(Long, Long, String)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val stageGroup = TrieMap.empty[Int, String]
  @volatile private var flushGroupSeen = ""
  @volatile private var flushQe: QueryExecution = _
  @volatile private var flushQeSeen = false

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def w(g: String) = work.getOrElseUpdate(g, new Work)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = group(e.properties)
      if (g.startsWith("perfbench-flush")) flushGroupSeen = g
      e.stageIds.foreach(stageGroup.put(_, g))
      w(g).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = group(e.properties)
      if (g.nonEmpty) stageGroup.put(e.stageInfo.stageId, g)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val g = stageGroup.getOrElse(si.stageId, "")
      val (a, b) = (si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
      val x = w(g)
      x.stages += 1
      if (si.numTasks == 1) x.singleTaskStageMs += math.max(0L, b - a)
      stageSpans.add((g, si.stageId, si.name, a, b, si.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val x = w(stageGroup.getOrElse(e.stageId, ""))
      x.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        x.cpuNs += m.executorCpuTime
        x.runMs += m.executorRunTime
        x.gcMs += m.jvmGCTime
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        x.bytesRead += m.inputMetrics.bytesRead
        x.rowsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      if (qe eq flushQe) flushQeSeen = true
      else qe.tracker.phases.foreach { case (name, p) =>
        phases.add((p.startTimeMs, p.endTimeMs, name))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private var flushes = 0
  /** Waits until every listener event posted so far has been delivered:
    * runs a tiny tagged query and waits for its own job and action events,
    * which queue behind everything posted before them. */
  def drain(): Unit = {
    flushes += 1
    val g = s"perfbench-flush-$flushes"
    val sc = spark.sparkContext
    sc.setJobGroup(g, "listener flush", interruptOnCancel = false)
    val df = spark.range(1)
    flushQe = df.queryExecution
    flushQeSeen = false
    df.collect()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while ((flushGroupSeen != g || !flushQeSeen) && System.nanoTime() < deadline)
      Thread.sleep(5)
    Thread.sleep(50)
  }

  /** Streaming progress events received for one run id. */
  def progressOf(runId: String): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.runId.toString == runId).toSeq.sortBy(_.batchId)

  def waitForProgress(runId: String, n: Int): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (progressOf(runId).size < n && System.nanoTime() < deadline) Thread.sleep(5)
  }
}
