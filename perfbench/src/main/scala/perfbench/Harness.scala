package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.{SessionTuning, Tables}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it together with the
  * program, writes a properties file naming the workload, and reads back
  * the JSON record this writes; percentiles, medians and the DuckDB output
  * check are done there.
  *
  * One JVM, `local[cores]`, one client: each operation (a query, or one
  * pipeline's replay) starts only after the previous one returned.
  *
  *   java -cp <classes>:<spark jars> perfbench.Harness <run.properties>
  */
object Harness {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def writeJson(path: java.nio.file.Path, v: Any): Unit =
    mapper.writeValue(path.toFile, v)

  final class Conf(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing config key $k"))
    def int(k: String): Int = apply(k).trim.toInt
    def list(k: String): Seq[String] =
      Option(p.getProperty(k)).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }

  /** Everything one run reports, filled in as it goes. */
  final class Record {
    val setup = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val layers = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = osBean.getProcessCpuTime

  /** Old-generation occupancy after a full collection, in MiB: what the
    * heap still retains (unreleased persists, state held on heap). Collects
    * twice, so that blocks Spark's context cleaner frees once their
    * broadcast or RDD handle is collected are gone too. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    old.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def session(conf: Conf): SparkSession = {
    val cores = conf("cores")
    // the same settings graft.Verify and graft.Bench run with
    SessionTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf("scratchDir") + "/spark-local")
      .config("spark.sql.warehouse.dir", conf("scratchDir") + "/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      // Spark's generated-class cache holds 100 entries by default, fewer
      // than the workloads' queries generate together; a pass repeating
      // them in a cycle then evicts every class before its reuse, so each
      // pass would recompile all of them (Janino, then the JIT on about one
      // core beside the four executor threads). With room for all of them,
      // codegen is paid once, in the warm-up.
      .config("spark.sql.codegen.cache.maxEntries", "5000"))
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(in) finally in.close()
    val conf = new Conf(props)
    val rec = new Record
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    rec.setup += "boot_s" -> (System.currentTimeMillis() - launchMs) / 1000.0

    // Set-up: the session, the workload's tables opened through `Tables`,
    // and the warm-up pass.
    val t0 = System.nanoTime()
    val spark = session(conf)
    spark.sparkContext.setLogLevel("ERROR")
    conf.list("tables").foreach(t => Tables.load(spark, conf("dataDir"), t).schema)
    rec.setup += "session_s" -> (System.nanoTime() - t0) / 1e9

    val workload: Workload = conf("workload") match {
      case "stream_replay" => new StreamReplay(spark, conf, rec)
      case _ => new BatchQueries(spark, conf, rec)
    }
    val w0 = System.nanoTime()
    workload.warmUp()
    rec.setup += "warmup_s" -> (System.nanoTime() - w0) / 1e9
    rec.setup += "setup_s" -> (System.currentTimeMillis() - launchMs) / 1000.0

    val collector = new Collector(spark)
    val traceMode = conf("trace") == "1"
    // In a traced run, traced and untraced passes alternate so that their
    // wall-time difference (the tracing overhead) is taken on equal terms.
    (1 to conf.int("passes")).foreach { pass =>
      val traced = traceMode && pass % 2 == 1
      if (traced) collector.start()
      val cpu0 = processCpuNs
      val t0 = System.nanoTime()
      val opsBefore = rec.ops.size
      val passOps = workload.runPass(pass, if (traced) Some(collector) else None)
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (processCpuNs - cpu0) / 1e9
      workload.verify()
      if (traced) {
        collector.stop()
        rec.layers += workload.layers(passOps, collector)
      }
      rec.passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wallS,
        "cpu_s" -> cpuS, "live_heap_mb" -> liveHeapMb(),
        "ops" -> (rec.ops.size - opsBefore))
    }
    workload.finish()

    val out = Map(
      "workload" -> conf("workload"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cores_used" -> spark.sparkContext.defaultParallelism,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "setup" -> rec.setup, "passes" -> rec.passes, "ops" -> rec.ops,
      "checks" -> rec.checks, "layers" -> rec.layers)
    writeJson(Paths.get(conf("outDir"), "harness.json"), out)
    if (traceMode) {
      val self = Span.selfTimes(rec.spans.toSeq)
      val spans = rec.spans.map(s => Map("op" -> s.op, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_ms" -> s.durMs, "self_ms" -> self(s.id),
        "attrs" -> s.attrs))
      writeJson(Paths.get(conf("outDir"), "spans.json"), spans)
    }
    spark.stop()
  }
}

/** One workload: a warm-up, then identical timed passes. */
trait Workload {
  def warmUp(): Unit
  /** Runs one pass; returns the pass's operations (for the traced metrics). */
  def runPass(pass: Int, trace: Option[Collector]): Seq[Op]
  /** Checks the outputs of the pass just timed, and records its operations. */
  def verify(): Unit
  /** Per-layer metrics of a traced pass. */
  def layers(ops: Seq[Op], c: Collector): Map[String, Double]
  def finish(): Unit = ()
}

/** One timed operation; times from `System.nanoTime`. */
final case class Op(id: String, name: String, t0: Long, tConstructed: Long,
                    t1: Long, extra: Map[String, Double] = Map.empty)

object Layers {
  /** Every per-layer metric, zero where the workload has no such work. */
  val names: Seq[String] = Seq(
    "construct.ms", "construct.jobs",
    "plan.analysis_ms", "plan.optimizer_ms", "plan.physical_ms",
    "exec.ms", "exec.executor_cpu_ms", "exec.executor_run_ms", "exec.gc_ms",
    "exec.busy_frac", "exec.single_task_stage_ms", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.codegen_compile_ms",
    "scan.bytes_read", "scan.rows_read",
    "mat.cached_rdds_end", "mat.cached_bytes_end",
    "stream.batches", "stream.no_data_batches", "stream.latest_offset_ms",
    "stream.query_planning_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms",
    "state.rows_total", "state.rows_updated", "state.memory_bytes",
    "state.commit_ms", "state.rows_dropped_by_watermark")

  /** Executor work of the given job groups, as per-layer metrics. */
  def work(c: Collector, groups: Seq[String]): Map[String, Double] = {
    val ws = groups.flatMap(c.work.get)
    def s(f: Work => Long) = ws.map(f).sum.toDouble
    Map(
      "exec.executor_cpu_ms" -> s(_.cpuNs) / 1e6,
      "exec.executor_run_ms" -> s(_.runMs),
      "exec.gc_ms" -> s(_.gcMs),
      "exec.single_task_stage_ms" -> s(_.singleTaskStageMs),
      "exec.jobs" -> s(_.jobs),
      "exec.stages" -> s(_.stages),
      "exec.tasks" -> s(_.tasks),
      "exec.shuffle_read_bytes" -> s(_.shuffleRead),
      "exec.shuffle_write_bytes" -> s(_.shuffleWrite),
      "exec.spill_bytes" -> s(_.spill),
      "scan.bytes_read" -> s(_.bytesRead),
      "scan.rows_read" -> s(_.rowsRead))
  }

  /** Sums per-operation metrics over a pass; `exec.busy_frac` is executor
    * run time over the cores' capacity while the operations ran. */
  def total(ms: Seq[Map[String, Double]], cores: Int): Map[String, Double] = {
    val t = names.map(n => n -> ms.map(_.getOrElse(n, 0.0)).sum).toMap
    t + ("exec.busy_frac" -> t("exec.executor_run_ms") /
      math.max(1e-9, (t("construct.ms") + t("exec.ms")) * cores))
  }
}
