package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge

/** Benchmark main: runs every declared query against SPARK_GRAFT_SF_DIR
  * (SPARK_GRAFT_BENCH_ONLY=q_a,q_b for a subset) and prints two JSON lines,
  * the full record and then a compact one.
  *
  * Timing methodology: a warmup action first (pays JVM/codegen/session
  * startup once, outside any query's number), then each query fully
  * materialized through the `noop` sink — unlike count(), noop cannot be
  * shortcut by count-only column pruning, so every expression in the plan
  * actually executes.
  *
  * Each rep runs under its own job group, construction included (eager
  * checkpoints run jobs), and a stage listener sums that group's executor
  * CPU and GC time. Compare runs on executor CPU ms: wall seconds stretch
  * with whatever else the machine runs, CPU time far less. */
object Bench {
  /** One query: the min seconds over its reps and the executor work of
    * that rep. Every field is -1 when any rep threw. */
  private[graft] case class Row(name: String, sec: Double, cpuMs: Long,
      gcMs: Long, stages: Int, tasks: Int) {
    def failed: Boolean = sec < 0
  }

  private case class Stage(group: String, id: Int, name: String, wallMs: Long,
    taskMs: Long, cpuNs: Long, gcMs: Long, tasks: Int, inputMB: Double,
    shReadMB: Double, shWriteMB: Double)

  /** Runs each query `reps` times and returns one [[Row]] per query, by
    * name; the stage table of each reported rep goes to stderr. Writes no
    * file. */
  private[graft] def measure(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int): Seq[Row] = {
    val sc = spark.sparkContext
    val stageGroup = TrieMap.empty[Int, String]
    val stages = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => e.stageIds.foreach(stageGroup.putIfAbsent(_, g)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for { a <- si.completionTime; b <- si.submissionTime }
          yield a - b).getOrElse(0L)
        stageGroup.get(si.stageId).foreach(g => stages.add(Stage(g, si.stageId,
          si.name, wall, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          si.numTasks, m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6)))
      }
    }
    def group(name: String, rep: Int) = s"graft-bench:$name:$rep"

    sc.addSparkListener(listener)
    val times = try queries.sortBy(_._1).map { case (name, fn) =>
      name -> (1 to reps).map { rep =>
        sc.setJobGroup(group(name, rep), name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
        } finally sc.clearJobGroup()
      }
    } finally {
      ColumnBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }

    val byGroup = stages.asScala.toSeq.groupBy(_.group)
    times.map { case (name, secs) =>
      if (secs.contains(None)) Row(name, -1.0, -1L, -1L, -1, -1)
      else {
        val (sec, rep) = secs.flatten.zipWithIndex.minBy(_._1)
        val st = byGroup.getOrElse(group(name, rep + 1), Nil).sortBy(-_.taskMs)
        val row = Row(name, sec, st.map(_.cpuNs).sum / 1000000, st.map(_.gcMs).sum,
          st.size, st.map(_.tasks).sum)
        System.err.println(f"== $name rep ${rep + 1} $sec%.3fs cpu=${row.cpuMs}ms " +
          f"gc=${row.gcMs}ms stages=${row.stages} tasks=${row.tasks}")
        System.err.println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s " +
          f"${"cpu_ms"}%8s ${"gc_ms"}%6s ${"tasks"}%6s ${"in_MB"}%8s " +
          f"${"shR_MB"}%8s ${"shW_MB"}%8s  name")
        st.take(14).foreach { s =>
          System.err.println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d " +
            f"${s.cpuNs / 1000000}%8d ${s.gcMs}%6d ${s.tasks}%6d " +
            f"${s.inputMB}%8.1f ${s.shReadMB}%8.1f ${s.shWriteMB}%8.1f  " +
            s.name.take(80))
        }
        row
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SessionTuning.cpus(4)
    val spark = SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: session init, codegen compiler, parquet footer reads.
    Tables.all.foreach(tn => Tables.load(spark, sfDir, tn).count())

    // Each query runs `reps` times and reports the MIN: the first run of a
    // pipeline family pays whole-stage-codegen compilation (measured ~2×
    // on the dedup queries, depending on alphabetical position), which is
    // a JVM artifact, not a property of the plan.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // reps=0 would make every query an untested 0.0s "success" — exactly
    // the healthy-looking-zero the -1 failure sentinel exists to prevent
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val rows = measure(spark, sfDir,
      SparkEntry.queries.toSeq.filter(kv => only.forall(_(kv._1))), reps)

    // 3 decimals = ms precision; the sub-ms digits are JVM noise
    def sec(v: Double): String = f"$v%.3f"
    def entry(r: Row, v: String): String = "\"" + r.name + "\":" + v
    def perQuery(f: Row => Any): String = rows.map(r => entry(r, f(r).toString))
      .mkString("{", ",", "}")
    val ok = rows.filterNot(_.failed)
    val total = sec(ok.map(_.sec).sum)
    val failedList = rows.filter(_.failed).map("\"" + _.name + "\"").mkString("[", ",", "]")
    // 1-min system load at the END of the run, next to the CPU count, so
    // a reader can tell a loaded machine's wall seconds from a slow plan
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val meta = s""""failed":$failedList,"reps":$reps,"load_avg":$loadAvg,"cpus":$cpus,"sf":"$sfDir","cpu_total_s":${sec(ok.map(_.cpuMs).sum / 1000.0)}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${perQuery(r => sec(r.sec))},"cpu_ms":${perQuery(_.cpuMs)},"gc_ms":${perQuery(_.gcMs)},"stages":${perQuery(_.stages)},"tasks":${perQuery(_.tasks)},$meta}"""
    println(full)
    // The recorder keeps only the last ~2000 chars of output, so the full
    // record also goes to BENCH_FULL.json (never from a filtered run), and
    // the LAST printed line is a compact record — total, every failed
    // query, then slowest queries until the length budget is spent.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"), full + "\n")
      catch { case e: Exception =>
        System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}") }
    val budget = 1200 // chars for the compact queries map; tail is 2000
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    rows.sortBy(r => if (r.failed) Double.NegativeInfinity else -r.sec).foreach { r =>
      val e = entry(r, sec(r.sec))
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${kept.mkString("{", ",", "}")},"n_queries":${rows.size},"queries_omitted":${rows.size - kept.size},"queries_full":"BENCH_FULL.json",$meta}""")
    spark.stop()
  }
}
