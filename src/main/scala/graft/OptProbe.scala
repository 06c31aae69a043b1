package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Optimization-round profiling harness: runs named queries through the
  * noop sink with a stage listener attached, and prints a per-stage cost
  * table (wall span, summed task time, input/shuffle bytes, task count)
  * so time can be ATTRIBUTED inside a query instead of guessed at —
  * guide §1/§7's empirical loop, minus the UI this sandbox can't serve.
  * Not part of the driver contract.
  *
  * Each query runs twice and prints `cold=` (planning and codegen
  * included) and `warm=` (steady-state execution).
  *
  * Usage: sbt "runMain graft.OptProbe [sfDir] [queryName ...]" (default:
  * every query; 32 cores unless SPARK_GRAFT_CPUS says otherwise)
  */
object OptProbe {
  private case class StageRow(id: Int, name: String, wallMs: Long,
    taskMs: Long, cpuMs: Long, gcMs: Long, tasks: Int, inputMB: Double,
    shReadMB: Double, shWriteMB: Double)

  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.local(SessionTuning.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    Tables.all.foreach(t => Tables.load(spark, d, t).count())

    val stages = TrieMap.empty[Int, StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(0L)
        stages.put(si.stageId, StageRow(si.stageId, si.name, wall,
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime, si.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.remoteBytesRead / 1e6 +
            m.shuffleReadMetrics.localBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6))
      }
    }

    for (q <- names) {
      val fn = SparkEntry.queries.get(q)
        .getOrElse(sys.error(s"unknown query: $q"))
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, d).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = run() // codegen warmup; stages not recorded
      spark.sparkContext.addSparkListener(listener)
      stages.clear()
      val warm = run()
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let the listener bus drain
      println(f"== $q cold=$cold%.2fs warm=$warm%.2fs stages=${stages.size}")
      val rows = stages.values.toSeq.sortBy(-_.taskMs)
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"cpu_ms"}%8s " +
        f"${"gc_ms"}%6s ${"tasks"}%6s ${"in_MB"}%8s ${"shR_MB"}%8s " +
        f"${"shW_MB"}%8s  name")
      rows.take(14).foreach { r =>
        println(f"${r.id}%6d ${r.wallMs}%8d ${r.taskMs}%8d ${r.cpuMs}%8d " +
          f"${r.gcMs}%6d ${r.tasks}%6d ${r.inputMB}%8.1f ${r.shReadMB}%8.1f " +
          f"${r.shWriteMB}%8.1f  " + r.name.take(80))
      }
      val totWall = rows.map(_.wallMs).sum
      val totTask = rows.map(_.taskMs).sum
      // "sum of per-stage wall spans": concurrent stages overlap, so this
      // OVERSTATES elapsed time next to the warm wall figure — it is an
      // attribution denominator, not an elapsed-time measurement
      println(f"   sum of per-stage wall spans=${totWall}ms task=${totTask}ms " +
        f"(warm wall ${warm * 1000}%.0fms)")
    }
    spark.stop()
  }
}
