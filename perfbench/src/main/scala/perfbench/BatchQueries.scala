package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `batch_kernels` and `batch_relational`: a fixed list of
  * `SparkEntry.queries`, in the seed's order, run one after another; each
  * query is built (the registered closure) and collected to the client.
  * The warm-up runs the whole list `warmupPasses` times.
  *
  * Output check: the first timed pass's results are dumped to parquet for
  * the DuckDB twin compare (`SparkEntry.oracleSql`, done by run.py), and
  * every later result must equal the first. */
final class BatchQueries(spark: SparkSession, conf: Harness.Conf,
                         rec: Harness.Record) extends Workload {
  private val dataDir = conf("dataDir")
  private val order = conf.list("queries")
  private val registry = SparkEntry.queries
  private val sc = spark.sparkContext
  /** First timed result per query, and its (row-multiset hash, row count). */
  private val first = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  private val reference = scala.collection.mutable.Map.empty[String, (Int, Int)]

  private def digest(rows: Array[Row]): Int =
    MurmurHash3.orderedHash(rows.map(_.toString).sorted)

  /** `warmupPasses` untimed passes: the first pays class loading and codegen,
    * the later ones let the JIT settle, so that the timed passes run at a
    * steady state instead of on the tail of compilation. */
  def warmUp(): Unit = (1 to conf.int("warmupPasses")).foreach { w =>
    order.foreach { q =>
      val t0 = System.nanoTime()
      val r = scala.util.Try(registry(q)(spark, dataDir).collect())
      System.err.println(f"[perfbench] warm-up $w $q ${(System.nanoTime() - t0) / 1e6}%.0f ms" +
        r.failed.map(e => s" failed: ${e.getMessage}").getOrElse(""))
    }
  }

  /** Outside any timing: dump each first result for the DuckDB compare. */
  override def finish(): Unit = {
    val dump = Paths.get(conf("outDir"), "verify")
    Files.createDirectories(dump)
    first.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dump.resolve(q).toString)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) }
    Harness.writeJson(dump.resolve("oracle_sql.json"), oracle)
  }

  def runPass(pass: Int, trace: Option[Collector]): Seq[Op] = order.map { q =>
    val id = s"$q#$pass"
    val cg0 = trace.map(_ => Codegen.snapshot())
    val mat0 = trace.map(_ => materialized())
    val t0 = System.nanoTime()
    if (trace.isDefined) sc.setJobGroup(s"$id|c", q, interruptOnCancel = false)
    var tc = t0
    val res = scala.util.Try {
      val df = registry(q)(spark, dataDir)
      tc = System.nanoTime()
      if (trace.isDefined) sc.setJobGroup(s"$id|x", q, interruptOnCancel = false)
      (df.collect(), df.schema)
    }
    val t1 = System.nanoTime()
    if (trace.isDefined) sc.clearJobGroup()
    if (tc == t0) tc = t1
    System.err.println(f"[perfbench] pass $pass $q ${(t1 - t0) / 1e6}%.0f ms")
    pending += ((pass, q, (t1 - t0) / 1e6, res, trace.isDefined))
    val extra = (cg0, mat0) match {
      case (Some(c0), Some((n0, b0))) =>
        val (n1, b1) = materialized()
        Map("exec.codegen_compile_ms" -> Codegen.deltaMs(c0, Codegen.snapshot()),
          "mat.cached_rdds_end" -> (n1 - n0).toDouble,
          "mat.cached_bytes_end" -> (b1 - b0).toDouble)
      case _ => Map.empty[String, Double]
    }
    Op(id, q, t0, tc, t1, extra)
  }

  private val pending = scala.collection.mutable.ArrayBuffer
    .empty[(Int, String, Double, scala.util.Try[(Array[Row], StructType)], Boolean)]

  /** After the pass: each result must equal the query's first timed result. */
  def verify(): Unit = {
    pending.foreach { case (pass, q, ms, res, traced) =>
      val (ok, rows, err) = res match {
        case scala.util.Success((rows, schema)) =>
          if (!reference.contains(q)) {
            first(q) = (rows, schema)
            reference(q) = (digest(rows), rows.length)
          }
          val same = reference(q) == ((digest(rows), rows.length))
          (same, rows.length, if (same) "" else "result differs from the first timed result")
        case scala.util.Failure(e) => (false, 0, String.valueOf(e.getMessage).take(300))
      }
      rec.ops += Map("pass" -> pass, "name" -> q, "ms" -> ms, "ok" -> ok, "rows" -> rows,
        "error" -> err, "traced" -> traced)
    }
    pending.clear()
  }

  /** Persisted RDDs registered with the context, and the bytes they hold. */
  private def materialized(): (Int, Long) =
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)

  def layers(ops: Seq[Op], c: Collector): Map[String, Double] = {
    val phases = c.phases.asScala.toSeq
    val cores = sc.defaultParallelism
    val perOp = ops.map { op =>
      val (a, b, e) = (Clock.ms(op.t0), Clock.ms(op.tConstructed), Clock.ms(op.t1))
      // phases belong to the operation that was running when they began
      val mine = phases.filter { case (s, _, _) =>
        ops.filter(o => Clock.ms(o.t0) <= s + 1).lastOption.contains(op)
      }
      def phase(n: String) = mine.filter(_._3 == n).map(p => (p._2 - p._1).toDouble).sum
      val inExec = mine.filter(p => p._1 + 1 >= b && p._3 != "analysis")
        .map(p => (p._2 - p._1).toDouble).sum
      val execMs = math.max(0.0, e - b - inExec)
      val w = Layers.work(c, Seq(s"${op.id}|c", s"${op.id}|x"))
      val constructJobs = c.work.get(s"${op.id}|c").map(_.jobs).getOrElse(0L).toDouble
      addSpans(op, a, b, e, mine, c, constructJobs, w)
      w ++ op.extra ++ Map(
        "construct.ms" -> (b - a), "construct.jobs" -> constructJobs,
        "plan.analysis_ms" -> phase("analysis"),
        "plan.optimizer_ms" -> phase("optimization"),
        "plan.physical_ms" -> phase("planning"),
        "exec.ms" -> execMs)
    }
    Layers.total(perOp, cores)
  }

  private def addSpans(op: Op, a: Double, b: Double, e: Double,
                       phases: Seq[(Long, Long, String)], c: Collector,
                       constructJobs: Double, w: Map[String, Double]): Unit = {
    val id = op.id
    rec.spans += Span(id, id, "", op.name, a, e)
    rec.spans += Span(id, s"$id/construct", id, "construct", a, b,
      Map("jobs" -> constructJobs))
    rec.spans += Span(id, s"$id/exec", id, "exec", b, e,
      w.filter(_._1.startsWith("exec.")))
    // one plan span per Catalyst phase of every action the query ran
    phases.zipWithIndex.foreach { case ((s, t, n), i) =>
      rec.spans += Span(id, s"$id/plan-$i", id, s"plan.$n", s.toDouble, t.toDouble)
    }
    c.stageSpans.asScala.foreach { case (g, stage, name, s, t, tasks) =>
      val parent =
        if (g == s"$id|c") s"$id/construct" else if (g == s"$id|x") s"$id/exec" else ""
      if (parent.nonEmpty)
        rec.spans += Span(id, s"$id/stage-$stage", parent, name, s.toDouble, t.toDouble,
          Map("tasks" -> tasks))
    }
  }
}
