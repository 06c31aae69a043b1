package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import graft.{SessionTuning, SparkSpec}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** The restart leg: a line file replayed through `ReplayFeedProvider` into
  * a watermarked tumbling window and a RocksDB running count, stopped after
  * micro-batch 2 and restarted from the same checkpoint, must give the
  * sink exactly the rows of an uninterrupted run, including when the
  * checkpoint changes hands between Spark's stock checkpoint file manager
  * and the one `SessionTuning` installs. */
class ReplayRestartSpec extends SparkSpec {
  import spark.implicits._
  implicit def sp: org.apache.spark.sql.SparkSession = spark

  private val Stock = classOf[FileContextBasedCheckpointFileManager].getName
  private val Ours = SessionTuning.checkpointFileManagerClass
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** 60 page views of 6 users, 3 s apart, then a closing view far ahead
    * that moves the watermark past every earlier window. */
  private lazy val feed: String = {
    val f = Files.createTempFile("replay-restart", ".csv")
    val lines = (0 until 60).map(i => s"p${i % 4},user${i % 6},us,${1000 + 3 * i}") :+
      "p0,closer,us,100000"
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  private def views(): Dataset[PageView] =
    Sources.replayFeed(spark, feed, linesPerBatch = 10).select("value").as[String]
      .map(ReplayRestartSpec.parse)

  private case class Leg(name: String, mode: String, rocks: Boolean, build: () => DataFrame)
  private val legs = Seq(
    Leg("tumblingUserCounts", "append", rocks = false,
      () => Pipelines.tumblingUserCounts(views(), "10 seconds", "5 seconds")),
    Leg("runningCount on RocksDB", "update", rocks = true,
      () => StatefulOps.runningCount(views().map(_.userId)).toDF("userId", "count")))

  /** Runs one incarnation of `leg` on checkpoint `cp` under `manager`, up to
    * the end of the feed or until micro-batch `stopAfter` has committed.
    * The sink keeps each batch's rows by batch id, so a batch that re-runs
    * after the restart replaces its earlier rows. */
  private def incarnation(leg: Leg, cp: String, manager: String,
                          out: mutable.Map[Long, Seq[String]],
                          stopAfter: Option[Long] = None): Unit = {
    spark.conf.set(SessionTuning.CheckpointFileManagerKey, manager)
    if (leg.rocks) spark.conf.set(ProviderKey, RocksDb)
    val q = try leg.build().writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val rows = batch.collect().map(_.toString).sorted.toSeq
        out.synchronized { out(id) = rows }
        ()
      }
      .option("checkpointLocation", cp).outputMode(leg.mode).start()
    finally {
      spark.conf.unset(ProviderKey)
      spark.conf.set(SessionTuning.CheckpointFileManagerKey, Ours)
    }
    try stopAfter match {
      case Some(n) =>
        while (q.isActive && !q.recentProgress.exists(_.batchId >= n)) Thread.sleep(10)
      case None => q.processAllAvailable()
    } finally q.stop()
    q.exception.foreach(e => throw e)
  }

  private def rows(out: mutable.Map[Long, Seq[String]]): Seq[String] =
    out.toSeq.sortBy(_._1).flatMap(_._2)

  private def cp(): String = Files.createTempDirectory("cp_restart").toString

  for (leg <- legs) {
    // Every streaming query runs on a cloned session; with Spark's per-session
    // artifact isolation each clone gets its own class loader and recompiles
    // what the last query compiled (SessionTuning.ArtifactIsolationKey).
    test(s"${leg.name}: an identical second run on a fresh checkpoint compiles no class") {
      def run(): (Seq[String], Long) = classesCompiled {
        val out = mutable.Map.empty[Long, Seq[String]]
        incarnation(leg, cp(), Ours, out)
        rows(out)
      }
      val (first, firstCompiled) = run()
      val (again, compiled) = run()
      info(s"classes compiled: first run $firstCompiled, second run $compiled")
      assert(first.nonEmpty && again == first)
      assert(compiled == 0, s"the second run compiled $compiled classes")
    }

    lazy val uninterrupted = {
      val out = mutable.Map.empty[Long, Seq[String]]
      incarnation(leg, cp(), Stock, out)
      rows(out)
    }

    for ((first, second) <- Seq((Ours, Ours), (Stock, Ours), (Ours, Stock))) {
      def short(m: String) = if (m == Ours) "ours" else "stock"
      test(s"${leg.name}: stop after batch 2 under ${short(first)}, resume under " +
          s"${short(second)} == the uninterrupted run, row for row") {
        val dir = cp()
        val out = mutable.Map.empty[Long, Seq[String]]
        incarnation(leg, dir, first, out, stopAfter = Some(2L))
        assert(out.keySet.max >= 2L && rows(out).size < uninterrupted.size,
          s"the first incarnation must stop part way, saw batches ${out.keySet}")
        incarnation(leg, dir, second, out)
        assert(uninterrupted.nonEmpty)
        assert(rows(out) == uninterrupted)
      }
    }
  }
}

object ReplayRestartSpec {
  def parse(line: String): PageView = {
    val Array(page, user, country, sec) = line.split(',')
    PageView(page, user, country, new java.sql.Timestamp(sec.toLong * 1000L))
  }
}
