package graft

import org.apache.spark.sql.functions._

/** Scratch instrumentation for the q_dedup_clusters path: separates the
  * pairs-pipeline cost (the edges checkpoint) from the CC loop cost and
  * prints the converged round count, so loop tuning works from
  * measurements, not guesses. Not part of the driver contract.
  * Measured at sf0.1 (round 2): pairs pipeline ~5-7 s cold / ~2 s warm,
  * init + one confirming round ~1 s, convergence after 1 round. */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionTuning.local(SessionTuning.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.all.foreach(tn => Tables.load(spark, sfDir, tn).count())

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val docs = Tables.load(spark, sfDir, "documents")
    val pairs = graft.operators.Dedup.minhashNearDups(docs, "text", "doc_id",
      numHashes = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.5)
    val edges = timed("pairs pipeline (edges checkpoint)") {
      pairs.select(col("id_a"), col("id_b"))
        .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        // ckpt: one-shot — probe harness, single materialization
        .localCheckpoint()
    }
    println(s"[probe] edges=${edges.count()}")
    val labels = timed("nearDupClusters total (incl. cached pairs)") {
      val l = graft.operators.Dedup.nearDupClusters(pairs)
      l.count(); l
    }
    println(s"[probe] labeled nodes=${labels.count()}")
    spark.stop()
  }
}
