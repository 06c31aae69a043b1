package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Ad-hoc measurement of the stored-index SEMANTIC-dedup screen's
  * leverage under the asymmetry it exists for: a MASTER indexed corpus
  * orders of magnitude larger than each ingested DELTA. The oracle
  * fixture (`q_semdedup_indexed`) makes the delta a third of the corpus —
  * that pins correctness, but the per-ingest cost there is corpus-shaped,
  * not ingest-shaped (the `q_link_indexed` situation, r10). THIS probe
  * runs the production shape: index the sfDir corpus at production k
  * (AutoCells), then time `semDedupAgainstIndex` for a FIXED-SIZE delta
  * (the sf0.01 embeddings, ids shifted past the master range) against
  * inline `semDedup` over (master ∪ delta) — what a pipeline without the
  * stored index would have to re-run per ingest. Not part of the driver
  * contract; results recorded in BASELINE.md.
  *
  * Usage: sbt "runMain graft.SemDedupLeverageProbe [masterDir] [deltaDir]"
  */
object SemDedupLeverageProbe {
  def main(args: Array[String]): Unit = {
    val masterDir = args.headOption.getOrElse("target/sf1")
    val deltaDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = SessionTuning.local(SessionTuning.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val master = Tables.load(spark, masterDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // delta ids shifted past every master id (ScaleUp tops out below
    // 1e10): the ingest invariant the screen's exactness contract names
    val delta = Tables.load(spark, deltaDir, "embeddings")
      .select((col("vec_id") + 100000000000L).as("vec_id"), col("embedding"))

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val dir = s"target/graft-semdd-probe/${System.nanoTime()}"
    val tBuild = timed {
      Similarity.buildIvfIndex(master, "embedding", "vec_id",
        Similarity.AutoCells, dir)
    }
    // two reps each: first pays codegen, min is the steady-state ingest
    val tScreen = Seq.fill(2)(timed {
      noop(Similarity.semDedupAgainstIndex(spark, dir, delta,
        "embedding", "vec_id", threshold = 0.35))
    }).min
    val tInline = Seq.fill(2)(timed {
      noop(Similarity.semDedup(master.unionByName(delta), "embedding",
        "vec_id", k = Similarity.AutoCells, threshold = 0.35))
    }).min
    println(f"""{"master_vecs":${master.count()},"delta_vecs":${delta.count()},"build_s":$tBuild%.2f,"screen_s":$tScreen%.2f,"inline_s":$tInline%.2f,"leverage":${tInline / tScreen}%.2f}""")
    spark.stop()
  }
}
