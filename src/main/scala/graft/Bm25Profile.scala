package graft

import graft.operators.TextAnalysis

/** Stage profiler for q_bm25_stored (build vs load vs score vs the full
  * registry lane) — the instrument that located the round-12 sf10
  * finding: the artifact build was 13 s and the scoring scan 76 s, but
  * the oracle contract's global sort re-executed the interpreted scoring
  * projection twice more (209 s) until the lane materialized the match
  * relation before sorting. Not part of the driver contract.
  *
  * Usage: sbt "runMain graft.Bm25Profile [sfDir]" */
object Bm25Profile extends QueryShared {
  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.local(SessionTuning.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = args.headOption.getOrElse("target/sf1")
    val docs = Tables.load(spark, d, "documents")
    docs.count()
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[bm25] $tag ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    val dir = s"/tmp/bm25prof-${d.hashCode}"
    time("build")(TextAnalysis.buildBm25Stats(docs, "text", dir))
    val panel = retrievalPanel
    val stats = time("load")(
      TextAnalysis.loadBm25Stats(spark, dir, panel.flatMap(_._2)))
    time("score")(
      TextAnalysis.bm25ScoreFrom(docs, "text", "doc_id", panel, stats)
        .write.format("noop").mode("overwrite").save())
    time("score_sorted")(
      TextAnalysis.bm25ScoreFrom(docs, "text", "doc_id", panel, stats)
        .orderBy("query_id", "doc_id")
        .write.format("noop").mode("overwrite").save())
    time("registry_lane")(
      SparkEntry.queries("q_bm25_stored")(spark, d)
        .write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}
