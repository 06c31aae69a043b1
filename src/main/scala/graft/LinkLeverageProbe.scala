package graft

import org.apache.spark.sql.functions._

/** Ad-hoc measurement of the stored-linkage lane's leverage under the
  * asymmetry it exists for: a MASTER reference table orders of magnitude
  * larger than each ingested DELTA. The oracle fixture (q_link_indexed)
  * is symmetric — both sides the same 500-doc table — so the index there
  * only moves where the kernel cost is paid; THIS probe runs the
  * production shape (sf1 master = 50k docs vs sf0.01 delta = 500 docs)
  * and times indexed-probe vs inline `linkTables` per ingest. Not part
  * of the driver contract; results recorded in BASELINE.md.
  *
  * Usage: sbt "runMain graft.LinkLeverageProbe [masterDir] [deltaDir]"
  */
object LinkLeverageProbe {
  def main(args: Array[String]): Unit = {
    val masterDir = args.headOption.getOrElse("target/sf1")
    val deltaDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = SessionTuning.local(SessionTuning.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val master = Tables.load(spark, masterDir, "documents")
      .select(col("doc_id"), col("text"))
    // delta ids shifted out of the master id range: the lanes' id-unique
    // contract, and what a real ingest looks like
    val delta = Tables.load(spark, deltaDir, "documents")
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val dir = s"target/graft-link-probe/${System.nanoTime()}"
    val tBuild = timed {
      operators.Dedup.buildLinkIndex(master, "text", "doc_id", dir)
    }
    // two reps each: first pays codegen, min is the steady-state ingest
    val tProbe = Seq.fill(2)(timed {
      noop(operators.Dedup.linkAgainstIndex(
        spark, dir, delta, "text", "doc_id", maxDist = 10))
    }).min
    val tInline = Seq.fill(2)(timed {
      noop(operators.Dedup.linkTables(master, "text", "doc_id",
        delta, "text", "doc_id", maxDist = 10))
    }).min
    println(f"""{"master_docs":${master.count()},"delta_docs":${delta.count()},"build_s":$tBuild%.2f,"probe_s":$tProbe%.2f,"inline_s":$tInline%.2f,"leverage":${tInline / tProbe}%.2f}""")
    spark.stop()
  }
}
