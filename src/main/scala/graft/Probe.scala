package graft

/** Ad-hoc profiling harness: times declared queries twice at a chosen
  * scale factor to split one-time planning/codegen cost from steady-state
  * execution. Not part of the driver contract.
  *
  * Usage: sbt "runMain graft.Probe [sfDir] [queryName ...]"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.builder("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    Tables.all.foreach(t => Tables.load(spark, d, t).count())
    println(f"${"query"}%-24s ${"cold"}%8s ${"warm"}%8s")
    for (q <- names) {
      def run(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, d).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = run(); val warm = run()
      println(f"$q%-24s $cold%7.2fs $warm%7.2fs")
    }
    spark.stop()
  }
}
