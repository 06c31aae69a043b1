package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Dumps `.explain("formatted")` for named queries to
  * `<outDir>/<query>_<suffix>.txt` under the BENCH session configuration
  * (the same `SessionTuning` session as `Bench`, 4 cores unless
  * SPARK_GRAFT_CPUS says otherwise), so the committed plan evidence in
  * `plans/` reflects what the bench actually runs. Not part of the driver
  * contract.
  *
  * A [[ContractSorted]] query also gets its pre-barrier body's plan in
  * `<query>_<suffix>_body.txt`.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> <query ...>"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query ...>")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val spark = SessionTuning.local(SessionTuning.cpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(Paths.get(outDir))
    val fns = names.map(q => q -> SparkEntry.queries.get(q)
      .getOrElse(sys.error(s"unknown query: $q")))
    def dump(df: DataFrame, file: String): Unit = {
      Files.writeString(Paths.get(s"$outDir/$file"),
        df.queryExecution.explainString(FormattedMode))
      println(s"[plandump] wrote $outDir/$file")
    }
    // every body before any declared query: building a declared query
    // runs its body, and the persists it leaves behind would show up as
    // cached relations in later body plans
    for ((q, c: ContractSorted) <- fns) dump(c.body(spark, d), s"${q}_${suffix}_body.txt")
    for ((q, fn) <- fns) dump(fn(spark, d), s"${q}_$suffix.txt")
    spark.stop()
  }
}
