package graft.apps

import graft.functions.TextFunctions
import graft.operators.{Curation, Outputs}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The training-MIX pipeline as one runnable app: measure per-source
  * token availability, water-fill a token budget across the declared
  * mixture weights ([[Curation.tokenBudget]]), execute the plan with the
  * deterministic bp-grain sampler ([[Curation.allocationSample]]), land
  * the survivors in reproducible training shards, and write the
  * plan-vs-realized report (planned alloc_tokens next to the tokens that
  * actually shipped — the drift a mixture owner watches).
  *
  * Every stage is an independently oracle-checked operator
  * (`q_token_budget`, `q_mix_execute`, `q_train_shards`); the app is
  * their composition. Weights come from a `src=bp` spec string; sources
  * not named get weight 0 (no budget — dropped, visibly, in the
  * report).
  *
  * Usage: runMain graft.apps.MixturePlanApp <docsDir> <outDir>
  *   <budgetTokens> [weightSpec src0=2000,src1=1000,...] [numShards]
  * Output: <outDir>/shards/shard_id=K/ parquet (sampled docs),
  *         <outDir>/report/ parquet (source, weight_bp, avail_tokens,
  *           alloc_tokens, rate_bp, realized_tokens, realized_docs).
  */
object MixturePlanApp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: MixturePlanApp <docsDir> <outDir> <budgetTokens> [weights] [numShards]")
    val Array(docsDir, outDir, budgetStr) = args.take(3)
    val weightSpec = if (args.length > 3) args(3) else ""
    val numShards = if (args.length > 4) args(4).toInt else 4
    val spark = graft.SessionTuning
      .builder(sys.env.getOrElse("SPARK_MASTER", "local[8]"), 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, docsDir, outDir, budgetStr.toLong, weightSpec, numShards)
    finally spark.stop()
  }

  def run(spark: SparkSession, docsDir: String, outDir: String,
          budget: Long, weightSpec: String, numShards: Int): Unit = {
    import spark.implicits._
    val docs = graft.Tables.load(spark, docsDir, "documents")
      .withColumn("__tok", TextFunctions.tokenCount(col("text")))
    val avail = docs.groupBy("source").agg(sum("__tok").as("avail"))
    val weights =
      if (weightSpec.isEmpty)
        avail.select(col("source"), lit(1000L).as("w")) // uniform default
      else weightSpec.split(",").toSeq
        .map { kv => val Array(k, v) = kv.split("="); (k, v.toLong) }
        .toDF("source", "w")
    val plan = Curation.tokenBudget(avail, "source", "avail",
        weights, "source", "w", budget, rounds = 4)
      .persist()
    val sampled = Curation.allocationSample(docs, "doc_id", "source",
      plan, "source", "rate_bp")
    Outputs.writeTrainingShards(sampled.drop("__tok"), "doc_id", numShards,
      s"$outDir/shards")
    val realized = sampled.groupBy("source").agg(
      sum("__tok").as("realized_tokens"),
      count(lit(1)).as("realized_docs"))
    plan.join(realized, Seq("source"), "left")
      .select(col("source"), col("weight_bp"), col("avail_tokens"),
        col("alloc_tokens"), col("rate_bp"),
        coalesce(col("realized_tokens"), lit(0L)).as("realized_tokens"),
        coalesce(col("realized_docs"), lit(0L)).as("realized_docs"))
      .orderBy("source")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/report")
  }
}
