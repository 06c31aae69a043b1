package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** K2 materialized: maintain a queryable parquet TABLE as the latest-wins
  * compaction of a changelog stream — the reference's stream-table pattern
  * where the changelog topic backs a store the job (and others) can read
  * (StreamTableJoinExample.java:102-146).
  *
  * Scale design — bucket-pruned rewrites: the table is hive-partitioned on
  * `__bucket = pmod(hash(key), nBuckets)`. A micro-batch only rewrites the
  * buckets its keys touch: read those buckets (partition pruning skips the
  * rest), merge latest-wins, write the replacement bucket directories, and
  * swap them in. A 100-key batch against a 10 B-row table moves at most
  * 100 buckets' worth of data, not the table. The bucket list that reaches
  * the driver is bounded by nBuckets — ids only, never rows.
  *
  * Durability model: the touched buckets are swapped in by
  * [[AtomicSwap.swapPartitions]], and every entry point below first runs
  * [[AtomicSwap.recover]], which installs a bucket a crash left missing.
  * The replayed batch rewrites the rest; latest-wins is deterministic,
  * so the replay lands on the uninterrupted result (`UpsertParquetSpec`'s
  * crash-state cases). A transactional table format (Delta/Iceberg)
  * would make the swap atomic; neither is on this classpath, and the plan
  * shape — prune, merge, rewrite-touched — is identical there. */
object UpsertParquet {

  private def bucketCol(keyCols: Seq[String], nBuckets: Int) =
    pmod(hash(keyCols.map(col): _*), lit(nBuckets)).as("__bucket")

  /** One upsert round: merge `changes` into the table at `dir` by
    * `keyCols`, newest-first by `seqCol` (ties: changes beat table). */
  def upsertBatch(changes: DataFrame, dir: String, keyCols: Seq[String],
                  seqCol: String, nBuckets: Int): Unit = {
    val spark = changes.sparkSession
    AtomicSwap.recover(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "Table exists" must mean it HAS bucket data, not that the directory
    // is present: a pre-created empty dir (or a crash between mkdirs and
    // the first bucket swap) would otherwise make spark.read.parquet throw
    // schema-inference errors on every checkpoint replay — a wedged stream.
    val tableExists = fs.exists(new Path(dir)) &&
      fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith("__bucket="))
    // Persist: isEmpty, the touched-bucket collect, and the merged write
    // would otherwise each re-execute the micro-batch plan — and two
    // divergent evaluations of a nondeterministic source could make
    // `touched` disagree with the written buckets.
    val batch = changes.withColumn("__bucket", bucketCol(keyCols, nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = batch.select("__bucket").distinct()
        .collect().map(_.getInt(0)).sorted // bucket IDs only — bounded by nBuckets
      if (touched.isEmpty) return
      val merged = {
        val b = batch.withColumn("__src", lit(1))
        val all = if (tableExists) {
          val cur = spark.read.parquet(dir)
            .filter(col("__bucket").isin(touched.map(Integer.valueOf): _*)) // partition-pruned
            .withColumn("__src", lit(0))
          cur.unionByName(b)
        } else b
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(seqCol).desc, col("__src").desc)
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "__src")
      }
      // every touched bucket holds at least its batch rows, so each one
      // has a replacement: the swap never leaves a touched bucket empty
      AtomicSwap.swapPartitions(merged, dir, "__bucket", touched)
    } finally batch.unpersist()
  }

  /** Right-to-be-forgotten deletion: remove every row whose key appears
    * in `keys` from the materialized table, rewriting ONLY the buckets
    * those keys hash into — a 100-user GDPR request against a 10 B-row
    * table moves ~100 buckets' worth of data, not the table (the same
    * pruning contract as [[upsertBatch]], applied to deletion). Returns
    * the number of rows removed.
    *
    * A bucket whose EVERY row is forgotten has no replacement, so
    * [[AtomicSwap.swapPartitions]] leaves it absent. Idempotent:
    * re-running the same request removes 0 rows and rewrites nothing (no
    * touched buckets have matches). Crash model identical to upsertBatch:
    * recover first, per-bucket swap, replay-safe. */
  def forgetKeys(keys: DataFrame, dir: String, keyCols: Seq[String],
                 nBuckets: Int): Long = {
    val spark = keys.sparkSession
    AtomicSwap.recover(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir))) return 0L
    val k = keys.select(keyCols.map(col): _*).distinct()
      .withColumn("__bucket", bucketCol(keyCols, nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = k.select("__bucket").distinct()
        .collect().map(_.getInt(0)).sorted // ids only — bounded by nBuckets
      if (touched.isEmpty) return 0L
      val cur = spark.read.parquet(dir)
        .filter(col("__bucket").isin(touched.map(Integer.valueOf): _*))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // narrow once more to buckets that actually HOLD matches — a key
        // in the request but absent from the table must cost nothing
        // (also what makes the whole op idempotent: a replayed request
        // finds no matches and rewrites no bucket)
        val doomed = cur.join(k.drop("__bucket"), keyCols, "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val removed = doomed.count()
          if (removed == 0L) return 0L
          val hit = doomed.select("__bucket").distinct()
            .collect().map(_.getInt(0)).sorted
          val kept = cur
            .filter(col("__bucket").isin(hit.map(Integer.valueOf): _*))
            .join(k.drop("__bucket"), keyCols, "left_anti")
          AtomicSwap.swapPartitions(kept, dir, "__bucket", hit)
          removed
        } finally doomed.unpersist()
      } finally cur.unpersist()
    } finally k.unpersist()
  }

  /** Streaming form: each micro-batch upserts into the table. */
  def sink[T](ds: Dataset[T], dir: String, checkpoint: String,
              keyCols: Seq[String], seqCol: String,
              nBuckets: Int = 64): DataStreamWriter[T] =
    ds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        upsertBatch(batch.toDF(), dir, keyCols, seqCol, nBuckets)
      }

  /** Read the materialized table without the internal bucket column. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    AtomicSwap.recover(spark, dir)
    spark.read.parquet(dir).drop("__bucket")
  }
}
