package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All engine operators take DataFrames; this is the only place that knows
  * the on-disk layout. At cluster scale the same API would point at a
  * partitioned table root instead of a single file — `spark.read.parquet`
  * handles both, and filter/column pushdown reaches the scan either way.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Estimated scan-split count per path (what Spark's file planner will
    * produce), cached — a Hadoop listing per (dir, table), once per JVM. */
  private val splitEstimates =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  /** Scale-adaptive input conditioning (optimization guide §2.5, "input
    * skew / unsplittable file": *"otherwise repartition immediately after
    * the read"*). The local fixtures are single-file, single-row-group
    * parquet — Spark plans ONE scan task per table, and every kernel
    * fused above the scan (shingle digests, Jaro-Winkler, cosine folds)
    * runs on one core while the rest idle; relations persisted from such
    * a scan inherit the single partition, serializing every downstream
    * consumer too (measured: q_jaro_pairs spent 7.4 of 8.6 s in two
    * single-task stages). When the planned splits cannot feed the cores
    * AND the table is big enough to matter, a round-robin repartition to
    * [[scanWidth]] spreads the scan output once, right after the read.
    *
    * Scale behaviour: at production sizes (splits >= width) the
    * condition is false and NO exchange is added — the repartition is a
    * decision, not a constant. Deterministic under retry: round-robin
    * repartition local-sorts its input first (sortBeforeRepartition,
    * Spark default), and no query reads partition ids or input order.
    * OPT-IN per call site ([[loadWide]]): a full-suite measurement
    * (OPTIMIZATION_r13.md) showed conditioning every scan wins big on the
    * ~40 CPU-dense kernels (-48 s) but taxes the ~250 light queries with
    * dispatch latency and extra shuffle blocks (+0.1-0.5 s each), so only
    * the measured winners ask for it. */
  private def conditionScan(spark: SparkSession, path: String,
                            df: DataFrame): DataFrame = {
    val (splits, bytes) = splitEstimates.getOrElseUpdate(path, {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
      // recursive listing: a partitioned table ROOT (nested dirs of part
      // files) must estimate from its leaf files, not read as 0 bytes
      val it = fs.listFiles(p, true)
      var nSplits = 0L; var nBytes = 0L
      while (it.hasNext) {
        val len = it.next().getLen
        nSplits += (len + maxSplit - 1) / maxSplit
        nBytes += len
      }
      (nSplits, nBytes)
    })
    scanWidth(splits, bytes, spark.sparkContext.defaultParallelism)
      .fold(df)(df.repartition(_))
  }

  /** The width [[conditionScan]] repartitions a scan of `splits` planned
    * splits over `bytes` input bytes to on `cores` cores, or None to keep
    * the planned scan.
    *
    * Width (optimization r14, byte-adaptive): a FLOOR of min(8, cores) —
    * the r13 sweep's winner for the sub-MiB tables, where full-core width
    * taxes every post-scan shuffle with width × R blocks and width tasks
    * of dispatch latency — scaling up as one task per MiB and clamping at
    * the cores, so multi-MiB inputs feed all cores instead of topping out
    * at 8 on a 32-core box (the per-task target was swept in
    * OPTIMIZATION_r14.md). Tables under 64 KiB (dimension lookups) keep
    * their scan: they broadcast anyway, and a 32-task exchange of 25 rows
    * is pure scheduling overhead. */
  private[graft] def scanWidth(splits: Long, bytes: Long,
                               cores: Int): Option[Int] = {
    val width = math.min(cores.toLong,
      math.max(math.min(8, cores).toLong, bytes / (1L << 20))).toInt
    if (splits >= width || bytes < 64 * 1024L) None else Some(width)
  }

  /** [[load]] + scale-adaptive input conditioning (see [[conditionScan]])
    * — for the call sites whose per-row kernels are CPU-dense enough that
    * a single-split local scan serializes them (measured per query). */
  def loadWide(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    conditionScan(spark, path, load(spark, dir, name))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    // events.ts is parquet TIMESTAMP(NANOS), which Spark only reads as a
    // long (spark.sql.legacy.parquet.nanosAsLong=true, set by SessionTuning).
    // Convert to a microsecond timestamp with integer division — `/ 1000.0`
    // in double would lose precision at 1.7e18 ns — matching DuckDB's ns→µs
    // truncation exactly.
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // timestamp[us] with no zone reads as TIMESTAMP_NTZ, which some
      // chronon functions (unix_micros) reject. Sessions pin UTC, so the
      // cast is a wall-clock identity and restores the TIMESTAMP type the
      // whole operator surface (and its DuckDB oracle twins) was built on.
      case Some(TimestampNTZType) => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
