package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Output-layout management for pipeline results — at 100 TB the WRITE
  * layout decides every downstream read's cost:
  *
  *  - hive-style partition directories give free partition pruning on the
  *    partition columns;
  *  - `maxRecordsPerFile` bounds file sizes (the small-files problem is a
  *    repartition knob, not a post-hoc compaction job);
  *  - sorting within partitions clusters data for min/max page skipping in
  *    parquet.
  */
object Outputs {

  /** Write `df` as hive-partitioned parquet, `filesPerPartition` output
    * files per partition value, rows clustered by `sortCols` for parquet
    * min/max skipping. */
  def writePartitioned(df: DataFrame, dir: String, partitionCol: String,
                       filesPerPartition: Int, sortCols: Seq[String]): Unit =
    df.repartition(filesPerPartition, F.col(partitionCol))
      .sortWithinPartitions((partitionCol +: sortCols).map(F.col): _*)
      .write
      .partitionBy(partitionCol)
      .mode("overwrite")
      .parquet(dir)

  /** Compact an existing parquet directory to ~`targetFiles` files. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              outDir: String, targetFiles: Int): Unit =
    spark.read.parquet(dir).repartition(targetFiles)
      .write.mode("overwrite").parquet(outDir)

  /** Deterministic training-shard assignment — the GLOBAL SHUFFLE every
    * training-data pipeline ends with: each document lands in one of
    * `numShards` shards by a content-free id hash, and gets a reproducible
    * position within its shard from the same scramble value. Two
    * properties the downstream loader needs:
    *  - shard contents are uncorrelated with ingest order (documents
    *    arrive source-clustered; contiguous assignment would put one
    *    domain in one shard and train on it in one contiguous stretch);
    *  - the whole layout is a pure function of the ids — re-running the
    *    pipeline reproduces byte-identical shards, and an incremental doc
    *    joins its shard without moving anything else.
    *
    * The shard id is the scramble REDUCED MOD A LARGE PRIME FIRST
    * (`shardScramble`): the naive `knuthHash(id, numShards)` degenerates
    * for power-of-two shard counts — the Knuth multiplier 2654435761 is
    * ≡ 1 mod 2^k (k ≤ 4... 2^4 divides 2654435760), so `(id·K) mod 8 =
    * id mod 8`: zero low-bit mixing, and any id allocation with a stride
    * sharing a factor with numShards (per-worker ranges, fixed low bits)
    * would collapse into few shards. Reducing mod 1000000007 before the
    * shard mod destroys that congruence, so every shard count mixes.
    * Within a shard the scramble value itself is the position order (its
    * residue mod numShards is constant per shard, so ordering by it IS
    * the independent in-shard scramble).
    *
    * Scale shape: shard assignment is a scan-side projection; the
    * position is a row_number window per shard — ONE hash exchange on
    * shard_id and a within-shard sort, which the sharded WRITE pays
    * anyway to cluster its files. Positions exist for loaders that seek
    * (epoch resume at sample k); `writeTrainingShards` skips the window
    * when `withPositions = false` — file order IS the scramble order.
    * The knuth family anchors the oracle (integer arithmetic both engines
    * share). */
  def shardAssignments(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    val id = F.col(idCol)
    df.select(id,
        F.pmod(shardScramble(id), F.lit(numShards.toLong)).as("shard_id"),
        shardScramble(id).as("__ord"))
      .withColumn("pos_in_shard",
        (F.row_number().over(
          Window.partitionBy("shard_id").orderBy(F.col("__ord"), id)) - 1)
          .cast("long"))
      .drop("__ord")
  }

  /** The one scramble the shard family derives everything from. */
  private def shardScramble(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Curation.knuthHash(id, 1000000007L)

  /** Write the corpus as `numShards` hive-partitioned shard directories in
    * scramble order — the artifact a training loader streams. Joins the
    * assignment back by id so payload columns ride through untouched. */
  def writeTrainingShards(df: DataFrame, idCol: String, numShards: Int,
                          dir: String, withPositions: Boolean = false): Unit = {
    val id = F.col(idCol)
    // shard + scramble are scan-side projections over the payload rows —
    // ONE scan of the corpus, no self-join. The optional position window
    // runs AFTER the shard repartition and requires exactly that
    // partitioning, so it adds no exchange of its own.
    val laid = df
      .withColumn("shard_id", F.pmod(shardScramble(id), F.lit(numShards.toLong)))
      .withColumn("__ord", shardScramble(id))
      .repartition(numShards, F.col("shard_id"))
    val withPos =
      if (withPositions)
        laid.withColumn("pos_in_shard",
          (F.row_number().over(
            Window.partitionBy("shard_id").orderBy(F.col("__ord"), id)) - 1)
            .cast("long"))
      else laid
    withPos.sortWithinPartitions(F.col("__ord"), id)
      .drop("__ord")
      .write.partitionBy("shard_id").mode("overwrite").parquet(dir)
  }

  /** Save `df` as a BUCKETED catalog table: rows hash-partitioned into
    * `numBuckets` files on `bucketCols` and sorted within each bucket.
    * Two tables bucketed the same way join WITHOUT any exchange — the
    * bucketing IS the shuffle, paid once at write time instead of on
    * every join (the standard layout for a fact table that joins on the
    * same key across many pipelines; `OutputsSpec` asserts the
    * exchange-free plan). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Z-ORDER layout key: min/max-scale each dimension to `bits` bits and
    * interleave them into one long — points close in EVERY dimension get
    * close keys, so range-partitioning and sorting by `zval` co-locates
    * multidimensional neighborhoods in the same files and parquet's
    * min/max footer stats prune selective predicates on ANY of the
    * interleaved columns (a single-column sort layout prunes only its
    * leading column — the reason lakehouse writers Z-order multi-filter
    * tables). Exact integer arithmetic end to end: scaling is the floored
    * `((x−min)·(2^bits−1)) div (max−min)` with DECIMAL(38,0) products
    * (web-scale key spans times 2^16 overflow a LONG), the interleave is
    * `bits × |cols|` shift-and-mask terms generated at plan build — one
    * codegen projection, engine-identical. Degenerate dimensions
    * (min = max) scale to 0 and drop out of the ordering. `bits·|cols|`
    * must fit a long's 63 value bits.
    *
    * Scale shape: one 1-row min/max agg broadcast back over the scan,
    * then a pure projection; [[zOrderedWrite]] adds the single
    * range-exchange + in-partition sort that materializes the layout. */
  def zOrderKey(df: DataFrame, cols: Seq[String],
                bits: Int = 16): DataFrame = {
    require(cols.nonEmpty && bits >= 1 && bits * cols.size <= 62,
      s"bits=$bits cols=${cols.size}")
    import org.apache.spark.sql.functions._
    val d38 = "decimal(38,0)"
    val mm = df.agg(
      min(col(cols.head)).cast("long").as(s"__mn0"),
      (max(col(cols.head)).cast("long").as(s"__mx0") +:
        cols.tail.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(col(c)).cast("long").as(s"__mn${i + 1}"),
            max(col(c)).cast("long").as(s"__mx${i + 1}"))
        }): _*)
    val top = (1L << bits) - 1
    // LONG fast path when (span+offset)·top can't overflow (span below
    // ~2^63/top) — primitive codegen division, measured ~8× cheaper per
    // row than the decimal path, which stays as the guard for
    // astronomical key spans; both paths compute the identical integer.
    // The span test itself runs in DOUBLE with a 2× margin: a LONG
    // `mx − mn` wraps negative exactly on the full-64-bit ranges the
    // guard exists for (and a wrapped span would pass a long `<`),
    // while double subtraction can't wrap and its ≤1024-ulp error is
    // nine orders below the halved cap.
    val spanCap = Long.MaxValue / (top + 1)
    val scaled = df.crossJoin(broadcast(mm))
      .select(col("*") +: cols.zipWithIndex.map { case (c, i) =>
        when(col(s"__mx$i") > col(s"__mn$i"),
          when(col(s"__mx$i").cast("double") - col(s"__mn$i").cast("double")
              < (spanCap / 2).toDouble,
            expr(s"(($c - __mn$i) * $top) div (__mx$i - __mn$i)"))
            .otherwise(expr(s"(CAST($c - __mn$i AS $d38) * $top)" +
              s" div CAST(__mx$i - __mn$i AS $d38)").cast("long")))
          .otherwise(lit(0L)).as(s"__s$i")
      }: _*)
    // 2-column Morton fast path: the classic magic-mask bit spread is
    // ~5 ops per dimension vs bits×3 for the generic loop — measurable
    // because the 1-row BroadcastNestedLoopJoin below caps whole-stage
    // codegen and the interleave runs per-row. n-column layouts use the
    // generic shift-and-mask loop (no magic masks exist for spacing 3).
    def spread2(x: org.apache.spark.sql.Column) = {
      val a = x.bitwiseAND(0xFFFFL)
      val b = (a.bitwiseOR(shiftleft(a, 8))).bitwiseAND(0x00FF00FFL)
      val c = (b.bitwiseOR(shiftleft(b, 4))).bitwiseAND(0x0F0F0F0FL)
      val d = (c.bitwiseOR(shiftleft(c, 2))).bitwiseAND(0x33333333L)
      d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(0x55555555L)
    }
    val z =
      if (cols.size == 2 && bits <= 16)
        spread2(col("__s0")).bitwiseOR(shiftleft(spread2(col("__s1")), 1))
      else (0 until bits).flatMap { b =>
        cols.indices.map { i =>
          shiftleft(shiftright(col(s"__s$i"), b).bitwiseAND(1L),
            b * cols.size + i)
        }
      }.reduce(_ + _)
    scaled.withColumn("zval", z.cast("long"))
      .drop(cols.indices.flatMap(i => Seq(s"__mn$i", s"__mx$i", s"__s$i")): _*)
  }

  /** Materialize the Z-ordered layout: one range exchange on `zval` into
    * `numFiles` contiguous key ranges + in-partition sort → parquet whose
    * per-file min/max stats are tight on every interleaved column. */
  def zOrderedWrite(df: DataFrame, cols: Seq[String], dir: String,
                    numFiles: Int, bits: Int = 16): Unit =
    zOrderKey(df, cols, bits)
      .repartitionByRange(numFiles, org.apache.spark.sql.functions.col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(dir)
}
