package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** THE write-tmp-then-swap discipline for every parquet table graft
  * rewrites in place: [[swapIn]] replaces a whole table (sketch
  * registers, BM25 stats), [[swapPartitions]] only the listed hive
  * partitions (the upsert table's buckets, an index's cells). Both write
  * the complete new contents to `<dir>.tmp-append`, then delete-and-rename
  * into place, so a reader never observes a half-written table and a lazy
  * self-read never races its own overwrite.
  *
  * Crash atomicity: delete(dst)+rename is TWO filesystem ops. A crash
  * between them leaves dst (the table or one partition) missing while tmp
  * holds its COMPLETE replacement (parquet's _SUCCESS marker proves the
  * write finished). [[recover]] rolls that swap forward; every writer and
  * every read path of a swap-maintained table must call it before it
  * lists or reads the table (Spark lists the files when the read is
  * created), otherwise the next swap's delete(tmp) would destroy the only
  * copy of the data. A PARTIAL tmp (no _SUCCESS — crash mid-write) is
  * never installed; the live table is intact and the next swap discards
  * it. */
object AtomicSwap {

  private def tmpPath(dir: String) = new Path(dir + ".tmp-append")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"swap failed: $src -> $dst")

  /** When tmp is complete, install it wherever the live copy is missing:
    * the whole directory if the table is missing, otherwise each
    * partition directory the table is missing. (A tmp partition whose live
    * copy still exists was not yet swapped; the replayed write redoes it.)
    * Idempotent; two existence probes when there is nothing to do. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val dst = new Path(dir)
    val tmp = tmpPath(dir)
    if (!fs.exists(new Path(tmp, "_SUCCESS"))) return
    if (!fs.exists(dst)) rename(fs, tmp, dst)
    else fs.listStatus(tmp)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .foreach { s =>
        val live = new Path(dst, s.getPath.getName)
        if (!fs.exists(live)) rename(fs, s.getPath, live)
      }
  }

  /** Drop a crashed swap's tmp before overwriting the whole table some
    * other way (an index rebuild): its partitions belong to the old table,
    * and a later [[recover]] must not install them into the new one. */
  def discard(spark: SparkSession, dir: String): Unit =
    fsOf(spark, dir).delete(tmpPath(dir), true)

  /** Swap `df` in as the new contents of `dir`. */
  def swapIn(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    recover(spark, dir)
    val fs = fsOf(spark, dir)
    val tmp = tmpPath(dir)
    fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    val dst = new Path(dir)
    fs.delete(dst, true)
    rename(fs, tmp, dst)
  }

  /** Swap `df` in as the new contents of partitions `parts` (values of
    * the int column `partCol`) of `dir`; other partitions keep their
    * files. A listed partition with no rows in `df` ends up absent. `df`
    * is clustered by `partCol` before the partitioned write: without it
    * every shuffle partition spills a sliver into every partition
    * directory. */
  def swapPartitions(df: DataFrame, dir: String, partCol: String,
                     parts: Seq[Int]): Unit = {
    val spark = df.sparkSession
    recover(spark, dir)
    val fs = fsOf(spark, dir)
    val tmp = tmpPath(dir)
    fs.delete(tmp, true)
    df.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
    fs.mkdirs(new Path(dir))
    parts.foreach { p =>
      val src = new Path(tmp, s"$partCol=$p")
      val dst = new Path(dir, s"$partCol=$p")
      fs.delete(dst, true)
      if (fs.exists(src)) rename(fs, src, dst)
    }
    fs.delete(tmp, true)
  }
}
