package graft.streaming

import graft.{SparkSpec, SwapCrashStates}
import graft.sources.UpsertParquet
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** K2 materialized table: latest-wins upsert compaction of a changelog
  * stream into a queryable parquet table, with bucket-pruned rewrites —
  * untouched buckets' files must be byte-identical (same mtime) after a
  * batch that doesn't touch them. */
class UpsertParquetSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def bucketFiles(dir: java.io.File): Map[String, Long] =
    dir.listFiles().filter(_.getName.startsWith("__bucket=")).flatMap { b =>
      b.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${b.getName}/${f.getName}" -> f.lastModified())
    }.toMap

  test("many random batches converge to last-write-wins over the full changelog") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_rand").toFile
    java.nio.file.Files.delete(dir.toPath)
    val rnd = new scala.util.Random(7)
    var all = Seq.empty[(String, String, Long)]
    var version = 0L
    (1 to 5).foreach { _ =>
      val batch = (1 to 50).map { _ =>
        version += 1
        (s"u${rnd.nextInt(30)}", s"c${rnd.nextInt(100)}", version)
      }
      all ++= batch
      UpsertParquet.upsertBatch(batch.toDF("userId", "company", "version"),
        dir.getAbsolutePath, Seq("userId"), "version", nBuckets = 8)
    }
    val table = UpsertParquet.read(spark, dir.getAbsolutePath)
      .select("userId", "company", "version")
      .as[(String, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val expect = all.groupBy(_._1).map { case (k, rows) =>
      val latest = rows.maxBy(_._3); k -> ((latest._2, latest._3))
    }
    assert(table == expect)
  }

  test("changelog stream materializes as a latest-wins table; untouched buckets stay put") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_tbl").toFile
    java.nio.file.Files.delete(dir.toPath) // sink creates it
    val ckpt = java.nio.file.Files.createTempDirectory("upsert_ckpt").toFile
    // (userId, company, version) — the version rides on the changelog row,
    // the reference's changelog-offset analogue
    val in = MemoryStream[(String, String, Long)]
    val versioned = in.toDS().toDF("userId", "company", "version")
    val q = UpsertParquet.sink(versioned, dir.getAbsolutePath,
      ckpt.getAbsolutePath, keyCols = Seq("userId"), seqCol = "version",
      nBuckets = 8).start()
    try {
      in.addData(("u1", "acme", 1L), ("u2", "globex", 2L), ("u3", "initech", 3L))
      q.processAllAvailable()
      val after1 = bucketFiles(dir)
      assert(UpsertParquet.read(spark, dir.getAbsolutePath).count() == 3)

      // batch 2: u1 changes company (upsert), u4 appears (insert)
      in.addData(("u1", "hooli", 4L), ("u4", "umbrella", 5L))
      q.processAllAvailable()
      val table = UpsertParquet.read(spark, dir.getAbsolutePath)
        .select("userId", "company").as[(String, String)].collect().toMap
      assert(table == Map("u1" -> "hooli", "u2" -> "globex",
        "u3" -> "initech", "u4" -> "umbrella"))

      // bucket pruning: buckets untouched by batch 2 kept their exact files
      val after2 = bucketFiles(dir)
      val touched2 = Seq("u1", "u4")
        .map(k => spark.range(1).select(
          pmod(hash(lit(k)), lit(8)).cast("int")).collect()(0).getInt(0))
        .map(b => s"__bucket=$b").toSet
      val untouched = after1.filterNot { case (path, _) => touched2.exists(path.startsWith) }
      assert(untouched.nonEmpty, "fixture should leave some bucket untouched")
      untouched.foreach { case (path, mtime) =>
        assert(after2.get(path).contains(mtime), s"untouched bucket file $path was rewritten")
      }
    } finally q.stop()
  }

  test("forgetKeys: targeted rows vanish, unmatched buckets keep their files, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("forget_tbl").toFile
    java.nio.file.Files.delete(dir.toPath)
    val rows = (1 to 200).map(i => (s"u$i", s"c${i % 9}", i.toLong))
    UpsertParquet.upsertBatch(rows.toDF("userId", "company", "version"),
      dir.getAbsolutePath, Seq("userId"), "version", nBuckets = 8)
    val before = bucketFiles(dir)
    val removed = UpsertParquet.forgetKeys(
      Seq("u7", "u42", "u150", "u_not_there").toDF("userId"),
      dir.getAbsolutePath, Seq("userId"), nBuckets = 8)
    assert(removed == 3L, s"exactly the existing keys are removed, got $removed")
    val table = UpsertParquet.read(spark, dir.getAbsolutePath)
      .select("userId").as[String].collect().toSet
    assert(!table.exists(Set("u7", "u42", "u150")), "forgotten keys must be gone")
    assert(table.size == 197 && table("u1") && table("u200"),
      "every other key survives")
    // buckets none of the forgotten keys hash into keep their exact files
    val hitBuckets = Seq("u7", "u42", "u150")
      .map(k => spark.range(1).select(
        pmod(hash(lit(k)), lit(8)).cast("int")).collect()(0).getInt(0))
      .map(b => s"__bucket=$b").toSet
    before.filterNot { case (p, _) => hitBuckets.exists(p.startsWith) }
      .foreach { case (path, mtime) =>
        assert(bucketFiles(dir).get(path).contains(mtime),
          s"bucket without matches was rewritten: $path")
      }
    // replaying the same request finds nothing and rewrites nothing
    val again = bucketFiles(dir)
    assert(UpsertParquet.forgetKeys(Seq("u7").toDF("userId"),
      dir.getAbsolutePath, Seq("userId"), nBuckets = 8) == 0L)
    assert(bucketFiles(dir) == again, "an idempotent replay must not rewrite")
  }

  test("forgetKeys: a fully-forgotten bucket's directory is deleted outright") {
    val dir = java.nio.file.Files.createTempDirectory("forget_all").toFile
    java.nio.file.Files.delete(dir.toPath)
    val rows = (1 to 40).map(i => (s"u$i", "x", i.toLong))
    UpsertParquet.upsertBatch(rows.toDF("userId", "company", "version"),
      dir.getAbsolutePath, Seq("userId"), "version", nBuckets = 4)
    val removed = UpsertParquet.forgetKeys((1 to 40).map(i => s"u$i").toDF("userId"),
      dir.getAbsolutePath, Seq("userId"), nBuckets = 4)
    assert(removed == 40L)
    assert(!dir.listFiles().exists(_.getName.startsWith("__bucket=")),
      "all buckets emptied -> all bucket dirs gone")
  }

  // Crash inside the bucket swap, then replay (a restart from the
  // checkpoint re-runs the batch): every state SwapCrashStates builds
  // must end on the uninterrupted table, row for row.
  private def crashReplays(op: String => Unit) = {
    val scratch = java.nio.file.Files.createTempDirectory("upsert_crash").toFile
    val base = new java.io.File(scratch, "base/tbl")
    UpsertParquet.upsertBatch(
      (1 to 40).map(i => (s"u$i", s"c${i % 7}", i.toLong)).toDF("userId", "company", "version"),
      base.getPath, Seq("userId"), "version", nBuckets = 8)
    val (expect, replayed) = SwapCrashStates.replays(base, f => op(f.getPath),
      f => UpsertParquet.read(spark, f.getPath).orderBy("userId")
        .collect().map(_.mkString("|")).toSeq, scratch)
    replayed.foreach { case (state, rows) => assert(rows == expect, state) }
    expect
  }

  test("upsertBatch: a crash at any point of the bucket swap, replayed, equals the uninterrupted run") {
    val rows = crashReplays(dir => UpsertParquet.upsertBatch(
      Seq(("u4", "new", 100L), ("u22", "new", 101L), ("u30", "new", 102L),
        ("u41", "new", 103L)).toDF("userId", "company", "version"),
      dir, Seq("userId"), "version", nBuckets = 8))
    assert(rows.size == 41 && rows.contains("u22|new|101"))
  }

  test("forgetKeys: a crash at any point of the bucket swap, replayed, equals the uninterrupted run") {
    // every key of u4's bucket, so one swapped bucket ends up absent, and
    // one key of each of two other buckets
    val bucketOf = (1 to 40).map(i => s"u$i").toDF("userId")
      .select(col("userId"), pmod(hash(col("userId")), lit(8)))
      .as[(String, Int)].collect().toSeq
    val (emptied, rest) = bucketOf.partition(_._2 == bucketOf.toMap.apply("u4"))
    val doomed = emptied.map(_._1) ++
      rest.groupBy(_._2).values.map(_.head._1).toSeq.sorted.take(2)
    val rows = crashReplays(dir => UpsertParquet.forgetKeys(
      doomed.toDF("userId"), dir, Seq("userId"), nBuckets = 8))
    assert(rows.size == 40 - doomed.size)
  }
}
