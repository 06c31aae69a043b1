package graft

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `Bench.measure`: each query's min-of-reps seconds and the executor work
  * of that rep, a -1 row for a query that throws, and no record file. */
class BenchSpec extends SparkSpec {
  test("measure reports executor CPU and stages per query and -1 for a throwing one") {
    val record = Paths.get("BENCH_FULL.json")
    def recorded = if (Files.exists(record)) Some(Files.readString(record)) else None
    val before = recorded
    val calls = TrieMap.empty[String, Int]
    def counted(name: String, fn: (SparkSession, String) => DataFrame) =
      name -> ((s: SparkSession, d: String) => {
        calls.updateWith(name)(n => Some(n.getOrElse(0) + 1)); fn(s, d)
      })
    // q_dedup_minhash is a sorted(...) query: its construction runs jobs
    val queries = Seq("q_dedup_minhash", "q1_pricing")
      .map(q => counted(q, SparkEntry.queries(q))) :+
      counted("q_throws", (_, _) => throw new IllegalStateException("planted"))

    val rows = Bench.measure(spark, "/root/testdata/sf0.001", queries, reps = 3)

    assert(rows.map(_.name) == Seq("q1_pricing", "q_dedup_minhash", "q_throws"))
    assert(calls.toMap == Map("q1_pricing" -> 3, "q_dedup_minhash" -> 3, "q_throws" -> 3))
    val failed = rows.filter(_.failed)
    assert(failed.map(_.name) == Seq("q_throws"))
    assert(failed.head.sec == -1.0 && failed.head.cpuMs == -1L)
    rows.filterNot(_.failed).foreach { r =>
      assert(r.sec > 0 && r.cpuMs > 0 && r.stages >= 1 && r.tasks >= r.stages, r.toString)
    }
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
    assert(recorded == before)
  }
}
