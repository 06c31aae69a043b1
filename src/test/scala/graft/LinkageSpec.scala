package graft

import graft.operators.Linkage
import org.apache.spark.sql.functions._

/** Record-linkage golden cases: blocking bounds candidates, null-safe
  * field agreement, threshold semantics, and the eval counters. */
class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq(("name", 30L, -10L), ("city", 10L, -5L))

  test("blockedCandidates: only same-block pairs appear — blocking, not a cartesian") {
    val a = Seq((1L, "b1", "ann", "rome"), (2L, "b2", "bob", "oslo"))
      .toDF("id", "blk", "name", "city")
    val b = Seq((10L, "b1", "ann", "rome"), (20L, "b3", "cay", "lima"))
      .toDF("id", "blk", "name", "city")
    val c = Linkage.blockedCandidates(a, b, "id", Seq("blk"), Seq("name", "city"))
    assert(c.select("id_a", "id_b").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L)))
  }

  test("scorePairs: null-safe agreement (NULL<=>NULL agrees, NULL vs value disagrees)") {
    val a = Seq((1L, "k", null.asInstanceOf[String], "rome"),
      (2L, "k", "bob", null.asInstanceOf[String]))
      .toDF("id", "blk", "name", "city")
    val b = Seq((10L, "k", null.asInstanceOf[String], "oslo"),
      (20L, "k", "bob", "lima")).toDF("id", "blk", "name", "city")
    val s = Linkage.scorePairs(
        Linkage.blockedCandidates(a, b, "id", Seq("blk"), fields.map(_._1)), fields)
      .select("id_a", "id_b", "score").as[(Long, Long, Long)].collect().toMap2
    assert(s((1L, 10L)) == 30L - 5L)   // NULL name agrees, city differs
    assert(s((1L, 20L)) == -10L - 5L)  // NULL vs 'bob' disagrees
    assert(s((2L, 20L)) == 30L - 5L)   // name agrees, NULL city vs 'lima'
    assert(s((2L, 10L)) == -10L - 5L)
  }

  test("linkPairs + linkEval: threshold picks true pairs; counters and bp are exact") {
    val a = Seq((1L, "k", "ann", "rome"), (2L, "k", "bob", "oslo"),
      (3L, "k", "cay", "lima")).toDF("id", "blk", "name", "city")
    // 1 matches cleanly, 2 lost its name (below threshold), 3 absent
    val b = Seq((1L, "k", "ann", "rome"), (2L, "k", "rob", "oslo"),
      (9L, "k", "zed", "kiev")).toDF("id", "blk", "name", "city")
    val pred = Linkage.linkPairs(a, b, "id", Seq("blk"), fields, threshold = 35L)
    assert(pred.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      == Seq((1L, 1L)))
    val truth = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id_a", "id_b")
    val e = Linkage.linkEval(pred, truth).collect().head
    assert((e.getLong(0), e.getLong(1), e.getLong(2), e.getLong(3), e.getLong(4))
      == ((3L, 1L, 1L, 3333L, 10000L)))
  }

  test("capBlocks: bounds every block at cap, keeps small blocks whole, stable across partitionings") {
    val df = ((1 to 50).map(i => (i.toLong, "hot")) ++
      Seq((100L, "cold"), (101L, "cold"))).toDF("id", "blk")
    val capped = Linkage.capBlocks(df, Seq("blk"), "id", cap = 10)
    val sizes = capped.groupBy("blk").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("hot" -> 10L, "cold" -> 2L), s"got $sizes")
    val again = Linkage.capBlocks(df.repartition(7), Seq("blk"), "id", cap = 10)
    assert(capped.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet,
      "the kept set must be a pure function of the data")
    // the kept set matches an independent MessageDigest ranking of the
    // hot block (the md5 lane a DuckDB twin reproduces)
    val keptHot = capped.filter($"blk" === "hot").select("id").as[Long]
      .collect().toSet
    def h32(id: Long): Long = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(4)
      .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    val want = (1L to 50L).sortBy(i => (h32(i), i)).take(10).toSet
    assert(keptHot == want, "md5 lane must rank exactly like the digest")
  }

  test("linkAgainstIndex == linkTables: the stored index moves cost, never results") {
    val left = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated content about database engines here"),
      (3L, "shared prefix shared prefix shared prefix unique tail a"))
      .toDF("doc_id", "text")
    val right = Seq(
      (11L, "the quick brown fox jumps over the lazy dog tonite"), // 1 edit-ish
      (12L, "nothing in common with anything on the left side at"),
      (13L, "shared prefix shared prefix shared prefix unique tail b"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("linkidx").toString
    graft.operators.Dedup.buildLinkIndex(left, "text", "doc_id", dir)
    val inline = graft.operators.Dedup.linkTables(
        left, "text", "doc_id", right, "text", "doc_id", maxDist = 10)
      .orderBy("id_l", "id_r").collect().toSeq
    val indexed = graft.operators.Dedup.linkAgainstIndex(
        spark, dir, right, "text", "doc_id", maxDist = 10)
      .orderBy("id_l", "id_r").collect().toSeq
    assert(indexed == inline, s"indexed $indexed vs inline $inline")
    assert(inline.nonEmpty, "fixture must produce at least one linked pair")
  }

  test("appendLinkIndex: index grown by a delta links exactly like a full rebuild") {
    val l1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated content about database engines here"))
      .toDF("doc_id", "text")
    val l2 = Seq(
      (3L, "shared prefix shared prefix shared prefix unique tail a"))
      .toDF("doc_id", "text")
    val right = Seq(
      (11L, "the quick brown fox jumps over the lazy dog tonite"),
      (13L, "shared prefix shared prefix shared prefix unique tail b"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("linkidx_app").toString
    graft.operators.Dedup.buildLinkIndex(l1, "text", "doc_id", dir)
    graft.operators.Dedup.appendLinkIndex(l2, "text", "doc_id", dir)
    val grown = graft.operators.Dedup.linkAgainstIndex(
        spark, dir, right, "text", "doc_id", maxDist = 10)
      .orderBy("id_l", "id_r").collect().toSeq
    val rebuilt = graft.operators.Dedup.linkTables(
        l1.unionByName(l2), "text", "doc_id", right, "text", "doc_id",
        maxDist = 10)
      .orderBy("id_l", "id_r").collect().toSeq
    assert(grown == rebuilt, s"grown $grown vs rebuilt $rebuilt")
    // the delta's record must actually link (3 -> 13), not just coexist
    assert(grown.exists(r => r.getLong(0) == 3L && r.getLong(1) == 13L))
  }

  test("linkAgainstIndex refuses a half-written index (missing _SUCCESS)") {
    // buildLinkIndex writes texts THEN bands — a crash between the two
    // (simulated by deleting bands' marker) must fail the probe loudly,
    // never verify candidates against whatever files happen to exist
    val left = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val right = left.select((col("doc_id") + 10).as("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("linkidx_half").toString
    graft.operators.Dedup.buildLinkIndex(left, "text", "doc_id", dir)
    val marker = new java.io.File(s"$dir/bands/_SUCCESS")
    assert(marker.delete(), "fixture expects the bands marker on disk")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.linkAgainstIndex(
        spark, dir, right, "text", "doc_id", maxDist = 10)
    }
    assert(e.getMessage.contains("bands") && e.getMessage.contains("_SUCCESS"))
  }

  implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  // ---- fellegiSunterEM ----

  /** Planted 2-component mixture: 300 matches (each field agrees for 9
    * of 10 residues), 700 unmatches (agrees for 1 of 10) — exact
    * modular fractions, so the truth is p=0.3, m=0.9, u=0.1. */
  private def plantedCands = {
    import spark.implicits._
    val rows = (0 until 1000).map { i =>
      val isMatch = i < 300
      def agree(j: Int) = {
        val r = (i * Seq(7, 11, 13)(j) + j) % 10
        if (isMatch) r < 9 else r < 1
      }
      (agree(0), agree(1), agree(2))
    }
    rows.toDF("g0", "g1", "g2")
  }

  test("fellegiSunterEM recovers a planted mixture's p/m/u") {
    val r = Linkage.fellegiSunterEM(plantedCands,
      Seq(col("g0"), col("g1"), col("g2")), rounds = 10)
    def d(x: Long) = x / 1e9
    assert(math.abs(d(r.pNano) - 0.3) < 0.08, s"p: ${d(r.pNano)}")
    r.mNano.foreach(m => assert(math.abs(d(m) - 0.9) < 0.08, s"m: ${d(m)}"))
    r.uNano.foreach(u => assert(math.abs(d(u) - 0.1) < 0.08, s"u: ${d(u)}"))
    // posteriors separate the components and the pattern grain is intact
    val pats = r.patterns.collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3))))
      .toMap
    assert(pats.values.map(_._1).sum == 1000L, "pattern counts preserve n")
    assert(pats("111")._2 > 900000000L && pats("111")._3)
    assert(pats("000")._2 < 100000000L && !pats("000")._3)
  }

  test("fellegiSunterEM: deterministic under repartitioning; degenerate input clamps instead of diverging") {
    val a = Linkage.fellegiSunterEM(plantedCands,
      Seq(col("g0"), col("g1"), col("g2")), rounds = 5)
    val b = Linkage.fellegiSunterEM(plantedCands.repartition(13),
      Seq(col("g0"), col("g1"), col("g2")), rounds = 5)
    assert(a.pNano == b.pNano && a.mNano == b.mNano && a.uNano == b.uNano)
    // every candidate agrees everywhere: no mixture to find — params must
    // stay clamped inside (0, 1) and the posterior stays defined
    import spark.implicits._
    val degen = Seq.fill(50)((true, true)).toDF("g0", "g1")
    val r = Linkage.fellegiSunterEM(degen, Seq(col("g0"), col("g1")),
      rounds = 8)
    assert(r.mNano.forall(m => m >= 1 && m <= 999999999L))
    assert(r.uNano.forall(u => u >= 1 && u <= 999999999L))
    val w = r.patterns.collect()(0).getLong(2)
    assert(w >= 0L && w <= 1000000000L)
  }
}
