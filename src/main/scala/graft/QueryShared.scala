package graft

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared query-construction helpers and oracle-SQL fragments — one trait,
  * mixed into each registry object so the family files stay self-contained
  * while the fragments keep a single definition (split out of the former
  * 9,300-line SparkEntry; no behavior change).
  */
private[graft] trait QueryShared {
  // ---------------------------------------------------------------- helpers

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** [[t]] with scale-adaptive scan conditioning (`Tables.loadWide`) —
    * used by the queries whose scan-fused kernels are CPU-dense enough
    * that the conditioning repartition was a measured win (optimization
    * r13; the per-query evidence table lives in OPTIMIZATION_r13.md). */
  private[graft] def tw(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadWide(s, dir, name)

  /** A registry entry whose result is materialized before the oracle
    * contract's sort on `keys` — see [[ContractSorted]]. */
  private[graft] def sorted(keys: String*)(
      body: (SparkSession, String) => DataFrame): ContractSorted =
    new ContractSorted(keys, body)

  /** Per-JVM tag for scratch paths (e.g. the IVF index dir) so concurrent
    * processes writing mode=overwrite never race each other's reads. */
  private[graft] val jvmTag: String = java.util.UUID.randomUUID().toString.take(8)

  /** The directory a stored-index query of `kind` keeps for data dir `d`:
    * `target/graft-<kind>/<jvmTag>/<d's name chars>-<d's hash><suffix>`.
    * Leading `_` and `.` are dropped from the leaf, which Spark would
    * otherwise treat as a hidden path (`All paths were ignored`) — as it
    * did for every absolute `d`, whose `/` became a leading `_`. The
    * `<jvmTag>` directory holds everything this JVM stores for `kind`,
    * including the `.centroids`/`.codebook`/`.stats` files the operators
    * write beside an index, so it is deleted when the JVM exits. */
  private[graft] def storeDir(kind: String, d: String, suffix: String = ""): String = {
    val stem = d.replaceAll("[^A-Za-z0-9.]", "_").dropWhile(c => c == '_' || c == '.')
    val jvmDir = s"target/graft-$kind/$jvmTag"
    org.apache.spark.sql.graft.ColumnBridge.deleteOnExit(new java.io.File(jvmDir))
    s"$jvmDir/${if (stem.isEmpty) "data" else stem}" + f"-${d.hashCode}%08x$suffix"
  }

  /** Money arithmetic in integer cents — exact (data is 2dp, magnitudes
    * < 1e6, so sums stay far below 2^53 even at 100× scale), invariant to
    * partitioning / summation order, identical to the DuckDB oracle's
    * integer arithmetic, and — unlike decimal aggregation, which boxes a
    * Decimal per row — a primitive codegen'd long sum. */
  private[graft] def cents(c: Column): Column = round(c * 100, 0).cast("long")

  private[graft] def moneySum(c: Column): Column = round(sum(cents(c)) / 100.0, 2)

  /** l_extendedprice*(1-l_discount) in 1e-4-dollar integer units. */
  private[graft] def discUnits: Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  /** Exact per-event_type moments in integer cents — the shared kernel of
    * q_stats_moments and q_feature_norm (its SQL twin is `momentsStSql`;
    * a numeric change here must land there too, and nowhere else).
    * s2 accumulates in decimal(38,0): each c*c is ~1e10 (5-digit cents
    * squared), so a LONG sum wraps at ~1e9 rows per group — well inside
    * target scale. s1 stays a primitive long sum (cents sum overflows only
    * past ~9e13 rows/group). The DuckDB twin keeps s2 as HUGEINT for the
    * same reach. */
  private[graft] def centsMoments(ev: DataFrame): DataFrame = {
    val c = cents(col("value"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(c).as("s1"),
        sum((c * c).cast("decimal(38,0)")).as("s2"))
  }

  /** Sample variance from the exact integer moments:
    * (n*s2 - s1²) / (n*(n-1)) / 1e4. The numerator exceeds Long range well
    * below target scale (s1 ~ 1e10 per group already overflows when
    * squared — ANSI mode would throw, pre-ANSI silently wrap), so both
    * products go through decimal(38,0): exact to 1e38, ~1e12 rows of
    * 5-digit cents per group. The exact integer numerator then casts to
    * double (round-to-nearest, identical in both engines) for the
    * division; the denominator multiplies as double for the same reason
    * (n*(n-1) in Long wraps at n > ~3e9 rows per group). */
  private[graft] def varFromMoments: Column = {
    val dec = (cn: String) => col(cn).cast("decimal(38,0)")
    (dec("n") * dec("s2") - dec("s1") * dec("s1")).cast("double") /
      (col("n").cast("double") * (col("n") - 1).cast("double")) / 10000.0
  }

  /** documents ∪ deterministic customer "profile cards" — the PII-bearing
    * corpus for the redaction queries. The raw documents table contains
    * zero PII-shaped spans at every SF (verified in DuckDB), which made the
    * original documents-only q_pii_counts a vacuous all-zeros hash match.
    * The cards derive entirely from real customer rows with an
    * engine-identical construction (same SQL in the oracle): 1/3 of cards
    * carry an email, 1/2 a URL, all a host IP — so both match and no-match
    * branches are live at every SF. Card ids offset by 1e6 to stay disjoint
    * from doc_ids. */
  private[graft] def piiCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val cards = t(s, d, "customer").select(
      (col("c_custkey") + lit(1000000L)).as("doc_id"),
      concat(
        col("c_name"), lit(" <"),
        when(col("c_custkey") % 3 === 0,
          concat(lower(regexp_replace(col("c_name"), "#", "")), lit("@example.com")))
          .otherwise(lit("no-email")),
        lit("> host 10.0."), col("c_custkey") % 256, lit("."), col("c_nationkey") % 256,
        lit(" via "),
        when(col("c_custkey") % 2 === 0,
          concat(lit("https://example.org/u/"), col("c_custkey")))
          .otherwise(lit("offline"))).as("text"))
    docs.unionByName(cards)
  }

  /** DuckDB twin of [[piiCorpus]] — kept adjacent so the two constructions
    * can be reviewed for equivalence side by side. */
  private[graft] val piiCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT c_custkey + 1000000 AS doc_id,
      | concat(c_name, ' <',
      |   CASE WHEN c_custkey % 3 = 0
      |        THEN concat(lower(replace(c_name, '#', '')), '@example.com')
      |        ELSE 'no-email' END,
      |   '> host 10.0.', c_custkey % 256, '.', c_nationkey % 256,
      |   ' via ',
      |   CASE WHEN c_custkey % 2 = 0
      |        THEN concat('https://example.org/u/', c_custkey)
      |        ELSE 'offline' END) AS text
      |FROM customer""".stripMargin

  /** documents ∪ deterministic multi-script nation "briefs" — the corpus
    * for the script-mix census. The raw documents are pure ASCII at every
    * SF, which would leave every non-Latin branch a vacuous zero; the
    * briefs derive Cyrillic/CJK/Arabic spans from real nation rows with an
    * engine-identical construction (codepoint-for-codepoint: Scala \\u
    * literals here, chr() codepoints in the twin). Ids offset by 2e6. */
  private[graft] def scriptCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val briefs = t(s, d, "nation").select(
      (col("n_nationkey") + lit(2000000L)).as("doc_id"),
      concat(
        col("n_name"), lit(" "),
        expr("repeat('Жи', CAST(n_nationkey % 4 AS INT) + 1)"),
        lit(" "),
        expr("repeat('中文', CAST(n_nationkey % 3 AS INT) + 1)"),
        lit(" 42 "),
        when(col("n_nationkey") % 2 === 0,
          lit("سلام")).otherwise(lit("peace")))
        .as("text"))
    docs.unionByName(briefs)
  }

  /** DuckDB twin of [[scriptCorpus]] — kept adjacent for side-by-side
    * review; chr() codepoints mirror the Scala \\u literals. */
  private[graft] val scriptCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT n_nationkey + 2000000 AS doc_id,
      | concat(n_name, ' ',
      |   repeat(chr(1046)||chr(1080), n_nationkey % 4 + 1), ' ',
      |   repeat(chr(20013)||chr(25991), n_nationkey % 3 + 1), ' 42 ',
      |   CASE WHEN n_nationkey % 2 = 0
      |        THEN chr(1587)||chr(1604)||chr(1575)||chr(1605)
      |        ELSE 'peace' END) AS text
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- queries



  /** The attribution channel taxonomy (config, not data) — shared between
    * the engine call and the generated SQL twin. */
  private[graft] val markovChannels = Seq("click", "error", "signup", "view")

  /** Shared source for the HLL queries: distinct customers per order
    * priority, hashed on the string form (the md5 oracle lane). */
  private[graft] def hllSource(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").filter(col("o_custkey").isNotNull)
      .select(col("o_orderpriority").as("grp"),
        col("o_custkey").cast("string").as("cust"))

  /** The two "systems" for the linkage queries — both derive from customer
    * with engine-identical constructions (the piiCorpus convention): side B
    * perturbs deterministically (rec_id mod 4 → name format drift, mod 5 →
    * segment lost, mod 7 → balance band off by one), so match difficulty
    * is real and the precision/recall curve is non-trivial at every SF.
    * Blocking key: (nation, rec_id mod 97) — the latter standing in for a
    * shared coarse attribute (a postcode). */
  private[graft] def erSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = t(s, d, "customer").select(
      col("c_custkey").as("rec_id"),
      col("c_nationkey").as("nat"),
      (col("c_custkey") % 97).as("postcode"),
      lower(col("c_name")).as("name"),
      col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") / 100).cast("long").as("band"))
    val b = base.select(col("rec_id"), col("nat"), col("postcode"),
      when(col("rec_id") % 4 === 0,
        regexp_replace(col("name"), "customer#", "cust "))
        .otherwise(col("name")).as("name"),
      when(col("rec_id") % 5 === 0, lit("UNKNOWN"))
        .otherwise(col("seg")).as("seg"),
      (col("band") + when(col("rec_id") % 7 === 0, 1L).otherwise(0L))
        .as("band"))
    (base, b)
  }

  /** (field, wAgree, wDisagree) — fixed Fellegi–Sunter weights shared by
    * q_er_matches/q_er_eval and their oracle twins. */
  private[graft] val erFields: Seq[(String, Long, Long)] =
    Seq(("name", 30L, -10L), ("seg", 10L, -5L), ("band", 10L, -5L))

  /** The shared FS-EM fit over the ER fixture's un-thresholded blocked
    * candidates (q_fs_em + q_fs_params read one fit). */
  private[graft] def fsEmFitOn(a: DataFrame, b: DataFrame): Linkage.FsEmResult = {
    val cands = Linkage.blockedCandidates(a, b, "rec_id",
      Seq("nat", "postcode"), Seq("name", "seg", "band"))
    Linkage.fellegiSunterEM(cands, Seq(
      col("a_name") <=> col("b_name"),
      col("a_seg") <=> col("b_seg"),
      col("a_band") <=> col("b_band")), rounds = 5)
  }
  private[graft] def fsEmFit(s: SparkSession, d: String): Linkage.FsEmResult = {
    val (a, b) = erSides(s, d)
    fsEmFitOn(a, b)
  }

  /** Per-(nat, postcode)-block record cap for the SCALE lane of the FS
    * family (q_fs_matches_scaled): the fixed blocking grain grows
    * candidates quadratically with corpus density, so the production
    * shape bounds every block at this many records per side
    * (md5-lane ranked — deterministic, twin-reproducible). 12 ≈ 2× the
    * sf0.1 mean occupancy: the cap is inert at oracle scale and binds
    * exactly where density becomes pathological. */
  private[graft] val FsBlockCap = 12

  /** [[erSides]] with both sides block-capped — the q_fs_matches_scaled
    * candidate universe. Both sides rank by the SAME md5(rec_id), so a
    * kept record is kept on both sides and true-match pairs survive at
    * the kept fraction (the recall trade is priced in BASELINE.md). */
  private[graft] def erSidesCapped(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val (a, b) = erSides(s, d)
    (Linkage.capBlocks(a, Seq("nat", "postcode"), "rec_id", cap = FsBlockCap),
      Linkage.capBlocks(b, Seq("nat", "postcode"), "rec_id", cap = FsBlockCap))
  }

  /** The ER fixture's two sides as CTEs — shared by the fixed-weight
    * oracles ([[erCtes]]) and the EM fit ([[fsEmSql]]). */
  private[graft] val erSidesCtes: String =
    """sa AS (SELECT c_custkey AS rec_id, c_nationkey AS nat,
      |    c_custkey % 97 AS postcode, lower(c_name) AS name,
      |    c_mktsegment AS seg, CAST(floor(c_acctbal/100) AS BIGINT) AS band
      |  FROM customer),
      |sb AS (SELECT rec_id, nat, postcode,
      |    CASE WHEN rec_id % 4 = 0 THEN replace(name, 'customer#', 'cust ')
      |         ELSE name END AS name,
      |    CASE WHEN rec_id % 5 = 0 THEN 'UNKNOWN' ELSE seg END AS seg,
      |    band + CASE WHEN rec_id % 7 = 0 THEN 1 ELSE 0 END AS band
      |  FROM sa)""".stripMargin

  /** [[erSidesCtes]] plus both sides block-capped at [[FsBlockCap]] by
    * md5(rec_id) rank — the DuckDB twin of [[erSidesCapped]] (the
    * q_jaro_scaled cap formula on the ER fixture). */
  private[graft] def erSidesCappedCtes: String = {
    val h = graft.operators.Sketches.kmvHash32Sql("CAST(rec_id AS VARCHAR)")
    def capped(name: String, src: String) =
      s"""$name AS (SELECT rec_id, nat, postcode, name, seg, band FROM (
         |    SELECT *, row_number() OVER (PARTITION BY nat, postcode
         |      ORDER BY ($h), rec_id) AS rk FROM $src)
         |  WHERE rk <= $FsBlockCap)""".stripMargin
    s"""$erSidesCtes,
       |${capped("ca", "sa")},
       |${capped("cb", "sb")}""".stripMargin
  }

  /** Linkage CTEs shared by the two ER oracles (one definition, two
    * consumers). Weights/threshold are inlined from [[erFields]]'s values;
    * `IS NOT DISTINCT FROM` ≡ Spark's null-safe `<=>`. */
  private[graft] val erCtes: String =
    s"""$erSidesCtes,
      |m AS (SELECT id_a, id_b, CAST(score AS BIGINT) AS score FROM (
      |    SELECT a.rec_id AS id_a, b.rec_id AS id_b,
      |      CASE WHEN a.name IS NOT DISTINCT FROM b.name THEN 30 ELSE -10 END
      |      + CASE WHEN a.seg IS NOT DISTINCT FROM b.seg THEN 10 ELSE -5 END
      |      + CASE WHEN a.band IS NOT DISTINCT FROM b.band THEN 10 ELSE -5 END
      |        AS score
      |    FROM sa a JOIN sb b ON a.nat = b.nat AND a.postcode = b.postcode)
      |  WHERE score >= 25)""".stripMargin

  /** DuckDB twin of [[Linkage.fellegiSunterEM]] over the ER fixture's
    * UN-thresholded candidates: the agreement-pattern histogram, then
    * `rounds` UNROLLED EM updates in the exact arithmetic contract —
    * E-step posteriors in double from the 1e-9-grid params with the
    * engine's multiplication order, floored back to the grid; M-step as
    * HUGEINT mass sums with floor division and [1, 1e9−1] clamps. Ends
    * with one more E-step (`wFin`) under the converged params — the
    * pattern relation both q_fs_em and q_fs_params read. */
  private[graft] def fsEmSql(rounds: Int, sidesCtes: String = erSidesCtes,
                      aRel: String = "sa", bRel: String = "sb"): String = {
    val k = 3
    def clampSql(x: String) =
      s"greatest(CAST(1 AS HUGEINT), least(CAST(999999999 AS HUGEINT), $x))"
    val numExpr = (0 until k).foldLeft("(CAST(p AS DOUBLE) / 1e9)")((acc, j) =>
      s"($acc * (CASE WHEN a$j THEN CAST(m$j AS DOUBLE) / 1e9" +
        s" ELSE 1.0 - CAST(m$j AS DOUBLE) / 1e9 END))")
    val denExpr = (0 until k).foldLeft("(1.0 - CAST(p AS DOUBLE) / 1e9)")((acc, j) =>
      s"($acc * (CASE WHEN a$j THEN CAST(u$j AS DOUBLE) / 1e9" +
        s" ELSE 1.0 - CAST(u$j AS DOUBLE) / 1e9 END))")
    def wCte(name: String, em: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT a0, a1, a2, n,
         |    CAST(floor(num / (num + den) * 1e9) AS BIGINT) AS w
         |  FROM (SELECT pat.*, $numExpr AS num, $denExpr AS den
         |        FROM pat CROSS JOIN $em))""".stripMargin
    def emCte(name: String, w: String) = {
      val fields = (0 until k).flatMap { j =>
        Seq(
          s"${clampSql(s"sum(CASE WHEN a$j THEN n*w ELSE 0 END) * 1000000000 // sum(n*w)")} AS m$j",
          s"${clampSql(s"sum(CASE WHEN a$j THEN n*(1000000000-w) ELSE 0 END) * 1000000000 // sum(n*(1000000000-w))")} AS u$j")
      }.mkString(",\n    ")
      s"""$name AS MATERIALIZED (
         |  SELECT ${clampSql("sum(n*w) // sum(n)")} AS p,
         |    $fields
         |  FROM $w)""".stripMargin
    }
    val roundCtes = (1 to rounds).map { r =>
      wCte(s"w$r", s"em${r - 1}") + ",\n" + emCte(s"em$r", s"w$r")
    }.mkString(",\n")
    s"""$sidesCtes,
       |pat AS MATERIALIZED (
       |  SELECT (a.name IS NOT DISTINCT FROM b.name) AS a0,
       |    (a.seg IS NOT DISTINCT FROM b.seg) AS a1,
       |    (a.band IS NOT DISTINCT FROM b.band) AS a2,
       |    count(*) AS n
       |  FROM $aRel a JOIN $bRel b
       |    ON a.nat = b.nat AND a.postcode = b.postcode
       |  GROUP BY 1, 2, 3),
       |em0 AS (SELECT CAST(100000000 AS HUGEINT) AS p,
       |  CAST(900000000 AS HUGEINT) AS m0, CAST(100000000 AS HUGEINT) AS u0,
       |  CAST(900000000 AS HUGEINT) AS m1, CAST(100000000 AS HUGEINT) AS u1,
       |  CAST(900000000 AS HUGEINT) AS m2, CAST(100000000 AS HUGEINT) AS u2),
       |$roundCtes,
       |${wCte("wFin", s"em$rounds")}""".stripMargin
  }

  /** The nation trade graph (customer-nation, supplier-nation
    * co-occurrence on a lineitem, relative-weight cut) — the shared edge
    * derivation of the graph-suite queries. The heavy linear work is this
    * 4-way fact join; the graph kernels then run on the bounded edge
    * relation. */
  private[graft] def nationTradeEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = t(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      .join(t(s, d, "orders").select(col("o_orderkey").as("ok"), col("o_custkey")), "ok")
      .join(broadcast(t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey")).as("u"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("v"))
    val wts = pairs.groupBy("u", "v").agg(count(lit(1)).as("w"))
    val tot = wts.agg(count(lit(1)).as("np"), sum("w").as("tw"))
    wts.crossJoin(broadcast(tot))
      .filter(col("w") * col("np") >= col("tw"))
  }

  /** Overlapping value bands for q_range_join — shared with the oracle
    * twin builder so the two sides can't drift. (band, lo, hi): width 60,
    * stride 40, covering events.value's [0, 500) span with overlaps. */
  private[graft] val rangeBands: Seq[(String, Double, Double)] =
    (0 until 12).map(i => (f"band_$i%02d", i * 40.0, i * 40.0 + 60.0))

  /** q_linear_scan's shipped-model weight vector — the SAME per-index
    * formula q_linear_score's weight TABLE uses, computed once here and
    * embedded as an array literal on the Spark side / a formula CTE in the
    * oracle (they agree index-for-index by construction). */
  private[graft] val scanWeightsMicro: Seq[Long] =
    Seq.tabulate(256)(i => ((i * 2654435761L) % 1000003L) % 2001L - 1000L)

  /** documents ∪ deterministic order "log lines" — the corpus for template
    * mining. Raw documents have zero repeated digit-masked templates at
    * every SF (verified in DuckDB), so the log lines derive machine-
    * generated text from real order rows with an engine-identical
    * construction; after digit masking they collapse to one template per
    * priority class. Ids offset by 3e6 to stay disjoint. */
  private[graft] def templateCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val logs = t(s, d, "orders").select(
      (col("o_orderkey") + lit(3000000L)).as("doc_id"),
      concat(lit("order "), col("o_orderkey"), lit(" priority "),
        col("o_orderpriority"), lit(" total "),
        cents(col("o_totalprice"))).as("text"))
    docs.unionByName(logs)
  }

  /** DuckDB twin of [[templateCorpus]] — kept adjacent for side-by-side
    * review. */
  private[graft] val templateCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT o_orderkey + 3000000 AS doc_id,
      | concat('order ', o_orderkey, ' priority ', o_orderpriority,
      |   ' total ', CAST(round(o_totalprice*100) AS BIGINT)) AS text
      |FROM orders""".stripMargin

  /** Comparison-derivation CTEs shared by q_pairwise_wins and
    * q_bradley_terry (one definition, two consumers — the q_langid
    * convention). */
  private[graft] val winsCtes: String =
    """e AS (SELECT * FROM events),
      |p AS (SELECT a.event_type AS ta, a.value AS va,
      |        b.event_type AS tb, b.value AS vb
      |      FROM e a JOIN e b
      |        ON a.event_id // 2 = b.event_id // 2 AND a.event_id < b.event_id
      |      WHERE a.event_type <> b.event_type),
      |c AS (SELECT
      |        CASE WHEN va > vb THEN ta WHEN vb > va THEN tb
      |             ELSE least(ta, tb) END AS winner,
      |        CASE WHEN va > vb THEN tb WHEN vb > va THEN ta
      |             ELSE greatest(ta, tb) END AS loser
      |      FROM p),
      |wins AS (SELECT winner, loser, count(*) AS n FROM c GROUP BY 1, 2)""".stripMargin

  /** Unrolled Bradley–Terry MM chain (the q_bpe_train unrolled-CTE idiom):
    * one d/r/it CTE triple per iteration, HUGEINT products, `//` floored
    * division — line-for-line the integer recurrence of
    * [[graft.operators.Preferences.bradleyTerry]]. */
  private[graft] def bradleyTerrySql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""d$k AS (SELECT p.i AS item,
         |  sum((CAST(p.t AS HUGEINT) * 1000000) // greatest(si.s + sj.s, 1)) AS D
         | FROM sym p
         | JOIN it${k - 1} si ON si.item = p.i
         | JOIN it${k - 1} sj ON sj.item = p.j
         | GROUP BY 1),
         |r$k AS (SELECT i.item, i.wins,
         |  (CAST(i.wins AS HUGEINT) * 1000000 * 1000000) // greatest(d.D, 1) AS raw
         | FROM items i JOIN d$k d USING (item)),
         |it$k AS (SELECT item, wins,
         |  (CAST(raw AS HUGEINT) * 1000000)
         |    // greatest((SELECT sum(raw) FROM r$k), 1) AS s
         | FROM r$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $winsCtes,
       |sym AS (SELECT i, j, CAST(sum(n) AS BIGINT) AS t FROM (
       |    SELECT winner AS i, loser AS j, n FROM wins
       |    UNION ALL SELECT loser AS i, winner AS j, n FROM wins)
       |  GROUP BY 1, 2),
       |items AS (SELECT s.item, CAST(coalesce(w.wins, 0) AS BIGINT) AS wins
       |  FROM (SELECT DISTINCT i AS item FROM sym) s
       |  LEFT JOIN (SELECT winner AS item, sum(n) AS wins FROM wins GROUP BY 1) w
       |    USING (item)),
       |it0 AS (SELECT item, wins, CAST(1000000 AS BIGINT) AS s FROM items),
       |$steps
       |SELECT item, wins, CAST(s AS BIGINT) AS strength_micro
       |FROM it$iters ORDER BY item""".stripMargin
  }

  // ------------------------------------------------------------ oracle SQL



  /** Per-fold stump CV twin: the q_stump training chain parametrized by
    * the deterministic fold hash (train = other k−1 folds), plus a
    * held-out eval block applying the selected (feature, threshold,
    * polarity) with the exact bp-accuracy lane. `best` CTEs MATERIALIZED —
    * each is referenced several times and re-inlining would replay the
    * whole training chain per reference. */
  private[graft] lazy val cvStumpSql: String = {
    val folds = 5
    def foldCond(k: Int, in: Boolean) =
      s"((doc_id % 1000003) * 2654435761) % $folds ${if (in) "=" else "<>"} $k"
    val blocks = (0 until folds).map { k =>
      s"""f$k AS (
         |  SELECT 'n_chars' AS feature, n_chars AS value, lang = 'en' AS pos
         |  FROM documents WHERE ${foldCond(k, in = false)}
         |  UNION ALL
         |  SELECT 'n_words', CAST(len($sqlTokens) AS BIGINT), lang = 'en'
         |  FROM documents WHERE ${foldCond(k, in = false)}),
         |g$k AS (SELECT feature, value,
         |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
         |    sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
         |  FROM f$k GROUP BY 1, 2),
         |t$k AS (SELECT feature, sum(np) AS tp, sum(nn) AS tn
         |  FROM g$k GROUP BY 1),
         |c$k AS (SELECT g$k.feature, value,
         |    sum(np) OVER (PARTITION BY g$k.feature ORDER BY value) AS cnp,
         |    sum(nn) OVER (PARTITION BY g$k.feature ORDER BY value) AS cnn,
         |    t$k.tp, t$k.tn
         |  FROM g$k JOIN t$k ON t$k.feature = g$k.feature),
         |s$k AS (SELECT feature, value AS threshold,
         |    CASE WHEN cnp + tn - cnn >= cnn + tp - cnp
         |         THEN 'le_pos' ELSE 'le_neg' END AS polarity,
         |    greatest(cnp + tn - cnn, cnn + tp - cnp) * 10000 // (tp + tn)
         |      AS acc_bp
         |  FROM c$k),
         |best$k AS MATERIALIZED (SELECT feature,
         |    CAST(threshold AS BIGINT) AS threshold, polarity,
         |    CAST(acc_bp AS BIGINT) AS acc_bp
         |  FROM s$k ORDER BY acc_bp DESC, feature, threshold, polarity
         |  LIMIT 1),
         |ev$k AS (SELECT
         |    CASE WHEN (SELECT feature FROM best$k) = 'n_chars' THEN n_chars
         |         ELSE CAST(len($sqlTokens) AS BIGINT) END AS v,
         |    lang = 'en' AS pos
         |  FROM documents WHERE ${foldCond(k, in = true)}),
         |a$k AS (SELECT $k AS fold,
         |    (SELECT feature FROM best$k) AS feature,
         |    (SELECT threshold FROM best$k) AS threshold,
         |    (SELECT polarity FROM best$k) AS polarity,
         |    (SELECT acc_bp FROM best$k) AS train_acc_bp,
         |    count(*) AS n_test,
         |    CAST(CASE WHEN count(*) > 0 THEN (10000 * sum(CASE WHEN
         |        (CASE WHEN (SELECT polarity FROM best$k) = 'le_pos'
         |              THEN v <= (SELECT threshold FROM best$k)
         |              ELSE v > (SELECT threshold FROM best$k) END) = pos
         |        THEN 1 ELSE 0 END)) // count(*) ELSE 0 END AS BIGINT)
         |      AS test_acc_bp
         |  FROM ev$k WHERE v IS NOT NULL AND pos IS NOT NULL)""".stripMargin
    }.mkString(",\n")
    s"""WITH $blocks
       |SELECT CAST(fold AS BIGINT) AS fold, feature, threshold, polarity,
       |  train_acc_bp, CAST(n_test AS BIGINT) AS n_test, test_acc_bp
       |FROM (${(0 until folds).map(k => s"SELECT * FROM a$k").mkString(" UNION ALL ")})
       |ORDER BY fold""".stripMargin
  }

  /** Unrolled removal-effect attribution twin: journey pairs → pivoted
    * transition-count row → one value-iteration CTE chain per scenario
    * (full + one per removed channel), every step the exact integer
    * p'(s) = (Σ n(s,t)·p(t)) div n_from(s) the engine's driver chase
    * runs. Generated from the SAME channel taxonomy and iteration count. */
  private[graft] lazy val markovAttribSql: String = {
    val channels = markovChannels.sorted
    val iters = 8
    val states = "__START__" +: channels
    val targets = states ++ Seq("__CONV__", "__NULL__")
    def nCol(i: Int, j: Int) = s"n_${i}_$j"
    val nnCols = states.indices.flatMap { i =>
      targets.indices.map { j =>
        s"CAST(sum(CASE WHEN f = '${states(i)}' AND t = '${targets(j)}' " +
          s"THEN n ELSE 0 END) AS BIGINT) AS ${nCol(i, j)}"
      } :+ (s"CAST(sum(CASE WHEN f = '${states(i)}' THEN n ELSE 0 END) " +
        s"AS BIGINT) AS nf_$i")
    }.mkString(", ")
    val convIdx = states.size
    def chain(name: String, removedIdx: Option[Int]): String = {
      val init = s"p${name}_0 AS (SELECT " +
        states.indices.map(i => s"CAST(0 AS BIGINT) AS p_$i").mkString(", ") +
        ")"
      val steps = (1 to iters).map { k =>
        val prev = s"p${name}_${k - 1}"
        val cols = states.indices.map { i =>
          if (removedIdx.contains(i)) s"CAST(0 AS BIGINT) AS p_$i"
          else {
            val terms = states.indices
              .map(j => s"${nCol(i, j)} * $prev.p_$j") :+
              s"${nCol(i, convIdx)} * 1000000"
            s"CASE WHEN nf_$i = 0 THEN 0 " +
              s"ELSE (${terms.mkString(" + ")}) // nf_$i END AS p_$i"
          }
        }.mkString(", ")
        // MATERIALIZED: every step is one row, and without the hint each
        // downstream reference re-inlines the whole upstream chain
        // (exponential planning/execution — the repo's documented DuckDB
        // CTE trap)
        s"p${name}_$k AS MATERIALIZED (SELECT $cols FROM nn, $prev)"
      }
      (init +: steps).mkString(",\n")
    }
    val chains = chain("f", None) + ",\n" + channels.indices
      .map(i => chain(s"r$i", Some(i + 1))).mkString(",\n")
    val reCols = channels.indices.map { i =>
      s"greatest((SELECT p_0 FROM pf_$iters) - (SELECT p_0 FROM pr${i}_$iters), 0) AS re_$i"
    }.mkString(", ")
    val totExpr = channels.indices.map(i => s"re_$i").mkString(" + ")
    val rows = channels.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS channel,
         |  (SELECT p_0 FROM pf_$iters) AS p_full_micro,
         |  (SELECT p_0 FROM pr${i}_$iters) AS p_removed_micro,
         |  (SELECT re_$i FROM re) AS removal_micro,
         |  CASE WHEN (SELECT tt FROM tot) > 0
         |    THEN ((SELECT re_$i FROM re) * 10000) // (SELECT tt FROM tot)
         |    ELSE 0 END AS share_bp""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN event_type = 'purchase' THEN '__CONV__'
       |         ELSE event_type END AS st
       |  FROM events
       |  WHERE event_type IN (${(channels :+ "purchase").map(c => s"'$c'").mkString(", ")})),
       |fl AS (SELECT user_id, ts, event_id, st,
       |    coalesce(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS seen
       |  FROM ev),
       |jn AS MATERIALIZED (SELECT user_id, st,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS rn,
       |    lead(st) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM fl WHERE seen = 0),
       |prs AS (SELECT '__START__' AS f, st AS t FROM jn WHERE rn = 1
       |  UNION ALL SELECT st, nxt FROM jn WHERE nxt IS NOT NULL
       |  UNION ALL SELECT st, '__NULL__' FROM jn
       |    WHERE nxt IS NULL AND st <> '__CONV__'),
       |tc AS (SELECT f, t, count(*) AS n FROM prs GROUP BY 1, 2),
       |nn AS MATERIALIZED (SELECT $nnCols FROM tc),
       |$chains,
       |re AS MATERIALIZED (SELECT $reCols),
       |tot AS MATERIALIZED (SELECT $totExpr AS tt FROM re)
       |$rows
       |ORDER BY channel""".stripMargin
  }

  /** DuckDB twin of the HLL register build (md5 lane, top-6-bit bucket,
    * generated bit-length rank ladder — the same literals the Column
    * kernel embeds). Produces CTE `sk` (grp, bucket, max_rank). */
  private[graft] lazy val hllSketchCtes: String = {
    import graft.operators.Sketches.{HllSuffixBits, hllRankSql}
    s"""hh AS (SELECT o_orderpriority AS grp,
       |    (${graft.operators.Sketches.kmvHash32Sql("CAST(o_custkey AS VARCHAR)")}) AS h
       |  FROM orders WHERE o_custkey IS NOT NULL),
       |rk AS (SELECT grp, h // ${1L << HllSuffixBits} AS bucket,
       |    ${hllRankSql(s"(h % ${1L << HllSuffixBits})")} AS rank
       |  FROM hh),
       |sk AS (SELECT grp, bucket, max(rank) AS max_rank
       |  FROM rk GROUP BY 1, 2)""".stripMargin
  }

  /** Unrolled batch-perceptron twin (the pageRank/HITS fixed-round
    * pattern): per round r, margins under w_{r−1}/b_{r−1}, the
    * misclassified set, the feature-grain gradient, and the synchronously
    * updated w_r/b_r — each an exact-integer CTE. SQL `sum()` skipping
    * NULL products IS the missing-weight-scores-zero semantics, matching
    * the engine's element_at on a zero-initialized literal array. */
  private[graft] lazy val perceptronSql: String = {
    val rounds = 3
    val roundCtes = (1 to rounds).map { r =>
      val pw = s"w${r - 1}"
      val pb = s"b${r - 1}"
      s"""sc$r AS (SELECT doc, y, s + (SELECT b FROM $pb) AS score
         |  FROM (SELECT l.doc, l.y, coalesce(sum(f.f_sum * pw.w), 0) AS s
         |        FROM lab l LEFT JOIN fs f ON f.doc = l.doc
         |        LEFT JOIN $pw pw ON pw.feature_idx = f.feature_idx
         |        GROUP BY l.doc, l.y)),
         |mis$r AS (SELECT doc, y FROM sc$r WHERE y * score <= 0),
         |g$r AS (SELECT f.feature_idx, sum(m.y * f.f_sum) AS dw
         |  FROM mis$r m JOIN fs f ON f.doc = m.doc GROUP BY 1),
         |w$r AS (SELECT coalesce(pw.feature_idx, g.feature_idx) AS feature_idx,
         |    CAST(coalesce(pw.w, 0) + coalesce(g.dw, 0) AS BIGINT) AS w
         |  FROM $pw pw FULL OUTER JOIN g$r g
         |    ON pw.feature_idx = g.feature_idx),
         |b$r AS (SELECT CAST((SELECT b FROM $pb)
         |    + coalesce((SELECT sum(y) FROM mis$r), 0) AS BIGINT) AS b),
         |a$r AS (SELECT $r AS round,
         |    (SELECT count(*) FROM mis$r) AS n_mis,
         |    (SELECT CAST(coalesce(sum(abs(w)), 0) AS BIGINT) FROM w$r) AS w_l1,
         |    (SELECT b FROM b$r) AS bias)""".stripMargin
    }.mkString(",\n")
    s"""WITH $featureHashCtes,
       |lab AS (SELECT doc_id AS doc,
       |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents),
       |w0 AS (SELECT CAST(NULL AS BIGINT) AS feature_idx,
       |    CAST(NULL AS BIGINT) AS w WHERE false),
       |b0 AS (SELECT CAST(0 AS BIGINT) AS b),
       |$roundCtes
       |SELECT CAST(round AS BIGINT) AS round, n_mis, w_l1, bias
       |FROM (${(1 to rounds).map(r => s"SELECT * FROM a$r").mkString(" UNION ALL ")})
       |ORDER BY round""".stripMargin
  }

  /** DuckDB twin of the seeded-Laplace DP release: same md5-lane
    * uniform over (salt || key), same inverse CDF, same integer-grain
    * round; `bMicro` arrives from the SAME Scala arithmetic the engine
    * uses (shared-literal convention). */
  private[graft] def dpSql(cte: String, groupAlias: String, statAlias: String,
                    nonce: String, epsilonMicro: Long, sensitivity: Long,
                    extra: String, tau: Option[Long] = None): String = {
    // b derives HERE from the same (sensitivity, εµ) arithmetic the
    // engine uses, and the hash lane is the SHARED kmvHash32Sql twin of
    // md5Hash32 — one home for both, so the two engines cannot drift
    val hash = graft.operators.Sketches
      .kmvHash32Sql(s"'$nonce' || coalesce(g, '')")
    val b = (sensitivity * (1000000000000L / epsilonMicro)).toDouble / 1e6
    // thresholded ("stable histogram") releases keep only noisy counts
    // >= tau and record the threshold in the release
    val (tauCol, tauFilter) = tau match {
      case Some(t) => (s", CAST($t AS BIGINT) AS tau",
        s"WHERE $statAlias >= $t ")
      case None => ("", "")
    }
    s"""WITH c AS ($cte),
       |u AS (SELECT g, stat, (($hash) + 0.5) / 4294967296.0 AS u FROM c),
       |r AS (SELECT g AS $groupAlias, CAST(stat + CAST(round(
       |    (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
       |    * ($b * -ln(1 - 2 * abs(u - 0.5)))) AS BIGINT) AS BIGINT)
       |  AS $statAlias,
       |  CAST($epsilonMicro AS BIGINT) AS epsilon_micro$extra
       |FROM u)
       |SELECT r.*$tauCol FROM r ${tauFilter}ORDER BY $groupAlias""".stripMargin
  }


  /** The linkage fixture's RIGHT side, shared by q_link_tables and
    * q_link_indexed — ONE derivation on purpose: the two queries share
    * one oracle SQL, so a drift between their fixtures would silently
    * fail the hash gate. Mirrors the oracle's rightSrc CTE. */
  private[graft] def linkRightTable(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.filter(pmod(col("doc_id"), lit(3L)) =!= 2)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          concat(col("text"), lit(" xlinked")))
          .otherwise(col("text")).as("text"))

  /** Shared DuckDB twin of the cross-table linkage output — used by
    * BOTH q_link_tables (inline kernel) and q_link_indexed (stored
    * index): the stored bands are the same hash-family relation, so
    * the outputs are identical by construction. */
  private[graft] lazy val linkTablesSql: String = {
      val leftSrc = "SELECT doc_id, text FROM documents"
      val rightSrc = """SELECT doc_id + 1000000 AS doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' xlinked' ELSE text END AS text
        |FROM documents WHERE doc_id % 3 <> 2""".stripMargin
      s"""WITH ${linkBandCtes(leftSrc, "l")},
         |${linkBandCtes(rightSrc, "r")},
         |cand AS (
         |  SELECT DISTINCT l.doc AS id_l, r.doc AS id_r
         |  FROM lbands l JOIN rbands r
         |    ON l.band = r.band AND l.band_key = r.band_key)
         |SELECT c.id_l, c.id_r,
         |  CAST(levenshtein(dl.text, dr.text) AS BIGINT) AS edit_dist
         |FROM cand c
         |JOIN ($leftSrc) dl ON dl.doc_id = c.id_l
         |JOIN ($rightSrc) dr ON dr.doc_id = c.id_r
         |WHERE levenshtein(dl.text, dr.text) <= 10
         |ORDER BY id_l, id_r""".stripMargin
    }

  /** DuckDB twin of the Poisson-bootstrap replicate kernel over orders'
    * exact cents — (a_j, c_j) affine params and Poisson(1) CDF thresholds
    * generated from the SAME Scala literals the Column kernel embeds
    * (the shared-literal convention). Produces CTE `boot`
    * (b, n_eff, sum_cents HUGEINT, mean_ccents BIGINT) for 40 resamples. */
  private[graft] lazy val bootstrapCtes: String = {
    val resamples = 40
    val vals = RelationalOps.bootRowParams(resamples).zipWithIndex
      .map { case ((a, c), j) => s"($j, $a, $c)" }.mkString(", ")
    val ladder = RelationalOps.bootThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
    s"""hb AS (SELECT
       |    (${graft.operators.Sketches.kmvHash32Sql("CAST(o_orderkey AS VARCHAR)")}) AS h0,
       |    CAST(round(o_totalprice*100) AS BIGINT) AS x FROM orders),
       |pr (b, a, c) AS (VALUES $vals),
       |cw AS (SELECT b, CASE $ladder ELSE 8 END AS cnt, x
       |       FROM (SELECT b, ((a * h0 + c) % ${RelationalOps.BootP}) AS u, x
       |             FROM hb CROSS JOIN pr)),
       |boot AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS n_eff,
       |    CAST(sum(CAST(cnt AS HUGEINT) * x) AS HUGEINT) AS sum_cents,
       |    CAST((100 * sum(CAST(cnt AS HUGEINT) * x)) // sum(cnt) AS BIGINT)
       |      AS mean_ccents
       |  FROM cw GROUP BY b)""".stripMargin
  }

  /** Per-side MinHash band CTEs for the cross-table linkage oracle — the
    * minhashCandCtes kernel parametrized by a (doc_id, text) source and a
    * CTE name prefix, so both tables band with the IDENTICAL hash family
    * (equal text must collide across tables). */
  private[graft] def linkBandCtes(src: String, pfx: String): String = {
    val minCols = (0 until 16)
      .map(j => s"min(substr(md5('${j / 4}:' || shingle), ${1 + 8 * (j % 4)}, 8)) AS mh$j")
      .mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val parts = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc, $b AS band, md5($parts) AS band_key FROM ${pfx}mh"
    }.mkString("\n|  UNION ALL ")
    s"""${pfx}toks AS (SELECT doc_id, $sqlTokens AS tk FROM ($src)),
       |${pfx}sh AS (SELECT DISTINCT doc_id AS doc, unnest(
       |  CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
       |       ELSE list_transform(generate_series(1, len(tk) - 2),
       |              i -> array_to_string(tk[i:i+2], ' ')) END) AS shingle
       |  FROM ${pfx}toks),
       |${pfx}mh AS (
       |  SELECT doc, $minCols
       |  FROM ${pfx}sh GROUP BY doc),
       |${pfx}bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** Shared PQ CTEs: 4 subspaces × 16-dim slices, codebook = the 16
    * lowest-id vectors' subvectors, assignment by the dot-product-identity
    * distance (every term rides list_dot_product — the bit-exact twin of
    * the native `Dot` loop behind VectorFunctions.dot), argmin ties to the
    * smaller code. */
  private[graft] def pqCodesCtes: String =
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      |subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
      |cb AS (SELECT s.sub, CAST(vec_id AS INT) AS code,
      |    vv[s.sub*16+1 : s.sub*16+16] AS cs
      |  FROM v, subs s WHERE vec_id < 16),
      |sv AS (SELECT vec_id, s.sub, vv[s.sub*16+1 : s.sub*16+16] AS xs
      |  FROM v, subs s),
      |sc AS (SELECT sv.vec_id, sv.sub, cb.code,
      |    round(list_dot_product(xs,xs) - 2*list_dot_product(xs,cs)
      |      + list_dot_product(cs,cs), 4) AS d2
      |  FROM sv JOIN cb ON sv.sub = cb.sub),
      |codes AS (SELECT vec_id, sub, code, d2 FROM (
      |    SELECT vec_id, sub, code, d2,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |    FROM sc) WHERE rn = 1)""".stripMargin

  /** DuckDB VALUES list for q_range_join's bands — generated from
    * `rangeBands` so engine and oracle share one definition. */
  private[graft] def rangeBandsSql: String =
    rangeBands.map { case (b, lo, hi) => s"('$b', $lo, $hi)" }.mkString(", ")

  /** EWMA oracle: the SAME truncated 1e6/2^i weight ladder as
    * `Timeseries.ewmaWeights` (shared definition — the literals are
    * generated, not copied), unrolled as lag terms over one window. */
  private[graft] def ewmaSql: String = {
    val ws = Timeseries.ewmaWeights(8)
    val lags = ws.indices.drop(1)
      .map(i => s"lag(c, $i) OVER w AS c$i").mkString(", ")
    def term(i: Int): String = if (i == 0) "c" else s"c$i"
    val num = ws.zipWithIndex
      .map { case (wt, i) => s"$wt * COALESCE(${term(i)}, 0)" }
      .mkString(" + ")
    val den = ws.zipWithIndex
      .map { case (wt, i) =>
        s"CASE WHEN ${term(i)} IS NOT NULL THEN $wt ELSE 0 END" }
      .mkString(" + ")
    s"""WITH e AS (SELECT event_id, user_id, ts,
       |    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
       |l AS (SELECT event_id, user_id, c, $lags
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT event_id, user_id,
       |  round(($num) / ($den), 4) + 0.0 AS ewma
       |FROM l ORDER BY event_id""".stripMargin
  }

  /** Split-leakage oracle: the recursive-CTE cluster closure joined with
    * the shared split hash; leaking = members in more than one split. */
  private[graft] def splitLeakageSql: String =
    s"""WITH RECURSIVE $clusterLabelCtes,
       |sp AS (SELECT l.id, l.cluster_id,
       |    CASE WHEN ((l.id % 1000003) * 2654435761) % 100 < 90 THEN 'train'
       |         WHEN ((l.id % 1000003) * 2654435761) % 100 < 95 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM labels l)
       |SELECT cluster_id, count(*) AS n_docs,
       |  CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
       |  string_agg(DISTINCT split, ',' ORDER BY split) AS splits
       |FROM sp GROUP BY cluster_id HAVING count(DISTINCT split) > 1
       |ORDER BY cluster_id""".stripMargin

  /** The nation trade graph's oracle CTEs, ending in `kept(u, v)` —
    * shared by the triangle and k-core twins (mirrors
    * `nationTradeEdges`). */
  private[graft] def nationTradeEdgesCtes: String =
    """pr AS (
      |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
      |         greatest(c.c_nationkey, s.s_nationkey) AS v
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |wts AS MATERIALIZED (SELECT u, v, count(*) AS w FROM pr GROUP BY u, v),
      |tot AS (SELECT count(*) AS np, CAST(sum(w) AS BIGINT) AS tw FROM wts),
      |kept AS MATERIALIZED (SELECT CAST(u AS VARCHAR) AS u, CAST(v AS VARCHAR) AS v
      |  FROM wts, tot WHERE w * np >= tw)""".stripMargin
  // wts/kept MATERIALIZED (the kCoreSql lesson, applied to the shared
  // edge CTEs): DuckDB inlines CTEs by default, and q_triangles references
  // the kept-edge relation through deg/o/wg/tri enough times that the
  // inlined 4-way fact join re-evaluated ~dozens of times — measured OOM
  // at sf0.1 (>22 GiB) for a 300-edge graph. Materialized, each consumer
  // reads the 300 rows.

  /** k-core oracle: 4 UNROLLED parallel-peel rounds (generated CTEs) over
    * the nation trade graph — identical fixed-round semantics to
    * `Graphs.kCore(k = 3, rounds = 4)`. Every round CTE is MATERIALIZED:
    * DuckDB inlines CTEs by default, and each e_i is consumed three
    * times, so the inlined chain re-evaluates the 4-way fact join
    * O(3^rounds) times — enough to spill the disk dry at sf0.01.
    * Materialization makes the oracle evaluate each round once, exactly
    * like the engine's localCheckpoint. */
  private[graft] def kCoreSql: String = {
    val peels = (1 to 4).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |    SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY node),
         |a$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 3),
         |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN a$i x ON e.u = x.node JOIN a$i y ON e.v = y.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $nationTradeEdgesCtes,
       |e0 AS MATERIALIZED (SELECT u, v FROM kept),
       |$peels
       |SELECT node, count(*) AS degree FROM (
       |  SELECT u AS node FROM e4 UNION ALL SELECT v FROM e4)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** Label-propagation oracle: 3 UNROLLED synchronous rounds (generated
    * MATERIALIZED CTEs — the kCore inlining lesson) over the weighted
    * nation trade graph, identical vote/tie semantics to
    * `Graphs.labelPropagation(rounds = 3)`: max weight-sum, ties to the
    * smallest label, isolated nodes coalesce to themselves. */
  private[graft] def labelPropSql: String =
    s"""WITH $labelPropCtes
       |SELECT node, label AS community FROM l3 ORDER BY node""".stripMargin

  /** The weighted kept-edge CTEs of the trade graph — THE shared
    * fragment of the label-prop and modularity twins (one definition of
    * the w·np ≥ tw cut; an edit here reaches both). */
  private[graft] def tradeKeptwCtes: String =
    s"""$nationTradeEdgesCtes,
       |keptw AS (SELECT CAST(u AS VARCHAR) AS u, CAST(v AS VARCHAR) AS v,
       |    CAST(w AS BIGINT) AS w
       |  FROM wts, tot WHERE w * np >= tw)""".stripMargin

  /** The LP round chain, ending in `l3` (final labels). */
  private[graft] def labelPropCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT s.t AS node, l.label, sum(s.w) AS v
         |  FROM sym s JOIN l${i - 1} l ON s.s = l.node
         |  GROUP BY s.t, l.label),
         |b$i AS MATERIALIZED (SELECT node, label FROM (
         |  SELECT node, label,
         |    row_number() OVER (PARTITION BY node
         |                       ORDER BY v DESC, label) AS rn
         |  FROM v$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (
         |  SELECT n.node, coalesce(b.label, n.node) AS label
         |  FROM nodes n LEFT JOIN b$i b USING (node))""".stripMargin
    }.mkString(",\n")
    s"""$tradeKeptwCtes,
       |sym AS (SELECT u AS s, v AS t, w FROM keptw
       |  UNION ALL SELECT v AS s, u AS t, w FROM keptw),
       |nodes AS (SELECT DISTINCT s AS node FROM sym),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$rounds""".stripMargin
  }

  /** HITS oracle: the Markov edge counts, then 2 UNROLLED authority/hub
    * half-step pairs in the same exact integer mean-normalized arithmetic
    * as `Graphs.hits` — `(raw · |V| · 1e6) // Σraw`, all HUGEINT. CTEs
    * are generated so the iteration count changes in one place. */
  private[graft] def hitsSql: String = {
    val iterCtes = (1 to 2).map { i =>
      s"""ar$i AS (SELECT e.t AS node, sum(CAST(h.h AS HUGEINT) * e.w) AS raw
         |  FROM e JOIN h${i - 1} h ON h.node = e.s GROUP BY e.t),
         |a$i AS (SELECT n.node,
         |    COALESCE((ar.raw * (SELECT count(*) FROM nodes) * 1000000)
         |      // (SELECT sum(raw) FROM ar$i), 0) AS a
         |  FROM nodes n LEFT JOIN ar$i ar ON ar.node = n.node),
         |hr$i AS (SELECT e.s AS node, sum(CAST(a.a AS HUGEINT) * e.w) AS raw
         |  FROM e JOIN a$i a ON a.node = e.t GROUP BY e.s),
         |h$i AS (SELECT n.node,
         |    COALESCE((hr.raw * (SELECT count(*) FROM nodes) * 1000000)
         |      // (SELECT sum(raw) FROM hr$i), 0) AS h
         |  FROM nodes n LEFT JOIN hr$i hr ON hr.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |e AS (SELECT from_type AS s, to_type AS t, count(*) AS w FROM p
       |      WHERE to_type IS NOT NULL GROUP BY s, t),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT s AS node FROM e UNION ALL SELECT t AS node FROM e)),
       |h0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS h FROM nodes),
       |$iterCtes
       |SELECT n.node,
       |  round(CAST(a.a AS DOUBLE) / 1000000.0, 6) + 0.0 AS auth,
       |  round(CAST(h.h AS DOUBLE) / 1000000.0, 6) + 0.0 AS hub
       |FROM nodes n JOIN a2 a ON a.node = n.node JOIN h2 h ON h.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  /** PageRank oracle: the Markov edge counts, then 3 UNROLLED damped
    * iterations in the same exact integer micro-rank arithmetic as
    * `Graphs.pageRank` (floored shares, floored damping mix; 150000 =
    * 1e6·(100−85)/100 — keep in sync with the query's dampingPct). The
    * iteration CTEs are generated, not hand-copied, so iter count changes
    * in one place. */
  /** DuckDB twin of `Graphs.bfsHops(rounds = 4)` over the q_covisit pair
    * graph: 4 UNROLLED min-relaxation rounds. Round CTEs are MATERIALIZED
    * — each d_i is consumed twice (carry + relax) and would otherwise
    * re-inline the whole pair derivation O(2^rounds) times (the kCoreSql
    * lesson). */
  private[graft] def bfsHopsSql: String = {
    val roundCtes = (1 to 4).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, min(hops) AS hops FROM (
         |  SELECT node, hops FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.t AS node, d.hops + 1 AS hops
         |  FROM e JOIN d${i - 1} d ON d.node = e.s) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH bi AS (
       |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
       |sized AS (SELECT bk FROM (
       |  SELECT bk, count(*) AS sz FROM bi GROUP BY bk) WHERE sz <= 10),
       |kept AS MATERIALIZED (SELECT bi.bk, bi.it FROM bi JOIN sized USING (bk)),
       |fp AS MATERIALIZED (
       |  SELECT a.it AS ia, b.it AS ib
       |  FROM kept a JOIN kept b USING (bk) WHERE a.it < b.it
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e AS MATERIALIZED (
       |  SELECT ia AS s, ib AS t FROM fp UNION SELECT ib, ia FROM fp),
       |d0 AS (SELECT DISTINCT p_partkey AS node, CAST(0 AS BIGINT) AS hops
       |  FROM part WHERE p_partkey % 97 = 0),
       |$roundCtes
       |SELECT CAST(node AS BIGINT) AS node, CAST(hops AS BIGINT) AS hops
       |FROM d4 ORDER BY node""".stripMargin
  }

  private[graft] def pageRankSql: String = {
    val iterCtes = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.t AS node, sum((r.r * e.w) // o.wout) AS c
         |  FROM e JOIN r${i - 1} r ON r.node = e.s JOIN outw o ON o.s = e.s
         |  GROUP BY e.t),
         |r$i AS (SELECT n.node, 150000 + (85 * COALESCE(c.c, 0)) // 100 AS r
         |  FROM nodes n LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |e AS (SELECT from_type AS s, to_type AS t, count(*) AS w FROM p
       |      WHERE to_type IS NOT NULL GROUP BY s, t),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT s AS node FROM e UNION ALL SELECT t AS node FROM e)),
       |outw AS (SELECT s, sum(w) AS wout FROM e GROUP BY s),
       |r0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS r FROM nodes),
       |$iterCtes
       |SELECT node, round(r / 1e6, 6) + 0.0 AS rank FROM r3
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------- shared SQL fragments

  /** Whitespace tokens with empties dropped (DuckDB side of
    * TextFunctions.tokens). */
  private[graft] val sqlTokens = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** Retrieval query panel shared by the BM25 / query-likelihood / RRF
    * queries AND their oracles — one definition embedded in both engines
    * (the shared-literal convention). */
  private[graft] val retrievalPanel: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("hash", "join", "vector"),
    1L -> Seq("window", "stream", "batch"),
    2L -> Seq("customer", "slow", "scan"))

  private[graft] val retrievalPanelValues: String = retrievalPanel
    .flatMap { case (q, ts) => ts.map(tm => s"(CAST($q AS BIGINT), '$tm')") }
    .mkString(", ")

  /** DuckDB twin of `TextAnalysis.bm25TopK` up to the ranked CTE —
    * shared by q_bm25_topk and the RRF fusion oracle. The k1+1 constant
    * interpolates from the SAME Scala double the Spark side folds, so
    * both engines multiply by the identical IEEE value. */
  private[graft] val bm25Ctes: String =
    s"""qt(query_id, term) AS (VALUES $retrievalPanelValues),
       |bbase AS (SELECT doc_id AS doc, len($sqlTokens) AS len, $sqlTokens AS toks FROM documents),
       |bstats AS (SELECT count(*) AS n, sum(len) AS tot FROM bbase),
       |bwords AS (SELECT doc, len, unnest(toks) AS term FROM bbase),
       |btf AS (SELECT doc, len, term, count(*) AS tf FROM bwords
       |  WHERE term IN (SELECT term FROM qt) GROUP BY doc, len, term),
       |bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
       |bscored AS (SELECT qt.query_id, btf.doc,
       |    CAST(round(ln(1 + (n - df + 0.5) / (df + 0.5))
       |      * (tf * ${1.2 + 1.0}) / (tf + 1.2 * (1 - 0.75 + 0.75 * len / (CAST(tot AS DOUBLE) / n)))
       |      * 1000000) AS BIGINT) AS c_micro
       |  FROM btf JOIN qt ON btf.term = qt.term JOIN bdf ON btf.term = bdf.term CROSS JOIN bstats),
       |bagg AS (SELECT query_id, doc, CAST(sum(c_micro) AS BIGINT) AS score_micro
       |  FROM bscored GROUP BY query_id, doc),
       |branked AS (SELECT query_id, doc, score_micro,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc) AS rank
       |  FROM bagg)""".stripMargin

  /** DuckDB twin of `TextAnalysis.queryLikelihoodTopK` up to the ranked
    * CTE — expects the shared `qt` panel CTE in scope; shared by
    * q_ql_topk and the ranking-metrics oracle. */
  private[graft] val qlCtes: String =
    s"""qbase AS (SELECT doc_id AS doc, len($sqlTokens) AS len, $sqlTokens AS toks FROM documents),
       |qstats AS (SELECT sum(len) AS tot FROM qbase),
       |qwords AS (SELECT doc, len, unnest(toks) AS term FROM qbase),
       |qfw AS (SELECT doc, len, term FROM qwords WHERE term IN (SELECT term FROM qt)),
       |qtf AS (SELECT doc, len, term, count(*) AS tf FROM qfw GROUP BY doc, len, term),
       |qcf AS (SELECT term, count(*) AS cf FROM qfw GROUP BY term),
       |qq AS (SELECT qt.query_id, qt.term, qcf.cf FROM qt JOIN qcf ON qt.term = qcf.term),
       |qcand AS (SELECT DISTINCT qt.query_id, qtf.doc, qtf.len
       |  FROM qtf JOIN qt ON qtf.term = qt.term),
       |qscored AS (SELECT qcand.query_id, qcand.doc,
       |    CAST(round(ln((coalesce(qtf.tf, 0) + 1000.0 * qq.cf / CAST(tot AS DOUBLE))
       |      / (qcand.len + 1000.0)) * 1000000) AS BIGINT) AS c_micro
       |  FROM qcand JOIN qq ON qcand.query_id = qq.query_id
       |  LEFT JOIN qtf ON qtf.doc = qcand.doc AND qtf.term = qq.term
       |  CROSS JOIN qstats),
       |qagg AS (SELECT query_id, doc, CAST(sum(c_micro) AS BIGINT) AS score_micro
       |  FROM qscored GROUP BY query_id, doc),
       |qranked AS (SELECT query_id, doc, score_micro,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc) AS rank
       |  FROM qagg)""".stripMargin

  /** DuckDB twin of `Multimodal.perceptualHash` — the same 64
    * prime-stride luma samples and strict ×64 mean-threshold bits,
    * generated from one Scala loop for both engines. Valid because the
    * corpus text is ASCII (payload byte k == ascii of char k — the same
    * identity q_multimodal_meta's octet_length oracle relies on). */
  private[graft] val mediaPhashCtes: String = {
    def px(k: Int) =
      s"CASE WHEN length(t) = 0 THEN 0 ELSE ascii(substr(t, 1 + (${k * 7919} % length(t)), 1)) END"
    val sumExpr = (0 until 64).map(px).mkString(" + ")
    def half(lo: Boolean) = (if (lo) 0 until 32 else 32 until 64).map { k =>
      val shift = if (lo) k else k - 32
      s"CASE WHEN ${px(k)} * 64 > psum THEN CAST(1 AS BIGINT) << $shift ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""mt AS (SELECT doc_id, text AS t FROM documents),
       |ms AS (SELECT doc_id, t, ($sumExpr) AS psum FROM mt),
       |ph AS (SELECT doc_id, CAST(${half(lo = false)} AS BIGINT) AS ph_hi,
       |  CAST(${half(lo = true)} AS BIGINT) AS ph_lo FROM ms)""".stripMargin
  }

  /** DuckDB twin of `Similarity.mmrRerank` — the same exact-integer
    * greedy REPLAYED as k unrolled SQL steps (each step: score the
    * remaining candidates against the selected set via a correlated max
    * over the pairwise-sim CTE, take the argmax with ties to the smaller
    * id, append to the selection). Generated from the same (k0, k, λ)
    * literals the Spark query passes. */
  private[graft] def mmrSql(k0: Int, k: Int, lambdaNum: Int): String = {
    val mu = 10 - lambdaNum
    val steps = (1 to k).map { t =>
      val red = if (t == 1) "0"
        else s"(SELECT max(sim_u) FROM pair WHERE a_id = c.vec_id AND b_id IN (SELECT vec_id FROM sel${t - 1}))"
      val notIn = if (t == 1) ""
        else s"WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1}) "
      val s =
        s"""s$t AS (SELECT c.vec_id, $lambdaNum * c.rel_u - $mu * $red AS mmr_u,
           |  CAST($t AS BIGINT) AS rank FROM cand c ${notIn}ORDER BY mmr_u DESC, c.vec_id LIMIT 1)""".stripMargin
      val sel = if (t == 1) "sel1 AS (SELECT vec_id FROM s1)"
        else s"sel$t AS (SELECT vec_id FROM sel${t - 1} UNION ALL SELECT vec_id FROM s$t)"
      s"$s,\n$sel"
    }.mkString(",\n")
    val unions = (1 to k)
      .map(t => s"SELECT rank, vec_id, mmr_u FROM s$t").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |c0 AS (SELECT vec_id, v,
       |  round(list_dot_product(v, qv)
       |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),4) + 0.0 AS cos_sim
       |  FROM e, p WHERE vec_id <> 0),
       |cand0 AS (SELECT vec_id, v, cos_sim FROM c0 ORDER BY cos_sim DESC, vec_id LIMIT $k0),
       |cand AS (SELECT vec_id, CAST(round(cos_sim * 10000) AS BIGINT) AS rel_u FROM cand0),
       |pair AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  CAST(round((round(list_dot_product(a.v, b.v)
       |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),4) + 0.0)
       |    * 10000) AS BIGINT) AS sim_u
       |  FROM cand0 a JOIN cand0 b ON a.vec_id <> b.vec_id),
       |$steps
       |$unions ORDER BY rank""".stripMargin
  }

  /** DuckDB twin of `TextAnalysis.charEntropy` — the 26 letter counts,
    * the fixed a–z fold order, and the algebraic entropy form are all
    * generated from the same Scala sequence the Spark side folds. */
  private[graft] val charEntropySql: String = {
    def cnt(ch: Char) =
      s"(length(t) - length(replace(replace(t, '$ch', ''), '${ch.toUpper}', '')))"
    val letters = ('a' to 'z').toSeq
    val n = letters.map(cnt).mkString(" + ")
    val s = letters.map(ch =>
      s"CASE WHEN ${cnt(ch)} > 0 THEN CAST(${cnt(ch)} AS DOUBLE) * ln(CAST(${cnt(ch)} AS DOUBLE)) ELSE 0.0 END")
      .mkString(" + ")
    s"""WITH lt AS (SELECT doc_id, text AS t FROM documents),
       |c AS (SELECT doc_id, CAST($n AS BIGINT) AS n_letters, ($s) AS s FROM lt)
       |SELECT doc_id, n_letters,
       |  CASE WHEN n_letters > 0
       |    THEN round(ln(CAST(n_letters AS DOUBLE)) - s / CAST(n_letters AS DOUBLE), 4) + 0.0
       |    ELSE NULL END AS char_entropy
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of `centsMoments` — exact integer-cents (n, s1, s2) per
    * event_type, s2 in HUGEINT (DuckDB's sum(BIGINT) default) matching the
    * Spark side's decimal(38,0) reach. One site per engine. */
  private[graft] val momentsStSql: String =
    "SELECT event_type, count(*) AS n, " +
      "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s1, " +
      "sum(CAST(round(value*100) AS BIGINT) * CAST(round(value*100) AS BIGINT)) AS s2 " +
      "FROM events GROUP BY event_type"

  /** DuckDB twin of `varFromMoments`. */
  private[graft] val momentsVarSql: String =
    "CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) " +
      "/ (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000.0"

  private[graft] val BpePatternSql = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  private[graft] val sqlFingerprint =
    "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"

  /** n-gram shingles over `toks` (DuckDB side of TextFunctions.shingles). */
  private[graft] def sqlShingles(toksExpr: String, n: Int): String =
    s"""CASE WHEN len($toksExpr) <= $n THEN [array_to_string($toksExpr, ' ')]
       | ELSE list_transform(generate_series(1, len($toksExpr) - ${n - 1}),
       |        i -> array_to_string(($toksExpr)[i:i+${n - 1}], ' ')) END""".stripMargin

  /** Unrolled DuckDB twin of `Curation.bpeMergeTable`, generated per round
    * so the CTE chain can't drift from the round count: pairs → argmax
    * (count DESC, then lexicographic — the bpeTopPair contract) → greedy
    * left-to-right fold-merge. The fold is `list_reduce` over a space-
    * delimited accumulator (symbols never contain spaces: they come from
    * whitespace tokens), merging when the accumulator's LAST symbol is l
    * and the next is r — exactly Curation.mergeFold's aggregate().
    * Symbols here are alphanumeric, so the last-symbol regex is literal-
    * safe. */
  private[graft] def bpeSqlCtes(rounds: Int): String = {
    def pairs(i: Int) =
      s"""p$i AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(n) AS c
         |  FROM (SELECT syms, n, unnest(generate_series(1, len(syms)-1)) AS i
         |        FROM v${i - 1} WHERE len(syms) >= 2) GROUP BY 1, 2)""".stripMargin
    def best(i: Int) =
      s"b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1)"
    def merge(i: Int) =
      s"""v$i AS (SELECT word, string_split(list_reduce(syms, (acc, x) -> CASE
         |    WHEN regexp_extract(acc, '[^ ]+$$') = b$i.l AND x = b$i.r
         |    THEN CASE WHEN acc = b$i.l THEN b$i.l || b$i.r
         |         ELSE substr(acc, 1, length(acc) - length(b$i.l) - 1)
         |              || ' ' || b$i.l || b$i.r END
         |    ELSE acc || ' ' || x END), ' ') AS syms, n
         |  FROM v${i - 1}, b$i)""".stripMargin
    (Seq(
      s"""wf AS (SELECT word, count(*) AS n
         |  FROM (SELECT unnest($sqlTokens) AS word FROM documents)
         |  GROUP BY 1)""".stripMargin,
      """v0 AS (SELECT word, list_transform(generate_series(1, len(word)),
        |    i -> substr(word, i, 1)) AS syms, n FROM wf)""".stripMargin) ++
      (1 to rounds).flatMap(i => Seq(pairs(i), best(i), merge(i))))
      .mkString(",\n")
  }

  private[graft] def bpeTrainSql(rounds: Int): String = {
    val unions = (1 to rounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round, l AS left_sym, r AS right_sym,
         |  l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM b$i""".stripMargin
    }
    s"WITH ${bpeSqlCtes(rounds)}\n${unions.mkString("\nUNION ALL\n")}\nORDER BY round"
  }

  /** Tokenizer-apply twin: read the vocab AFTER the final unrolled merge
    * round — the same CTE chain q_bpe_train pins, one more hop. */
  private[graft] def bpeSegmentsSql(rounds: Int): String =
    // no outer stripMargin: the embedded CTE text is already stripped, and
    // a second pass would eat the first pipe of its `||` operators
    s"WITH ${bpeSqlCtes(rounds)}\n" +
      "SELECT word, CAST(len(syms) AS BIGINT) AS n_syms,\n" +
      "  array_to_string(syms, ' ') AS seg\n" +
      s"FROM v$rounds ORDER BY word"

  /** Hashed-feature CTE chain shared by q_feature_hash and q_linear_score:
    * md5-lane index mod 256, sign from bit 20 (h // 2^20, ≡ Spark's
    * shiftright), signed-count sum with exact cancellations dropped. */
  private[graft] def featureHashCtes: String =
    s"""tok AS (SELECT doc_id AS doc, unnest($sqlTokens) AS tk FROM documents),
       |h AS (SELECT doc, (${Sketches.kmvHash32Sql("tk")}) AS h FROM tok),
       |f AS (SELECT doc, h % 256 AS feature_idx,
       |        1 - 2 * ((h // 1048576) % 2) AS sign FROM h),
       |fs AS (SELECT doc, feature_idx, sum(sign) AS f_sum
       |       FROM f GROUP BY 1, 2 HAVING sum(sign) <> 0)""".stripMargin

  private[graft] def featureHashSql: String =
    s"""WITH $featureHashCtes
       |SELECT doc, CAST(feature_idx AS BIGINT) AS feature_idx,
       |  CAST(f_sum AS BIGINT) AS f_sum
       |FROM fs ORDER BY doc, feature_idx""".stripMargin

  /** The langid prediction relation WITHOUT a final ORDER BY, so q_kappa
    * can embed the SAME definition as a CTE — one marker table, two
    * consumers, zero drift. */
  private[graft] def langIdCoreSql: String = {
    def score(markers: Seq[String]): String =
      markers.map { m =>
        val esc = m.replace("'", "''")
        s"CAST((length(padded) - length(replace(padded, '$esc', ''))) / ${m.length} AS INT)"
      }.mkString(" + ")
    val scored = TextFunctions.LangMarkers.map { case (lang, ms) => lang -> score(ms) }
    val selects = scored.map { case (lang, e) => s"($e) AS s_$lang" }.mkString(", ")
    val langs = scored.map(_._1)
    val branches = langs.init.zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
      s"WHEN $later THEN '$lang'"
    }
    s"""SELECT doc_id, CASE ${branches.mkString(" ")} ELSE '${langs.last}' END AS lang_pred
       |FROM (SELECT doc_id, $selects
       |      FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS padded FROM documents))""".stripMargin
  }

  private[graft] def langIdSql: String =
    langIdCoreSql + "\nORDER BY doc_id"

  private[graft] def qualitySql: String = {
    val stop = TextFunctions.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       | round(punct_ratio, 6) AS punct_ratio,
       | round(stop_ratio, 6) AS stopword_ratio,
       | round(least(n_words / 100.0, 1.0) * 0.4 + (1.0 - punct_ratio) * 0.3
       |       + stop_ratio * 0.3, 6) AS quality
       |FROM (
       |  SELECT doc_id, n_words, n_punct / greatest(n_chars, 1.0) AS punct_ratio,
       |         n_stop / greatest(n_words, 1.0) AS stop_ratio
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len($sqlTokens) AS DOUBLE) AS n_words,
       |      CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS n_punct,
       |      CAST(len(list_filter(list_filter(string_split(lower(text), ' '), x -> x <> ''),
       |             x -> list_contains([$stop], x))) AS DOUBLE) AS n_stop,
       |      CAST(length(text) AS DOUBLE) AS n_chars
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-language percentile cut — qualitySql wrapped, threshold via
    * quantile_cont (DuckDB's linear-interpolation percentile == Spark's
    * exact `percentile`). */
  private[graft] def qualityCutSql: String =
    s"""WITH q AS (
       |  SELECT qq.doc_id, d.lang AS grp, qq.quality
       |  FROM (${qualitySql}) qq JOIN documents d USING (doc_id)),
       |th AS (
       |  SELECT grp, round(quantile_cont(quality, 0.75), 4) + 0.0 AS q_thresh
       |  FROM q GROUP BY grp)
       |SELECT q.doc_id, q.grp, q.quality, th.q_thresh
       |FROM q JOIN th USING (grp)
       |WHERE q.quality >= th.q_thresh
       |ORDER BY q.doc_id""".stripMargin

  /** Decile twin of [[qualityCutSql]]: nine quantile_cont thresholds
    * (rounded 4 dp + 0.0, the cut's parity convention) and the same
    * ≥-compare, summed into a bin index. */
  private[graft] def qualityDecilesSql: String = {
    val ths = (1 to 9)
      .map(i => s"round(quantile_cont(quality, 0.$i), 4) + 0.0 AS t$i")
      .mkString(", ")
    val cases = (1 to 9)
      .map(i => s"(CASE WHEN q.quality >= th.t$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH q AS (
       |  SELECT qq.doc_id, d.lang AS grp, qq.quality
       |  FROM (${qualitySql}) qq JOIN documents d USING (doc_id)),
       |th AS (
       |  SELECT grp, $ths
       |  FROM q GROUP BY grp)
       |SELECT q.doc_id, q.grp, q.quality,
       |  CAST(1 + $cases AS BIGINT) AS decile
       |FROM q JOIN th USING (grp)
       |ORDER BY q.doc_id""".stripMargin
  }

  /** Per-source data card — integer micro-unit sums and the one-pass
    * entropy form, mirroring TextAnalysis.corpusStats exactly. */
  private[graft] def corpusStatsSql: String =
    s"""WITH q AS (
       |  SELECT qq.doc_id, qq.n_words, qq.quality, d.source, d.lang
       |  FROM (${qualitySql}) qq JOIN documents d USING (doc_id)),
       |pl AS (
       |  SELECT source, lang, count(*) AS c,
       |    CAST(sum(n_words) AS BIGINT) AS tok,
       |    CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS BIGINT) AS qm
       |  FROM q GROUP BY source, lang),
       |t AS (
       |  SELECT source, c, tok, qm,
       |    CAST(round(c * ln(c) * 1000000) AS BIGINT) AS ent_micro
       |  FROM pl)
       |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_langs,
       |  round(sum(qm) / 1000000.0 / sum(c), 4) AS avg_quality,
       |  round(ln(sum(c)) - sum(ent_micro) / 1000000.0 / sum(c), 4) AS lang_entropy
       |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** Batched exact top-k — the window form the TopKHits aggregate
    * replaces at scale; per-probe ordering matches the aggregate's
    * (cos DESC, vec_id ASC) contract. */
  private[graft] def simTopkBatchSql: String =
    """WITH p AS (
      |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS q
      |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
      |s AS (
      |  SELECT p.probe_id, e.vec_id,
      |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.q)
      |      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
      |         * sqrt(list_dot_product(p.q, p.q))), 4) + 0.0 AS cos_sim
      |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
      |r AS (
      |  SELECT probe_id, vec_id, cos_sim,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rnk
      |  FROM s)
      |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cos_sim FROM r
      |WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin

  /** DuckDB twin of `Similarity.binarySignPack`'s 32-bit half `half` (0 =
    * dims 0–31, 1 = dims 32–63): 32 CASE-OR terms, generated so the bit
    * layout can never drift from the Scala packer. */
  private[graft] def signPackSql(half: Int): String =
    (half * 32 until half * 32 + 32).map { i =>
      s"(CASE WHEN embedding[${i + 1}] > 0 THEN CAST(${1L << (i - half * 32)} AS BIGINT) ELSE 0 END)"
    }.mkString(" | ")

  /** Binary-tier Hamming top-k twin: same packed halves, bit_count(xor)
    * distance, per-probe (distance ASC, vec_id ASC) ranking — the window
    * form of the TopKHits contract at similarity = 64 − d. */
  private[graft] def hammingTopkSql: String =
    s"""WITH pk AS (
       |  SELECT vec_id, ${signPackSql(0)} AS lo, ${signPackSql(1)} AS hi
       |  FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, lo AS q_lo, hi AS q_hi
       |      FROM pk WHERE vec_id IN (0, 1, 2)),
       |s AS (
       |  SELECT p.probe_id, e.vec_id,
       |    CAST(bit_count(xor(e.lo, p.q_lo)) + bit_count(xor(e.hi, p.q_hi)) AS BIGINT) AS d
       |  FROM pk e, p WHERE e.vec_id <> p.probe_id),
       |r AS (
       |  SELECT probe_id, vec_id, d,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY d, vec_id) AS rnk
       |  FROM s)
       |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, vec_id, d AS hamming
       |FROM r WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin

  /** Matryoshka recall twin: full-dim and first-16-dim ranked arms share
    * the sim_topk_batch shape; recall joins the two rank-≤10 sets. */
  private[graft] def matryoshkaSql: String =
    """WITH p AS (
      |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS q,
      |         CAST(embedding[1:16] AS DOUBLE[]) AS qs
      |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 500),
      |e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         CAST(embedding[1:16] AS DOUBLE[]) AS vs
      |  FROM embeddings),
      |sf AS (
      |  SELECT p.probe_id, e.vec_id,
      |    round(list_dot_product(e.v, p.q)
      |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.q, p.q))), 4) + 0.0 AS c
      |  FROM e, p WHERE e.vec_id <> p.probe_id),
      |st AS (
      |  SELECT p.probe_id, e.vec_id,
      |    round(list_dot_product(e.vs, p.qs)
      |      / (sqrt(list_dot_product(e.vs, e.vs)) * sqrt(list_dot_product(p.qs, p.qs))), 4) + 0.0 AS c
      |  FROM e, p WHERE e.vec_id <> p.probe_id),
      |rf AS (SELECT probe_id, vec_id,
      |         row_number() OVER (PARTITION BY probe_id ORDER BY c DESC, vec_id) AS rnk
      |       FROM sf),
      |rt AS (SELECT probe_id, vec_id,
      |         row_number() OVER (PARTITION BY probe_id ORDER BY c DESC, vec_id) AS rnk
      |       FROM st),
      |m AS (
      |  SELECT rf.probe_id, count(*) AS n_match
      |  FROM rf JOIN rt ON rf.probe_id = rt.probe_id AND rf.vec_id = rt.vec_id
      |  WHERE rf.rnk <= 10 AND rt.rnk <= 10 GROUP BY 1)
      |SELECT p.probe_id,
      |  CAST(coalesce(m.n_match, 0) AS BIGINT) AS n_match,
      |  CAST((10000 * coalesce(m.n_match, 0)) // 10 AS BIGINT) AS recall_bp
      |FROM p LEFT JOIN m ON p.probe_id = m.probe_id
      |ORDER BY p.probe_id""".stripMargin

  /** Hard-negative twin: the batch top-k shape with the different-label
    * candidate restriction pushed into the scored CTE. */
  private[graft] def hardNegativesSql: String =
    """WITH p AS (
      |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS q, label AS pl
      |  FROM embeddings WHERE vec_id IN (0, 5, 10, 15, 20)),
      |s AS (
      |  SELECT p.probe_id, e.vec_id, CAST(e.label AS BIGINT) AS neg_label,
      |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.q)
      |      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
      |         * sqrt(list_dot_product(p.q, p.q))), 4) + 0.0 AS cos_sim
      |  FROM embeddings e, p WHERE e.label <> p.pl AND e.vec_id <> p.probe_id),
      |r AS (
      |  SELECT probe_id, vec_id, neg_label, cos_sim,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rnk
      |  FROM s)
      |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, vec_id, neg_label, cos_sim
      |FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** The classifier both kNN queries evaluate — ONE definition, so the
    * confusion matrix can never drift from the classifier it grades (the
    * SQL side shares the same way: q_knn_confusion wraps knnClassifySql).
    * FIXED-SIZE probe panel (≤ 50 at any SF): a probe set growing with
    * the corpus would make the exact scan quadratic (measured 63× for
    * 10× data with `% 10` alone); corpus-sized probe sets belong on the
    * stored IVF index, as the operator's scaladoc prescribes. */
  private[graft] def knnPanelClassify(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    Similarity.knnClassify(emb, "embedding", "vec_id", "label",
      emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500)
        .select(col("vec_id").as("probe_id"), col("embedding").as("q_vec")),
      k = 5)
  }

  /** kNN vote twin: [[simTopkBatchSql]]'s scored-neighbor shape over the
    * `vec_id % 10 = 0` probe set, then a majority vote with the engine's
    * (votes DESC, label ASC) tie-break. */
  private[graft] def knnClassifySql: String =
    """WITH p AS (
      |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS q
      |  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 500),
      |s AS (
      |  SELECT p.probe_id, e.vec_id,
      |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.q)
      |      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
      |         * sqrt(list_dot_product(p.q, p.q))), 4) + 0.0 AS cos_sim
      |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
      |r AS (
      |  SELECT probe_id, vec_id,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rnk
      |  FROM s),
      |h AS (SELECT r.probe_id, e.label FROM r JOIN embeddings e USING (vec_id)
      |      WHERE rnk <= 5),
      |v AS (SELECT probe_id, label, count(*) AS n_votes FROM h GROUP BY 1, 2),
      |w AS (SELECT probe_id, CAST(label AS BIGINT) AS pred_label,
      |        CAST(n_votes AS BIGINT) AS n_votes,
      |        row_number() OVER (PARTITION BY probe_id
      |          ORDER BY n_votes DESC, label) AS vr
      |      FROM v)
      |SELECT w.probe_id, w.pred_label, w.n_votes,
      |  CAST(e.label AS BIGINT) AS true_label,
      |  w.pred_label = CAST(e.label AS BIGINT) AS correct
      |FROM w JOIN embeddings e ON e.vec_id = w.probe_id
      |WHERE vr = 1 ORDER BY w.probe_id""".stripMargin

  /** Distinct (doc, shingle) rows shared by the jaccard/minhash oracles. */
  private[graft] def shinglesCte: String =
    s"""toks AS (SELECT doc_id, $sqlTokens AS tk FROM documents),
       |sh AS (SELECT DISTINCT doc_id AS doc, unnest(
       |  CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
       |       ELSE list_transform(generate_series(1, len(tk) - 2),
       |              i -> array_to_string(tk[i:i+2], ' ')) END) AS shingle FROM toks),
       |sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc)""".stripMargin

  /** Mirrors Dedup.ngramJaccardPairs exactly: candidate pairs arise only
    * through shingles with df <= maxDf (the skew cut); the intersection
    * count splits into the rare part (from the self-join itself) plus the
    * hot remainder counted per candidate pair, so reported jaccard values
    * are exact over the FULL shingle sets. */
  /** Shared CTE prefix of the exact n-gram pair family — mirrors
    * `Dedup.ngramIntersections` (candidates, df-cut, exact intersection). */
  private[graft] def ngramInterCtes: String =
    s"""$shinglesCte,
       |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
       |rare AS (SELECT doc, sh.shingle FROM sh JOIN dfreq ON sh.shingle = dfreq.shingle
       |         WHERE df <= 100),
       |hot AS (SELECT doc, sh.shingle FROM sh JOIN dfreq ON sh.shingle = dfreq.shingle
       |        WHERE df > 100),
       |inter_rare AS (
       |  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_rare
       |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc < b.doc
       |  GROUP BY 1, 2),
       |inter_hot AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_hot
       |  FROM inter_rare c JOIN hot a ON a.doc = c.id_a JOIN hot b ON b.doc = c.id_b
       |  WHERE a.shingle = b.shingle GROUP BY 1, 2),
       |inter AS (
       |  SELECT r.id_a, r.id_b, r.n_rare + coalesce(h.n_hot, 0) AS n_inter
       |  FROM inter_rare r LEFT JOIN inter_hot h ON r.id_a = h.id_a AND r.id_b = h.id_b)""".stripMargin

  private[graft] def ngramJaccardSql: String =
    s"""WITH $ngramInterCtes
       |SELECT id_a, id_b,
       | round(CAST(n_inter AS DOUBLE) / (x.n_sh + y.n_sh - n_inter),4) AS jaccard
       |FROM inter JOIN sz x ON id_a = x.doc JOIN sz y ON id_b = y.doc
       |WHERE round(CAST(n_inter AS DOUBLE) / (x.n_sh + y.n_sh - n_inter),4) >= 0.2
       |ORDER BY id_a, id_b""".stripMargin

  private[graft] def ngramContainmentSql: String =
    s"""WITH $ngramInterCtes
       |SELECT id_a, id_b,
       | round(CAST(n_inter AS DOUBLE) / least(x.n_sh, y.n_sh),4) AS containment
       |FROM inter JOIN sz x ON id_a = x.doc JOIN sz y ON id_b = y.doc
       |WHERE round(CAST(n_inter AS DOUBLE) / least(x.n_sh, y.n_sh),4) >= 0.2
       |ORDER BY id_a, id_b""".stripMargin

  /** IVF quantizer oracle: centroids = the 8 lowest-id vectors (the same
    * deterministic seeding the engine uses); argmax by rounded cosine with
    * ties to the smaller centroid id — row_number here, max(struct) in the
    * engine, equivalent orderings. */
  private[graft] def ivfAssignCtes: String = ivfAssignCtesK("8")

  /** The scaled-k twin: k = ⌊√n⌋ clamped to [8, 65536] — the SQL form of
    * `Similarity.defaultCells` (both engines floor the same IEEE-754
    * sqrt of the same exact count, so k is identical). */
  private[graft] def scaledCellsExpr: String =
    """(SELECT greatest(8, least(65536,
      |   CAST(floor(sqrt(count(*))) AS BIGINT))) FROM embeddings)"""
      .stripMargin

  private[graft] def ivfAssignCtesK(kExpr: String): String =
    ivfAssignCtesKN(kExpr, 1)

  /** The multi-assignment generalization: `assign` keeps each vector's
    * top `nAssign` cells (rn ≤ n) instead of only the argmax — the twin
    * of `Similarity.ivfAssignMulti`. nAssign = 1 is the classic form.
    *
    * NaN contract: the nAssign > 1 ranking filters `NOT isnan(cs)`
    * BEFORE row_number, because the engine's bounded TopKHits aggregate
    * drops NaN hits outright (a NaN, once admitted, could never be
    * displaced — arrival-order dependence). So a zero-norm CENTROID's
    * cell is never assigned, and a zero-norm VECTOR receives no cells
    * on either engine. The nAssign = 1 path keeps the repo's
    * single-assignment convention instead (row_number ranks NaN FIRST,
    * matching the engine's max(struct) ordering) — the two conventions
    * agree on NaN-free input and each is engine-exact on its own lane. */
  private[graft] def ivfAssignCtesKN(kExpr: String, nAssign: Int): String = {
    val nanGuard = if (nAssign > 1) " WHERE NOT isnan(cs)" else ""
    s"""c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      |       FROM embeddings WHERE vec_id < $kExpr),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      |scored AS (
      |  SELECT v.vec_id, cid,
      |    round(list_dot_product(vv, cv)
      |      / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))),4) AS cs
      |  FROM v, c),
      |assign AS (
      |  SELECT vec_id, cid, cs FROM (
      |    SELECT vec_id, cid, cs,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
      |    FROM scored$nanGuard) WHERE rn <= $nAssign)""".stripMargin
  }

  private[graft] def ivfAssignSql: String =
    s"""WITH $ivfAssignCtes
       |SELECT vec_id, cid AS centroid_id, cs + 0.0 AS cos_sim FROM assign
       |ORDER BY vec_id""".stripMargin

  /** kNN-graph oracle, parameterized on the quantizer cell count
    * expression (a literal for the pinned k=8 variant, the
    * [[scaledCellsExpr]] subquery for the production ⌊√n⌋ one). */
  private[graft] def knnGraphSql(kExpr: String): String =
    s"""WITH ${ivfAssignCtesK(kExpr)},
       |n AS (SELECT a.vec_id, a.cid, v.vv, sqrt(list_dot_product(v.vv, v.vv)) AS nrm
       |      FROM assign a JOIN v ON a.vec_id = v.vec_id),
       |p AS (SELECT x.vec_id AS src, y.vec_id AS dst,
       |    round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm), 4) AS cs
       |  FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id <> y.vec_id),
       |r AS (SELECT src, dst, cs,
       |    row_number() OVER (PARTITION BY src ORDER BY cs DESC, dst) AS rnk
       |  FROM p)
       |SELECT src, CAST(rnk AS BIGINT) AS rnk, dst, cs + 0.0 AS cos_sim
       |FROM r WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  /** Multi-probe kNN-graph oracle — the twin of
    * `Similarity.knnGraphMulti(nProbe)`: the corpus side keeps its
    * argmax cell over the UNFILTERED scores (`a1`, rn = 1, NaN-first —
    * the single-assignment convention `ivfAssign` uses), while the
    * probe side is the NaN-dropping top-nProbe `assign` of
    * [[ivfAssignCtesKN]]. A (src, dst) pair arises at most once (dst
    * lives in one corpus cell, src's probed cells are distinct), and
    * pair cosines NaN-drop before ranking — the engine's TopKHits
    * contract made explicit. Exactness precondition: no corpus cell
    * above the engine's maxCell = 8192 guard (see
    * [[semDedupMultiSql]]). */
  private[graft] def knnGraphMultiSql(kExpr: String, nProbe: Int): String =
    s"""WITH ${ivfAssignCtesKN(kExpr, nProbe)},
       |a1 AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
       |    FROM scored) WHERE rn = 1),
       |nb AS (SELECT a.vec_id, a.cid, v.vv, sqrt(list_dot_product(v.vv, v.vv)) AS nrm
       |      FROM a1 a JOIN v ON a.vec_id = v.vec_id),
       |na AS (SELECT a.vec_id, a.cid, v.vv, sqrt(list_dot_product(v.vv, v.vv)) AS nrm
       |      FROM assign a JOIN v ON a.vec_id = v.vec_id),
       |p AS (SELECT * FROM (
       |    SELECT x.vec_id AS src, y.vec_id AS dst,
       |      round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm), 4) AS cs
       |    FROM na x JOIN nb y ON x.cid = y.cid AND x.vec_id <> y.vec_id)
       |  WHERE NOT isnan(cs)),
       |r AS (SELECT src, dst, cs,
       |    row_number() OVER (PARTITION BY src ORDER BY cs DESC, dst) AS rnk
       |  FROM p)
       |SELECT src, CAST(rnk AS BIGINT) AS rnk, dst, cs + 0.0 AS cos_sim
       |FROM r WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  /** Multi-assignment in-cell pair oracle — the twin of
    * `Similarity.ivfNearDupPairsMulti(nAssign = 2)` at production k:
    * pairs form in ANY shared top-2 cell, DISTINCT collapses the
    * double-cell duplicates, and NaN cosines drop (the engine's pair
    * filter). Exactness precondition: no cell above maxCell = 8192
    * (see [[semDedupMultiSql]]). */
  private[graft] def ivfPairsMultiSql: String =
    s"""WITH ${ivfAssignCtesKN(scaledCellsExpr, 2)},
       |n AS (SELECT a.vec_id, a.cid, v.vv, sqrt(list_dot_product(v.vv, v.vv)) AS nrm
       |      FROM assign a JOIN v ON a.vec_id = v.vec_id),
       |px AS (SELECT * FROM (
       |    SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |      round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm),4) AS cos_sim
       |    FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id < y.vec_id)
       |  WHERE NOT isnan(cos_sim) AND cos_sim >= 0.35)
       |SELECT DISTINCT id_a, id_b, cos_sim FROM px
       |ORDER BY id_a, id_b""".stripMargin

  /** 2-iteration Lloyd refinement — the oracle twin of
    * `Similarity.kmeansCentroids(k = 8, iters = 2)`. Each round: argmax
    * assignment by rounded cosine (ties to the smaller centroid id), then
    * per-(cell, dimension) means rounded to 4 dp and passed THROUGH FLOAT
    * (`CAST(... AS FLOAT)`) exactly as `centroidsFromRefit` narrows them,
    * so both engines run round 2 on bit-identical centroids. An emptied
    * cell carries its previous centroid forward (COALESCE) — the engine's
    * explicit k-stays-k contract. Ends with `cf` = refined centroids and
    * `af` = the final assignment over them. */
  private[graft] def ivfRefined2Ctes: String = {
    def lloydRound(i: Int, cin: String, cout: String): String =
      s"""sc$i AS (
         |  SELECT v.vec_id, cid,
         |    round(list_dot_product(vv, cv)
         |      / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))),4) AS cs
         |  FROM v, $cin),
         |a$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |    FROM sc$i) WHERE rn = 1),
         |m$i AS (
         |  SELECT a.cid, d.i AS i,
         |    CAST(CAST(round(avg(vv[d.i]), 4) + 0.0 AS FLOAT) AS DOUBLE) AS mv
         |  FROM a$i a JOIN v ON a.vec_id = v.vec_id
         |  CROSS JOIN dims d WHERE d.i <= len(vv)
         |  GROUP BY a.cid, d.i),
         |r$i AS (SELECT cid, list(mv ORDER BY i) AS cv FROM m$i GROUP BY cid),
         |$cout AS (SELECT c.cid, COALESCE(r.cv, c.cv) AS cv
         |  FROM $cin c LEFT JOIN r$i r ON c.cid = r.cid)""".stripMargin
    s"""c0 AS (
       |  SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings WHERE vec_id < 8),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1,
       |  (SELECT max(len(vv)) FROM v))) AS i),
       |${lloydRound(0, "c0", "c1")},
       |${lloydRound(1, "c1", "cf")},
       |scf AS (
       |  SELECT v.vec_id, cid,
       |    round(list_dot_product(vv, cv)
       |      / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))),4) + 0.0 AS cs
       |  FROM v, cf),
       |af AS (
       |  SELECT vec_id, cid, cs FROM (
       |    SELECT vec_id, cid, cs,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
       |    FROM scf) WHERE rn = 1)""".stripMargin
  }

  private[graft] def ivfAssign2Sql: String =
    s"""WITH $ivfRefined2Ctes
       |SELECT vec_id, CAST(cid AS BIGINT) AS centroid_id, cs AS cos_sim
       |FROM af ORDER BY vec_id""".stripMargin

  /** Recall@10 of the IVF probe against the exact scan, per nprobe —
    * the same probe/exact kernels as `ivfTopKSql`/the q_sim_topk oracle,
    * intersected; one UNION ALL arm per nprobe setting. */
  private[graft] def annRecallSql: String = {
    def arm(np: Int): String =
      s"""SELECT CAST($np AS BIGINT) AS nprobe, k.k, h.n_hit,
         |  round(CAST(h.n_hit AS DOUBLE) / k.k, 4) + 0.0 AS recall
         |FROM
         |  (SELECT CAST(count(*) AS BIGINT) AS k FROM exact) k,
         |  (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM exact e
         |   WHERE e.vec_id IN (
         |     SELECT a.vec_id FROM assign a
         |     JOIN (SELECT cid FROM (
         |         SELECT cid, round(list_dot_product(cv, qv)
         |           / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))),4) AS c_sim
         |         FROM c, q ORDER BY c_sim DESC, cid LIMIT $np)) p ON a.cid = p.cid
         |     JOIN v ON v.vec_id = a.vec_id CROSS JOIN q
         |     WHERE a.vec_id <> 0
         |     ORDER BY round(list_dot_product(vv, qv)
         |       / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(qv, qv))),4) DESC, a.vec_id
         |     LIMIT 10)) h""".stripMargin
    s"""WITH $ivfAssignCtes,
       |q AS (SELECT vv AS qv FROM v WHERE vec_id = 0),
       |exact AS (
       |  SELECT vec_id FROM v CROSS JOIN q WHERE vec_id <> 0
       |  ORDER BY round(list_dot_product(vv, qv)
       |    / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(qv, qv))),4) DESC, vec_id
       |  LIMIT 10)
       |${arm(1)}
       |UNION ALL
       |${arm(2)}
       |ORDER BY nprobe""".stripMargin
  }

  /** Probe over the refined index: the 2 refined centroids most similar
    * to the query vector, then exact rank within their cells — mirrors
    * `ivfTopKSql` with `cf`/`af` in place of the seeded assignment. */
  private[graft] def ivfTopK2Sql: String =
    s"""WITH $ivfRefined2Ctes,
       |q AS (SELECT vv AS qv FROM v WHERE vec_id = 0),
       |pcells AS (
       |  SELECT cid FROM (
       |    SELECT cid,
       |      round(list_dot_product(cv, qv)
       |        / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))),4) AS c_sim
       |    FROM cf, q
       |    ORDER BY c_sim DESC, cid LIMIT 2)),
       |cand AS (
       |  SELECT a.vec_id, v.vv FROM af a
       |  JOIN pcells p ON a.cid = p.cid
       |  JOIN v ON v.vec_id = a.vec_id
       |  WHERE a.vec_id <> 0)
       |SELECT vec_id,
       | round(list_dot_product(vv, qv)
       |   / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(qv, qv))),4) + 0.0 AS cos_sim
       |FROM cand, q
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** One Lloyd refit step: per-cell per-dimension member means. Lateral
    * generate_series gives DuckDB the posexplode; pos is 0-based on both
    * sides. avg runs in double on both engines (float→double is exact). */
  private[graft] def ivfRefitSql: String =
    s"""WITH $ivfAssignCtes,
       |dims AS (SELECT unnest(generate_series(1,
       |  (SELECT max(len(vv)) FROM v))) AS i),
       |member AS (
       |  SELECT a.cid AS centroid_id, d.i - 1 AS pos, vv[d.i] AS x
       |  FROM assign a JOIN v ON a.vec_id = v.vec_id
       |  CROSS JOIN dims d WHERE d.i <= len(vv))
       |SELECT centroid_id, pos, round(avg(x), 4) + 0.0 AS mean_val,
       |  count(*) AS n_members
       |FROM member GROUP BY centroid_id, pos
       |ORDER BY centroid_id, pos""".stripMargin

  private[graft] def ivfPairsSql: String = ivfPairsSqlK("8")

  private[graft] def ivfPairsSqlK(kExpr: String): String =
    s"""WITH ${ivfAssignCtesK(kExpr)},
       |n AS (SELECT a.vec_id, a.cid, v.vv, sqrt(list_dot_product(v.vv, v.vv)) AS nrm
       |      FROM assign a JOIN v ON a.vec_id = v.vec_id)
       |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       | round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm),4) AS cos_sim
       |FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |WHERE round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm),4) >= 0.35
       |ORDER BY id_a, id_b""".stripMargin

  /** SemDeDup oracle: drop every vector with a smaller-id in-cell
    * neighbor at cosine ≥ 0.35 (same cells + pair kernel as
    * `ivfPairsSql`); what's left is the kept set. */
  private[graft] def semDedupSql: String = semDedupSqlK("8")

  /** Multi-assignment SemDeDup oracle: each vector sits in its top-2
    * cells (rn ≤ 2), pairs form in ANY shared cell, DISTINCT collapses
    * the double-cell duplicates — the twin of
    * `Similarity.semDedupMulti(nAssign = 2)` at production k.
    *
    * Exactness precondition (shared by every blocked-pair twin in this
    * family): no cell may exceed the engine's hot-cell guard
    * (maxCell = 8192 rows) — the engine sub-splits oversized cells by
    * id hash and skips cross-sub-cell pairs, while this twin joins full
    * cells. Gate-scale corpora sit orders of magnitude under the cap
    * (≤ 2k vectors over ⌊√n⌋ cells); `SimilaritySpec` asserts it via
    * `oversizedCells` at sf0.01. */
  private[graft] def semDedupMultiSql: String =
    s"""WITH ${ivfAssignCtesKN(scaledCellsExpr, 2)},
       |n AS (SELECT a.vec_id, a.cid, v.vv, sqrt(list_dot_product(v.vv, v.vv)) AS nrm
       |      FROM assign a JOIN v ON a.vec_id = v.vec_id),
       |dup AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm),4) >= 0.35)
       |SELECT v.vec_id AS vec_id FROM v LEFT JOIN dup d ON v.vec_id = d.vec_id
       |WHERE d.vec_id IS NULL
       |ORDER BY v.vec_id""".stripMargin

  /** Hierarchical-quantizer SemDeDup oracle — the unrolled twin of
    * `Similarity.treeAssign(branch = 16, maxLeaf = 64, maxDepth = 4)` +
    * the in-leaf keep rule. Each unrolled level mirrors one loop
    * iteration exactly: cells with population > maxLeaf pick their 16
    * lowest-id members as seeds (row_number here, the bounded TopKHits
    * aggregate in the engine — same set), members re-assign by rounded
    * cosine argmax with ties to the smaller seed id (row_number here,
    * max(struct) there), non-split cells carry forward via the left-join
    * COALESCE. A level where nothing splits is an identity pass on both
    * sides (the engine breaks its loop; here the seed CTE is empty), so
    * a fixed 4-level unroll equals the engine's early-exit loop.
    *
    * Exactness precondition: no LEAF may exceed the engine's hot-cell
    * guard (maxCell = 8192) — see [[semDedupMultiSql]]'s note; the
    * tree's documented degenerate case (a cell of near-identical
    * vectors that never shrinks stops at maxDepth arbitrarily large)
    * is the reachable path, so `SimilaritySpec` asserts leaf sizes via
    * `oversizedCells` at sf0.01. */
  /** Depth of the fixed tree unrolls (matches the engine's default
    * maxDepth = 4); the final-level relation is `a4`. */
  private[graft] val treeDepth = 4

  /** The single-path tree CTE chain (v, a0 … a4) shared by every
    * tree-blocked twin — semantics documented at [[semDedupTreeSql]]. */
  private[graft] def treeLevelCtes: String = {
    val branch = 16; val maxLeaf = 64
    def level(i: Int): String =
      s"""p$i AS (SELECT cell FROM a$i GROUP BY cell HAVING count(*) > $maxLeaf),
         |s$i AS (SELECT cell, sid, sv FROM (
         |    SELECT a.cell, a.vec_id AS sid, a.vv AS sv,
         |      row_number() OVER (PARTITION BY a.cell ORDER BY a.vec_id) AS rn
         |    FROM a$i a JOIN p$i p ON a.cell = p.cell) WHERE rn <= $branch),
         |b$i AS (SELECT vec_id, ncell FROM (
         |    SELECT a.vec_id, a.cell || '-' || CAST(s.sid AS VARCHAR) AS ncell,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        round(list_dot_product(a.vv, s.sv)
         |          / (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(s.sv, s.sv))),4) DESC,
         |        s.sid) AS rn
         |    FROM a$i a JOIN s$i s ON a.cell = s.cell) WHERE rn = 1),
         |a${i + 1} AS (SELECT a.vec_id, a.vv, coalesce(b.ncell, a.cell) AS cell
         |  FROM a$i a LEFT JOIN b$i b ON a.vec_id = b.vec_id)""".stripMargin
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |a0 AS (SELECT vec_id, vv, 'r' AS cell FROM v),
       |${(0 until treeDepth).map(level).mkString(",\n")}""".stripMargin
  }

  private[graft] def semDedupTreeSql: String =
    s"""WITH $treeLevelCtes,
       |n AS (SELECT vec_id, cell, vv,
       |      sqrt(list_dot_product(vv, vv)) AS nrm FROM a$treeDepth),
       |dup AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM n x JOIN n y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm),4) >= 0.35)
       |SELECT v.vec_id AS vec_id FROM v LEFT JOIN dup d ON v.vec_id = d.vec_id
       |WHERE d.vec_id IS NULL
       |ORDER BY v.vec_id""".stripMargin

  /** Tree-blocked kNN graph twin ([[treeLevelCtes]] leaves as the cells,
    * the `knnGraphSql` ranking; NaN pair cosines drop — the engine's
    * TopKHits contract). */
  private[graft] def knnGraphTreeSql: String =
    s"""WITH $treeLevelCtes,
       |n AS (SELECT vec_id, cell, vv,
       |      sqrt(list_dot_product(vv, vv)) AS nrm FROM a$treeDepth),
       |p AS (SELECT * FROM (
       |    SELECT x.vec_id AS src, y.vec_id AS dst,
       |      round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm), 4) AS cs
       |    FROM n x JOIN n y ON x.cell = y.cell AND x.vec_id <> y.vec_id)
       |  WHERE NOT isnan(cs)),
       |r AS (SELECT src, dst, cs,
       |    row_number() OVER (PARTITION BY src ORDER BY cs DESC, dst) AS rnk
       |  FROM p)
       |SELECT src, CAST(rnk AS BIGINT) AS rnk, dst, cs + 0.0 AS cos_sim
       |FROM r WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  /** Shadow-augmented hierarchical SemDeDup oracle — the unrolled twin
    * of `Similarity.semDedupTreeMulti(branch = 16, maxLeaf = 64,
    * maxDepth = 4)`. Each level extends [[semDedupTreeSql]]'s unroll
    * with the shadow rule: populations and seeds count PRIMARY rows
    * only (`sh = 0` — the tree structure is the single lane's exactly),
    * every splitting MEMBERSHIP follows its rn = 1 child, and primaries
    * additionally spawn one frozen shadow at their rn = 2 child
    * (shadows never spawn — memberships stay ≤ 1 + depth per vector).
    * The rn ranking here is the bare (cs DESC, sid) row_number — NaN
    * first, like the single lane — which the engine reproduces inside
    * its NaN-dropping bounded aggregate by mapping NaN → +Infinity.
    * Pair stage: every membership pairs within its cell, DISTINCT
    * collapses pairs co-resident in more than one cell, NaN cosines
    * drop (the engine's pair filter). Exactness preconditions as
    * [[semDedupTreeSql]] (no leaf above maxCell = 8192). */
  /** The shadow-augmented tree CTE chain (v, a0 … a4 with `sh` flags)
    * shared by the tree×multi twins — semantics documented at
    * [[semDedupTreeMultiSql]]. */
  private[graft] def treeMultiLevelCtes: String = {
    val branch = 16; val maxLeaf = 64; val depth = treeDepth
    def level(i: Int): String =
      s"""p$i AS (SELECT cell FROM a$i WHERE sh = 0
         |  GROUP BY cell HAVING count(*) > $maxLeaf),
         |s$i AS (SELECT cell, sid, sv FROM (
         |    SELECT a.cell, a.vec_id AS sid, a.vv AS sv,
         |      row_number() OVER (PARTITION BY a.cell ORDER BY a.vec_id) AS rn
         |    FROM a$i a JOIN p$i p ON a.cell = p.cell WHERE a.sh = 0)
         |  WHERE rn <= $branch),
         |r$i AS (SELECT vec_id, vv, sh, ncell, rn FROM (
         |    SELECT a.vec_id, a.vv, a.sh,
         |      a.cell || '-' || CAST(s.sid AS VARCHAR) AS ncell,
         |      row_number() OVER (PARTITION BY a.vec_id, a.cell ORDER BY
         |        round(list_dot_product(a.vv, s.sv)
         |          / (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(s.sv, s.sv))),4) DESC,
         |        s.sid) AS rn
         |    FROM a$i a JOIN s$i s ON a.cell = s.cell) WHERE rn <= 2),
         |a${i + 1} AS (
         |  SELECT a.vec_id, a.vv, a.cell, a.sh
         |  FROM a$i a LEFT JOIN p$i p ON a.cell = p.cell WHERE p.cell IS NULL
         |  UNION ALL
         |  SELECT vec_id, vv, ncell AS cell, sh FROM r$i WHERE rn = 1
         |  UNION ALL
         |  SELECT vec_id, vv, ncell AS cell, 1 AS sh FROM r$i
         |  WHERE rn = 2 AND sh = 0)""".stripMargin
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |a0 AS (SELECT vec_id, vv, 'r' AS cell, 0 AS sh FROM v),
       |${(0 until depth).map(level).mkString(",\n")}""".stripMargin
  }

  private[graft] def semDedupTreeMultiSql: String =
    s"""WITH $treeMultiLevelCtes,
       |n AS (SELECT vec_id, cell, vv,
       |      sqrt(list_dot_product(vv, vv)) AS nrm FROM a$treeDepth),
       |dup AS (
       |  SELECT DISTINCT y.vec_id FROM n x JOIN n y
       |  ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE NOT isnan(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm))
       |    AND round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm),4) >= 0.35)
       |SELECT v.vec_id AS vec_id FROM v LEFT JOIN dup d ON v.vec_id = d.vec_id
       |WHERE d.vec_id IS NULL
       |ORDER BY v.vec_id""".stripMargin

  /** Shadow-membership kNN graph twin: pairs in ANY shared cell of the
    * [[treeMultiLevelCtes]] memberships, DISTINCT at candidate grain
    * BEFORE ranking (a pair sharing two cells must not occupy two top-k
    * slots — the engine's pre-aggregate distinct), NaN cosines drop. */
  private[graft] def knnGraphTreeMultiSql: String =
    s"""WITH $treeMultiLevelCtes,
       |n AS (SELECT vec_id, cell, vv,
       |      sqrt(list_dot_product(vv, vv)) AS nrm FROM a$treeDepth),
       |p AS (SELECT DISTINCT src, dst, cs FROM (
       |    SELECT x.vec_id AS src, y.vec_id AS dst,
       |      round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm), 4) AS cs
       |    FROM n x JOIN n y ON x.cell = y.cell AND x.vec_id <> y.vec_id)
       |  WHERE NOT isnan(cs)),
       |r AS (SELECT src, dst, cs,
       |    row_number() OVER (PARTITION BY src ORDER BY cs DESC, dst) AS rnk
       |  FROM p)
       |SELECT src, CAST(rnk AS BIGINT) AS rnk, dst, cs + 0.0 AS cos_sim
       |FROM r WHERE rnk <= 3 ORDER BY src, rnk""".stripMargin

  private[graft] def semDedupSqlK(kExpr: String): String =
    s"""WITH ${ivfAssignCtesK(kExpr)},
       |n AS (SELECT a.vec_id, a.cid, v.vv, sqrt(list_dot_product(v.vv, v.vv)) AS nrm
       |      FROM assign a JOIN v ON a.vec_id = v.vec_id),
       |dup AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm),4) >= 0.35)
       |SELECT v.vec_id AS vec_id FROM v LEFT JOIN dup d ON v.vec_id = d.vec_id
       |WHERE d.vec_id IS NULL
       |ORDER BY v.vec_id""".stripMargin

  /** Indexed SemDeDup oracle — the INLINE kernel restricted to the delta
    * (`vec_id > ⌊2·max/3⌋`, the same cut the engine lane derives): the
    * engine screens the delta against a STORED index built over the
    * master prefix, and because every master id precedes every delta id,
    * its "any indexed partner drops" rule coincides with the inline
    * smaller-id rule — the oracle never needs to read the index artifact,
    * exactly like `q_dedup_indexed` reuses the inline minhash twin. The
    * master prefix contains the k = 8 lowest ids, so the inline seeds ARE
    * the stored centroids and cell assignments agree by construction.
    * Shares the family's maxCell = 8192 guard precondition (see
    * [[semDedupMultiSql]]'s note). */
  private[graft] def semDedupIndexedSql: String = semDedupIndexedSqlK("8")

  /** The production-k twin sizes the quantizer to the MASTER (the corpus
    * the index was built over) — ⌊√n_master⌋ with the [[scaledCellsExpr]]
    * clamp, exactly `Similarity.resolveCells(master, AutoCells)`. */
  private[graft] def masterCellsExpr: String =
    """(SELECT greatest(8, least(65536,
      |   CAST(floor(sqrt(count(*))) AS BIGINT))) FROM embeddings
      | WHERE vec_id <= (SELECT CAST(floor(max(vec_id) * 2 / 3) AS BIGINT)
      |                  FROM embeddings))""".stripMargin

  private[graft] def semDedupIndexedSqlK(kExpr: String): String =
    s"""WITH ${ivfAssignCtesK(kExpr)},
       |n AS (SELECT a.vec_id, a.cid, v.vv, sqrt(list_dot_product(v.vv, v.vv)) AS nrm
       |      FROM assign a JOIN v ON a.vec_id = v.vec_id),
       |s AS (SELECT CAST(floor(max(vec_id) * 2 / 3) AS BIGINT) AS cut FROM embeddings),
       |dup AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE round(list_dot_product(x.vv, y.vv) / (x.nrm * y.nrm),4) >= 0.35)
       |SELECT v.vec_id AS vec_id FROM v, s
       |WHERE v.vec_id > s.cut
       |  AND v.vec_id NOT IN (SELECT vec_id FROM dup)
       |ORDER BY v.vec_id""".stripMargin

  /** Ratio-margin bitext mining oracle, parameterized on the quantizer
    * cell-count expression like the rest of the IVF family. */
  private[graft] def marginMineSqlK(kExpr: String): String =
    s"""WITH ${ivfAssignCtesK(kExpr)},
       |p AS (
       |  SELECT aa.vec_id AS ida, ab.vec_id AS idb,
       |    round(list_dot_product(va.vv, vb.vv)
       |      / (sqrt(list_dot_product(va.vv, va.vv))
       |         * sqrt(list_dot_product(vb.vv, vb.vv))), 4) AS cs
       |  FROM assign aa JOIN assign ab ON aa.cid = ab.cid
       |  JOIN v va ON va.vec_id = aa.vec_id
       |  JOIN v vb ON vb.vec_id = ab.vec_id
       |  WHERE aa.vec_id % 2 = 0 AND ab.vec_id % 2 = 1),
       |pq AS (SELECT ida, idb, cs,
       |    CAST(round(cs * 10000, 0) AS BIGINT) AS cq FROM p
       |  WHERE NOT isnan(cs)),
       |ta AS (SELECT ida, sum(cq) AS sa, count(*) AS ca FROM (
       |    SELECT ida, cq,
       |      row_number() OVER (PARTITION BY ida ORDER BY cq DESC, idb) AS rn
       |    FROM pq) WHERE rn <= 4 GROUP BY ida),
       |tb AS (SELECT idb, sum(cq) AS sb, count(*) AS cb FROM (
       |    SELECT idb, cq,
       |      row_number() OVER (PARTITION BY idb ORDER BY cq DESC, ida) AS rn
       |    FROM pq) WHERE rn <= 4 GROUP BY idb),
       |m AS (SELECT pq.ida, pq.idb, pq.cs,
       |    CASE WHEN (sa * cb + sb * ca) > 0
       |      THEN (10000 * 2 * ca * cb * cq) // (sa * cb + sb * ca)
       |    END AS margin_bp
       |  FROM pq JOIN ta USING (ida) JOIN tb USING (idb)),
       |r AS (SELECT ida, idb, cs, margin_bp,
       |    row_number() OVER (PARTITION BY ida
       |                       ORDER BY margin_bp DESC, idb) AS rn
       |  FROM m WHERE margin_bp >= 10200)
       |SELECT ida AS id_a, idb AS id_b, cs + 0.0 AS cos_sim,
       |  CAST(margin_bp AS BIGINT) AS margin_bp
       |FROM r WHERE rn = 1 ORDER BY id_a""".stripMargin

  /** nprobe ANN oracle: probe cells = the 2 centroids most similar to the
    * query vector (rounded cosine, ties to smaller id — same ordering as
    * the engine's TakeOrdered); candidates = corpus rows assigned to those
    * cells; exact rank within. */
  private[graft] def ivfTopKSql: String =
    s"""WITH $ivfAssignCtes,
       |q AS (SELECT vv AS qv FROM v WHERE vec_id = 0),
       |pcells AS (
       |  SELECT cid FROM (
       |    SELECT cid,
       |      round(list_dot_product(cv, qv)
       |        / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))),4) AS c_sim
       |    FROM c, q
       |    WHERE NOT isnan(list_dot_product(cv, qv)
       |      / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))))
       |    ORDER BY c_sim DESC, cid LIMIT 2)),
       |cand AS (
       |  SELECT a.vec_id, v.vv FROM assign a
       |  JOIN pcells p ON a.cid = p.cid
       |  JOIN v ON v.vec_id = a.vec_id
       |  WHERE a.vec_id <> 0)
       |SELECT vec_id,
       | round(list_dot_product(vv, qv)
       |   / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(qv, qv))),4) + 0.0 AS cos_sim
       |FROM cand, q
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** Batch twin of [[ivfTopKSql]]: the same assign/probe-cell/candidate
    * shape, per-probe windows over the {0, 7, 23} panel at nprobe = 2. */
  private[graft] def ivfBatchSql: String =
    s"""WITH $ivfAssignCtes,
       |q AS (SELECT vec_id AS probe_id, vv AS qv FROM v
       |      WHERE vec_id IN (0, 7, 23)),
       |pc0 AS (
       |  SELECT q.probe_id, c.cid,
       |    round(list_dot_product(cv, qv)
       |      / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))),4) AS c_sim
       |  FROM c, q),
       |pc AS (
       |  SELECT probe_id, cid FROM (
       |    SELECT probe_id, cid,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY c_sim DESC, cid) AS cr
       |    FROM pc0 WHERE NOT isnan(c_sim)) WHERE cr <= 2),
       |cand AS (
       |  SELECT pc.probe_id, a.vec_id, v.vv FROM assign a
       |  JOIN pc ON a.cid = pc.cid
       |  JOIN v ON v.vec_id = a.vec_id
       |  WHERE a.vec_id <> pc.probe_id),
       |sc AS (
       |  SELECT cand.probe_id, cand.vec_id,
       |    round(list_dot_product(vv, qv)
       |      / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(qv, qv))),4) + 0.0 AS cos_sim
       |  FROM cand JOIN q ON q.probe_id = cand.probe_id),
       |r AS (
       |  SELECT probe_id, vec_id, cos_sim,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos_sim DESC, vec_id) AS rnk
       |  FROM sc)
       |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cos_sim FROM r
       |WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin

  /** LSH oracle: the hyperplane sign vectors come from the SAME generator
    * the engine uses (VectorFunctions.hyperplaneSigns), inlined as literal
    * arrays, so both engines bucket identically by construction. */
  private[graft] def simLshSql: String = {
    val bits = 8
    val bucketExpr = (0 until bits).map { j =>
      val plane = graft.functions.VectorFunctions.hyperplaneSigns(64, j)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $plane) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH n AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS (SELECT vec_id, v, $bucketExpr AS bucket FROM n)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       | round(list_dot_product(a.v, b.v)
       |   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),4) AS cos_sim
       |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.v, b.v)
       |   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),4) >= 0.3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** CTE chain producing the raw MinHash band CANDIDATE pairs (`cand`) —
    * the shared front half of every banded-candidate verify: Jaccard
    * (`minhashPairCtes`) and Levenshtein (`editPairsSql`) verifies both
    * read from it. */
  private[graft] def minhashCandCtes: String = {
    val numHashes = 16
    val rowsPerBand = 4
    val minCols = (0 until numHashes)
      .map(j => s"min(substr(md5('${j / 4}:' || shingle), ${1 + 8 * (j % 4)}, 8)) AS mh$j")
      .mkString(",\n|    ")
    val bandSelects = (0 until numHashes / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}").mkString(" || '|' || ")
      s"SELECT doc, $b AS band, md5($parts) AS band_key FROM mh"
    }.mkString("\n|  UNION ALL ")
    s"""$shinglesCte,
       |mh AS (
       |  SELECT doc, $minCols
       |  FROM sh GROUP BY doc),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc)""".stripMargin
  }

  /** CTE chain producing verified minhash near-dup pairs (shared by the
    * pair query and the clustering query). */
  private[graft] def minhashPairCtes: String =
    s"""$minhashCandCtes,
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cand c JOIN sh a ON a.doc = c.id_a JOIN sh b ON b.doc = c.id_b
       |  WHERE a.shingle = b.shingle GROUP BY 1, 2),
       |verified AS (
       |  SELECT id_a, id_b,
       |    round(CAST(n_inter AS DOUBLE) / (x.n_sh + y.n_sh - n_inter),4) AS jaccard
       |  FROM inter JOIN sz x ON id_a = x.doc JOIN sz y ON id_b = y.doc
       |  WHERE round(CAST(n_inter AS DOUBLE) / (x.n_sh + y.n_sh - n_inter),4) >= 0.5)""".stripMargin

  /** Levenshtein-verified banded candidates — same `cand` CTE as the
    * Jaccard verify; the thresholded filter mirrors the engine's
    * `levenshtein(a, b, maxDist) >= 0` early-exit form. */
  private[graft] def editPairsSql: String =
    s"""WITH $minhashCandCtes
       |SELECT c.id_a, c.id_b,
       |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
       |FROM cand c
       |JOIN documents da ON da.doc_id = c.id_a
       |JOIN documents db ON db.doc_id = c.id_b
       |WHERE levenshtein(da.text, db.text) <= 10
       |ORDER BY id_a, id_b""".stripMargin

  private[graft] def minhashSql: String =
    s"""WITH $minhashPairCtes
       |SELECT id_a, id_b, jaccard FROM verified ORDER BY id_a, id_b""".stripMargin

  /** Recursive-CTE connected components over the verified minhash pairs,
    * ending in labels(id, cluster_id) — shared by the clusters query and
    * the survivor-selection query. */
  private[graft] def clusterLabelCtes: String =
    s"""$minhashPairCtes,
       |edges AS (
       |  SELECT id_a, id_b FROM verified
       |  UNION SELECT id_b, id_a FROM verified
       |  UNION SELECT id_a, id_a FROM verified
       |  UNION SELECT id_b, id_b FROM verified),
       |reach(src, dst) AS (
       |  SELECT id_a, id_b FROM edges
       |  UNION
       |  SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a),
       |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)""".stripMargin

  private[graft] def dedupClustersSql: String =
    s"""WITH RECURSIVE $clusterLabelCtes
       |SELECT id, cluster_id FROM labels
       |ORDER BY id""".stripMargin

  /** Survivor per cluster: row_number argmax here vs max(struct) in the
    * engine — identical deterministic ordering (n_chars desc, id asc). */
  /** DuckDB twin of [[Sketches.cmsHeavyHitters]] over the corpus word
    * stream: per-hash-row arms generated from the same (depth, width,
    * salt) literals; the md5 polynomial is [[Sketches.kmvHash32Sql]] —
    * the identical 32-bit lane the engine's cells use. */
  private[graft] def cmsHeavyHittersSql(depth: Int, width: Int,
                                 minCount: Long): String = {
    def h(j: Int) = Sketches.cmsBucketSql(j, depth, width, "word")
    val streamArms = (0 until depth)
      .map(j => s"SELECT $j AS row, ${h(j)} AS bucket FROM w")
      .mkString("\n  UNION ALL ")
    val probeArms = (0 until depth)
      .map(j => s"SELECT word, $j AS row, ${h(j)} AS bucket FROM cand")
      .mkString("\n  UNION ALL ")
    s"""WITH w AS (SELECT unnest($sqlTokens) AS word FROM documents),
       |cells AS (SELECT row, bucket, count(*) AS cnt FROM (
       |  $streamArms) GROUP BY row, bucket),
       |cand AS (SELECT DISTINCT word FROM w),
       |probe AS (
       |  $probeArms),
       |est AS (SELECT word, min(coalesce(cnt, 0)) AS est_count
       |  FROM probe LEFT JOIN cells USING (row, bucket) GROUP BY word)
       |SELECT word, CAST(est_count AS BIGINT) AS est_count
       |FROM est WHERE est_count >= $minCount ORDER BY word""".stripMargin
  }

  /** DuckDB twin of [[Sketches.quantileSketch]] over events (k=256,
    * cents): the q_fixed_sample Knuth-hash lane carrying the value,
    * type-1 rank pick — shared verbatim by q_quantile_sketch and the
    * stored-lane twin q_quantile_stored (merge law ⇒ identical rows). */
  private[graft] def quantileSketchSql: String =
    """WITH b AS (
      |  SELECT event_type AS grp, event_id AS id,
      |    CAST(round(value*100) AS BIGINT) AS v FROM events),
      |hr AS (SELECT grp, id, v,
      |    row_number() OVER (PARTITION BY grp
      |      ORDER BY ((id % 1000003) * 2654435761) % 1000000007, id) AS hrn
      |  FROM b),
      |s AS (SELECT grp, id, v FROM hr WHERE hrn <= 256),
      |m AS (SELECT grp, count(*) AS n_sample FROM s GROUP BY 1),
      |t AS (SELECT grp, count(*) AS n_total FROM b GROUP BY 1),
      |rk AS (SELECT grp, id, v,
      |    row_number() OVER (PARTITION BY grp ORDER BY v, id) AS rn
      |  FROM s),
      |qq AS (SELECT CAST(unnest([25, 50, 90, 99]) AS BIGINT) AS q)
      |SELECT rk.grp AS event_type, qq.q, rk.v AS est_cents,
      |  m.n_sample, t.n_total
      |FROM rk JOIN m USING (grp) JOIN t USING (grp)
      |JOIN qq ON rk.rn = (qq.q * m.n_sample + 99) // 100
      |ORDER BY event_type, q""".stripMargin

  /** DuckDB twin of [[Similarity.jlCoords2d]] (dim 64): CTEs ending in
    * `pts(vec_id, x, y)` on the exact integer grid — the shared plane of
    * the DBSCAN oracles. Signs embed the IDENTICAL `jlSign` literals the
    * engine folds at plan build. */
  private[graft] def jlCoords2dCtes: String = {
    val qs = (0 until 64).map(dd =>
      s"CAST(round(CAST(embedding[${dd + 1}] AS DOUBLE) * 10000, 0) AS BIGINT) AS q$dd")
      .mkString(",\n    ")
    def arm(k: Int) = (0 until 64).map(dd =>
      (if (Similarity.jlSign(k, dd) > 0) "+" else "-") + s" q$dd")
      .mkString(" ")
    s"""f AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE len(embedding) = 64
       |    AND len(list_filter(embedding,
       |          e -> isnan(e) OR NOT isfinite(e))) = 0),
       |qq AS (SELECT vec_id,
       |    $qs
       |  FROM f),
       |pts AS MATERIALIZED (
       |  SELECT vec_id, 0 ${arm(0)} AS x, 0 ${arm(1)} AS y FROM qq)""".stripMargin
  }

  /** DuckDB twin of [[Similarity.randomProjection]]: per-output-dim arms
    * whose ±q terms embed the IDENTICAL `jlSign` literals. */
  private[graft] def randProjSql(outDims: Int, dim: Int): String = {
    val qs = (0 until dim).map(dd =>
      s"CAST(round(CAST(embedding[${dd + 1}] AS DOUBLE) * 10000, 0) AS BIGINT) AS q$dd")
      .mkString(",\n    ")
    val arms = (0 until outDims).map { k =>
      val terms = (0 until dim).map(dd =>
        (if (Similarity.jlSign(k, dd) > 0) "+" else "-") + s" q$dd")
        .mkString(" ")
      s"SELECT vec_id, CAST($k AS BIGINT) AS out_dim, 0 $terms AS proj_q FROM q"
    }.mkString("\n  UNION ALL ")
    s"""WITH f AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE len(embedding) = $dim
       |    AND len(list_filter(embedding,
       |          x -> isnan(x) OR NOT isfinite(x))) = 0),
       |q AS (SELECT vec_id,
       |    $qs
       |  FROM f)
       |$arms
       |ORDER BY vec_id, out_dim""".stripMargin
  }

  /** DuckDB twin of [[Outputs.zOrderKey]] on lineitem(part, supp): the
    * same floored min/max scaling and the same generated
    * shift-and-mask interleave terms. */
  private[graft] def zorderSql(bits: Int): String = {
    val top = (1L << bits) - 1
    val terms = (0 until bits).flatMap { b =>
      Seq(s"(((s0 >> $b) & 1) << ${b * 2})",
        s"(((s1 >> $b) & 1) << ${b * 2 + 1})")
    }.mkString(" + ")
    s"""WITH mm AS (SELECT min(l_partkey) AS mn0, max(l_partkey) AS mx0,
       |    min(l_suppkey) AS mn1, max(l_suppkey) AS mx1 FROM lineitem),
       |sc AS (SELECT l_orderkey, l_linenumber,
       |    CASE WHEN mx0 > mn0
       |      THEN ((l_partkey - mn0) * $top) // (mx0 - mn0) ELSE 0 END AS s0,
       |    CASE WHEN mx1 > mn1
       |      THEN ((l_suppkey - mn1) * $top) // (mx1 - mn1) ELSE 0 END AS s1
       |  FROM lineitem, mm)
       |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |  CAST($terms AS BIGINT) AS zval
       |FROM sc ORDER BY l_orderkey, l_linenumber, zval""".stripMargin
  }

  /** DuckDB twin of [[Curation.tokenBudget]] over per-source ws-token
    * counts: `rounds` unrolled MATERIALIZED water-filling rounds with the
    * identical floored-share arithmetic; weights derive from the source
    * suffix on both sides. */
  private[graft] def tokenBudgetSql(budget: Long, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""t$i AS MATERIALIZED (
         |  SELECT sum(CASE WHEN capped THEN coalesce(alloc, 0) ELSE 0 END) AS spent,
         |    sum(CASE WHEN NOT capped THEN w ELSE 0 END) AS wun
         |  FROM s${i - 1}),
         |s$i AS MATERIALIZED (
         |  SELECT source, avail, w,
         |    (capped OR dem >= avail) AS capped,
         |    CASE WHEN capped THEN alloc
         |         WHEN dem >= avail THEN avail ELSE dem END AS alloc
         |  FROM (SELECT s.*,
         |      CASE WHEN NOT s.capped AND t.wun > 0
         |        THEN (($budget - coalesce(t.spent, 0)) * s.w) // t.wun
         |      END AS dem
         |    FROM s${i - 1} s, t$i t))""".stripMargin
    }.mkString(",\n")
    s"""WITH av AS (
       |  SELECT source, CAST(sum(len($sqlTokens)) AS BIGINT) AS avail
       |  FROM documents GROUP BY source),
       |wt AS (SELECT source,
       |    (CAST(substr(source, 4) AS INT) % 5 + 1) * 1000 AS w FROM av),
       |s0 AS (
       |  SELECT a.source, a.avail, wt.w,
       |    (wt.w <= 0 OR a.avail <= 0) AS capped,
       |    CASE WHEN wt.w <= 0 OR a.avail <= 0 THEN 0 END AS alloc
       |  FROM av a JOIN wt USING (source)),
       |$roundCtes
       |SELECT source, avail AS avail_tokens, CAST(w AS BIGINT) AS weight_bp,
       |  CAST(coalesce(alloc, 0) AS BIGINT) AS alloc_tokens, capped,
       |  CAST(CASE WHEN avail > 0 THEN (10000 * coalesce(alloc, 0)) // avail
       |       ELSE 0 END AS BIGINT) AS rate_bp
       |FROM s$rounds ORDER BY source""".stripMargin
  }

  /** DuckDB twin of [[Timeseries.autocorr]] over events(event_type):
    * per-lag SELECT arms generated from the same lag range the engine
    * stacks, HUGEINT sums as the decimal(38,0) twin, `//` as the
    * truncated-division twin of `div`. */
  /** Shared by the q_gopher_flags oracle and the gate-attrition
    * twin (which consumes the flag columns as a subquery). */
  private[graft] def gopherFlagsSql: String =
    """WITH t0 AS (SELECT doc_id,
        |    list_filter(string_split(lower(coalesce(text, '')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT)
        |      AS n_chars_tok,
        |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
        |      AS n_alpha,
        |    CAST(len(list_intersect(list_distinct(tk),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop
        |  FROM t0),
        |r AS (SELECT doc_id, n_words,
        |    CASE WHEN n_words > 0
        |      THEN round(n_chars_tok / CAST(n_words AS DOUBLE), 4) + 0.0 END
        |      AS mean_word_len,
        |    CASE WHEN n_words > 0
        |      THEN round(n_alpha / CAST(n_words AS DOUBLE), 4) + 0.0 END AS alpha_frac,
        |    n_stop
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop,
        |  (n_words >= 50 AND n_words <= 100000) AS r_words,
        |  coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, FALSE) AS r_mean_len,
        |  coalesce(alpha_frac >= 0.8, FALSE) AS r_alpha,
        |  (n_stop >= 2) AS r_stop,
        |  ((n_words >= 50 AND n_words <= 100000)
        |    AND coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, FALSE)
        |    AND coalesce(alpha_frac >= 0.8, FALSE)
        |    AND (n_stop >= 2)) AS pass_all
        |FROM r ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[RelationalOps.gateAttrition]] over the Gopher
    * flags — sums and arms generated from the same gate list. */
  private[graft] def gateAttritionSql(gates: Seq[String]): String = {
    val sums = gates.zipWithIndex.map { case (g, i) =>
      val before = (gates.take(i) :+ g).dropRight(1) match {
        case Nil => "TRUE"
        case bs => bs.mkString(" AND ")
      }
      s"""sum(CASE WHEN NOT $g THEN 1 ELSE 0 END) AS m$i,
         |  sum(CASE WHEN ($before) AND NOT $g THEN 1 ELSE 0 END) AS k$i,
         |  sum(CASE WHEN ($before) AND $g THEN 1 ELSE 0 END) AS s$i""".stripMargin
    }.mkString(",\n  ")
    val arms = gates.zipWithIndex.map { case (g, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS ord, '$g' AS gate," +
        s" CAST(n_in AS BIGINT) AS n_in," +
        s" CAST(m$i AS BIGINT) AS n_fail_marginal," +
        s" CAST(k$i AS BIGINT) AS n_killed_here," +
        s" CAST(s$i AS BIGINT) AS n_survive_after FROM a"
    }.mkString("\n  UNION ALL ")
    s"""WITH f AS ($gopherFlagsSql),
       |a AS (SELECT count(*) AS n_in,
       |  $sums
       |  FROM f)
       |$arms
       |ORDER BY ord""".stripMargin
  }

  /** DuckDB twin of [[RelationalOps.benfordPanel]] over event cents —
    * expected shares are the SAME Scala-computed floored-bp literals. */
  private[graft] def benfordSql: String = {
    val arm = (1 to 9).map(dd =>
      s"WHEN $dd THEN ${RelationalOps.benfordExpectedBp(dd)}").mkString(" ")
    s"""WITH v AS (SELECT CAST(round(value*100, 0) AS BIGINT) AS v
       |  FROM events
       |  WHERE value IS NOT NULL AND CAST(round(value*100, 0) AS BIGINT) > 0),
       |d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    count(*) AS n
       |  FROM v GROUP BY 1),
       |t AS (SELECT sum(n) AS tot FROM d)
       |SELECT digit, CAST(n AS BIGINT) AS n,
       |  CAST((10000 * n) // tot AS BIGINT) AS obs_bp,
       |  CAST(CASE digit $arm END AS BIGINT) AS exp_bp
       |FROM d, t ORDER BY digit""".stripMargin
  }

  private[graft] def autocorrSql(maxLag: Int): String = {
    val leads = (1 to maxLag)
      .map(h => s"lead(x, $h) OVER w AS l$h").mkString(",\n    ")
    val sums = (1 to maxLag).map(h =>
      s"CAST(sum(x * l$h) AS HUGEINT) AS sxy$h,\n    " +
        s"CAST(sum(CASE WHEN l$h IS NOT NULL THEN x END) AS HUGEINT) AS a$h,\n    " +
        s"CAST(sum(l$h) AS HUGEINT) AS b$h").mkString(",\n    ")
    val den = "(n * n * sxx - n * s * s)"
    val arms = (1 to maxLag).map { h =>
      val num = s"(n * n * sxy$h - n * s * (a$h + b$h) + (n - $h) * s * s)"
      s"SELECT event_type, CAST($h AS BIGINT) AS lag,\n" +
        s"    CASE WHEN n > $h AND $den <> 0\n" +
        s"      THEN CAST((10000 * $num) // $den AS BIGINT) END AS acf_bp\n" +
        "  FROM a"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (SELECT event_type, ts, event_id,
       |    CAST(round(value*100, 0) AS BIGINT) AS x FROM events),
       |o AS (SELECT event_type, x,
       |    $leads
       |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
       |a AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS s,
       |    CAST(sum(x * x) AS HUGEINT) AS sxx,
       |    $sums
       |  FROM o GROUP BY event_type)
       |$arms
       |ORDER BY event_type, lag""".stripMargin
  }

  private[graft] def clusterBestSql: String =
    s"""WITH RECURSIVE $clusterLabelCtes,
       |ranked AS (
       |  SELECT l.cluster_id, l.id, d.n_chars,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY d.n_chars DESC, l.id) AS rn,
       |    count(*) OVER (PARTITION BY l.cluster_id) AS n_members
       |  FROM labels l JOIN documents d ON l.id = d.doc_id)
       |SELECT cluster_id, n_members, id AS keep_id, n_chars AS kept_priority
       |FROM ranked WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** The end-to-end curation pipeline: exact keep-list, near-dup cluster
    * survivor (argmax n_chars — same ordering as clusterBestSql), quality
    * and language gates. The stage fragments are the SAME SQL the
    * individual oracles use (qualitySql / langIdSql wrapped as subqueries,
    * the recursive label CTEs shared with the cluster queries). */
  private[graft] def curationSql: String =
    s"""WITH RECURSIVE $clusterLabelCtes,
       |surv AS (
       |  SELECT cluster_id, id, rn FROM (
       |    SELECT l.cluster_id, l.id,
       |      row_number() OVER (PARTITION BY l.cluster_id
       |                         ORDER BY d.n_chars DESC, l.id) AS rn
       |    FROM labels l JOIN documents d ON l.id = d.doc_id)),
       |keep_exact AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY $sqlFingerprint),
       |q AS (SELECT * FROM ($qualitySql)),
       |lg AS (SELECT * FROM ($langIdSql))
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |JOIN keep_exact k ON d.doc_id = k.doc_id
       |LEFT JOIN (SELECT id FROM surv WHERE rn > 1) loser ON d.doc_id = loser.id
       |JOIN q ON d.doc_id = q.doc_id
       |JOIN lg ON d.doc_id = lg.doc_id
       |WHERE loser.id IS NULL AND q.quality >= 0.5 AND lg.lang_pred = 'en'
       |ORDER BY d.doc_id""".stripMargin

  /** Mirrors Dedup.decontaminate: bench = docs with doc_id % 20 = 0, their
    * distinct shingles probe every training doc's distinct shingle set. */
  private[graft] def decontaminateSql: String =
    s"""WITH $shinglesCte,
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc % 20 = 0)
       |SELECT s.doc, sz.n_sh AS n_shingles, count(*) AS n_overlap,
       |  round(CAST(count(*) AS DOUBLE) / sz.n_sh, 4) AS contam_frac
       |FROM sh s JOIN bench b ON s.shingle = b.shingle
       |  JOIN sz ON s.doc = sz.doc
       |WHERE s.doc % 20 <> 0
       |GROUP BY s.doc, sz.n_sh
       |ORDER BY s.doc""".stripMargin

  /** CTE chain ending in sh64(doc, simhash) — shared by the fingerprint
    * query and the hamming-pairs query. */
  private[graft] def simhashCtes: String = {
    val digitCols = (0 until 16)
      .map(i => s"strpos('0123456789abcdef', substr(md5(tok), ${i + 1}, 1)) - 1 AS d$i")
      .mkString(",\n|    ")
    val sumCols = (0 until 64).map { k =>
      val pow2 = 1 << (3 - k % 4)
      s"sum(CASE WHEN (d${k / 4} // $pow2) % 2 = 1 THEN cnt ELSE -cnt END) AS s$k"
    }.mkString(",\n|    ")
    val bitConcat = (0 until 64)
      .map(k => s"(CASE WHEN s$k > 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    s"""tk AS (
       |  SELECT doc_id AS doc, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |tc AS (SELECT doc, tok, count(*) AS cnt FROM tk GROUP BY doc, tok),
       |src AS (
       |  SELECT doc, cnt,
       |    $digitCols
       |  FROM tc),
       |agg AS (
       |  SELECT doc,
       |    $sumCols
       |  FROM src GROUP BY doc),
       |sh64 AS (SELECT doc, $bitConcat AS simhash FROM agg)""".stripMargin
  }

  private[graft] def simhashSql: String =
    s"""WITH $simhashCtes
       |SELECT doc, simhash FROM sh64 ORDER BY doc""".stripMargin

  /** Signed 64-bit packed form of the same sign bits (bit 0 = MSB, two's
    * complement): distinct powers of two summed — DuckDB widens the
    * intermediate to HUGEINT around the MIN_LONG term, the final CAST
    * brings it back to BIGINT exactly. */
  private[graft] def simhashPackedSql: String = {
    val msb = "(CASE WHEN s0 > 0 THEN -9223372036854775807 - 1 ELSE 0 END)"
    val rest = (1 until 64)
      .map(k => s"(CASE WHEN s$k > 0 THEN ${1L << (63 - k)} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $simhashCtes
       |SELECT doc, CAST($msb + $rest AS BIGINT) AS simhash FROM agg
       |ORDER BY doc""".stripMargin
  }

  private[graft] def simhashPairsSql: String =
    s"""WITH $simhashCtes,
       |chunks AS (
       |  SELECT doc, simhash, i AS chunk_id, substr(simhash, 1 + 16 * i, 16) AS chunk
       |  FROM sh64 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) ii),
       |cand AS (
       |  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b, a.simhash AS sa, b.simhash AS sb
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc < b.doc)
       |SELECT id_a, id_b, hamming(sa, sb) AS hamming FROM cand
       |WHERE hamming(sa, sb) <= 3
       |ORDER BY id_a, id_b""".stripMargin
}

/** A query whose result relation is materialized once before the oracle
  * contract's global sort on `keys`. The sort's range partitioner samples
  * its child in a separate job, so without the barrier a costly body (a
  * pair verify, a scorer scan) runs twice, and the sort's own pass makes
  * it three times — q_bm25_stored measured 209 s against 76 s for the
  * scoring scan alone at sf10. The sort then pays result-relation cost
  * only.
  *
  * The barrier cuts the declared plan to `Sort → Exchange → Scan
  * ExistingRDD`, so `body` stays exposed: PlanSpec and PlanDump explain it
  * to see the kernels the query actually runs. */
final class ContractSorted(keys: Seq[String],
    val body: (SparkSession, String) => DataFrame)
    extends ((SparkSession, String) => DataFrame) {
  def apply(s: SparkSession, d: String): DataFrame =
    body(s, d)
      // ckpt: one-shot — sampling/sort barrier, one per query construction
      .localCheckpoint()
      .orderBy(keys.map(col): _*)
}
