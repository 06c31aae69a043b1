package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record linkage / entity resolution — match records that refer to the
  * same real-world entity across two systems without a shared key:
  * blocking (candidate generation), integer-weighted field-agreement
  * scoring (Fellegi–Sunter with fixed weights), thresholding, and a
  * precision/recall evaluation against ground truth.
  *
  * Reference grounding: the reference's stream–table join enriches by an
  * EXACT key (hello-samza `StreamTableJoinExample.java:112-135`); linkage
  * is the generalization to fuzzy identity, the first pass a training-data
  * pipeline runs when merging document/author/source catalogs.
  *
  * Scale shape: candidates are BLOCK-bounded — the corpus never self-joins
  * unblocked (the MinHash-LSH argument, applied to records). Blocking keys
  * shuffle both sides once; scoring is per-candidate projection work.
  * Skewed blocks (one postcode holding 1e6 records) are the operational
  * hazard: cap or sub-salt them upstream, exactly as [[Dedup]] df-cuts hot
  * shingles. */
object Linkage {

  /** Deterministic hot-block cap: keep at most `cap` records per block,
    * chosen by id-hash rank (stable across runs and partitionings — no
    * sampling seed). The linkage counterpart of [[Dedup]]'s df-cut: a
    * block holding 1e6 records contributes 1e12 candidate pairs and
    * almost no discrimination, so bounding it bounds the whole join's
    * candidate volume at the cost of recall INSIDE pathological blocks
    * only. Run [[linkEval]] with and without the cap to price that
    * trade on your corpus. The rank hash is the md5 lane
    * ([[Sketches.md5Hash32]]) of the id string, so a DuckDB twin
    * reproduces the kept set. */
  def capBlocks(df: DataFrame, blockCols: Seq[String], idCol: String,
                cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(blockCols.map(col): _*)
      .orderBy(Sketches.md5Hash32(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap)
      .drop("__rk")
  }

  /** Blocked candidate pairs: records from `a` and `b` sharing every
    * `blockCols` value, carrying `fieldCols` prefixed a_/b_ for scoring.
    * Equi-join on the block key — never a cartesian. */
  def blockedCandidates(a: DataFrame, b: DataFrame, idCol: String,
                        blockCols: Seq[String],
                        fieldCols: Seq[String]): DataFrame = {
    def side(df: DataFrame, tag: String) =
      df.select(blockCols.map(col) ++ (col(idCol).as(s"id_$tag") +:
        fieldCols.map(c => col(c).as(s"${tag}_$c"))): _*)
    side(a, "a").join(side(b, "b"), blockCols)
  }

  /** Add a Fellegi–Sunter-style agreement score: per field, `wAgree` when
    * the two sides agree (null-safe — two NULLs agree), `wDisagree`
    * otherwise. Fixed integer weights (centi-units by convention) keep the
    * score exact and engine-portable; callers calibrate them offline from
    * labeled pairs (the log-odds estimates), which keeps this operator a
    * pure projection. */
  def scorePairs(cands: DataFrame,
                 fields: Seq[(String, Long, Long)]): DataFrame = {
    val score = fields.map { case (f, wA, wD) =>
      when(col(s"a_$f") <=> col(s"b_$f"), lit(wA)).otherwise(lit(wD))
    }.reduceLeft(_ + _)
    cands.withColumn("score", score)
  }

  /** End-to-end: block → score → threshold. Output (id_a, id_b, score). */
  def linkPairs(a: DataFrame, b: DataFrame, idCol: String,
                blockCols: Seq[String], fields: Seq[(String, Long, Long)],
                threshold: Long): DataFrame =
    scorePairs(
        blockedCandidates(a, b, idCol, blockCols, fields.map(_._1)), fields)
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))

  /** MEASURE-BEFORE-SHIP for a linkage config (the [[Dedup.lshCandidateEval]]
    * counterpart): precision/recall of predicted matches against a ground-
    * truth pair relation, floored basis points. One row:
    * (n_true, n_pred, n_hit, recall_bp, precision_bp). Run it on a labeled
    * slice — the weights/threshold curve, not the corpus, is the
    * deliverable. */
  def linkEval(pred: DataFrame, truth: DataFrame): DataFrame = {
    val p = pred.select(col("id_a"), col("id_b"))
    val hit = truth.join(p, Seq("id_a", "id_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(p.agg(count(lit(1)).as("n_pred")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_pred"), col("n_hit"),
        when(col("n_true") > 0, expr("(10000 * n_hit) div n_true"))
          .otherwise(lit(0L)).cast("long").as("recall_bp"),
        when(col("n_pred") > 0, expr("(10000 * n_hit) div n_pred"))
          .otherwise(lit(0L)).cast("long").as("precision_bp"))
  }

  /** SOUND Jaro–Winkler candidate bound — the cheap prefilter that runs
    * BEFORE the O(len·window) scorer. Derivation (every step an upper
    * bound, so no true pair is ever dropped): a threshold on
    * round(jw·10⁴) ≥ bp means jw ≥ (2bp−1)/(2·10⁴); the Winkler boost
    * adds at most 0.4·(1−jaro), so jaro ≥ (jw−0.4)/0.6; Jaro's window
    * and (m−t)/m ≤ 1 give jaro ≤ (m/l₁ + m/l₂ + 1)/3; and the match
    * count m never exceeds the common byte multiset
    * Σ_letter min(cntₐ, cnt_b) + min(non-lettersₐ, non-letters_b)
    * (lumping non-letters into one class only raises the bound).
    * Chaining: keep iff 4000·mB·(l₁+l₂) ≥ (2bp−1−12000)·l₁·l₂ — all
    * integer. mB is ONE static-call codegen kernel
    * ([[graft.expressions.JaroCommonBytes]], O(l₁+l₂) with a reused
    * counter) — an unrolled per-class Column tree was tried first and
    * pushed the join condition out of whole-stage codegen (27× slower
    * interpreted); the tiny static call keeps the generated method small.
    * Measured: cuts ~95% of brand-blocked part-name candidates at
    * bp = 9000. Thresholds ≤ 6000 bp make the bound vacuous — the filter
    * returns `true` and the scorer sees every candidate. */
  def jaroBound(aText: Column, bText: Column, minJwBp: Long): Column = {
    require(minJwBp >= 1 && minJwBp <= 10000, s"minJwBp=$minJwBp")
    val t2 = 2L * minJwBp - 1L
    if (t2 <= 12000L) lit(true)
    else {
      val mB = org.apache.spark.sql.graft.ColumnBridge.column(
        graft.expressions.JaroCommonBytes(
          org.apache.spark.sql.graft.ColumnBridge.expression(aText),
          org.apache.spark.sql.graft.ColumnBridge.expression(bText)))
      val la = octet_length(aText).cast("long")
      val lb = octet_length(bText).cast("long")
      lit(4000L) * mB * (la + lb) >= lit(t2 - 12000L) * la * lb
    }
  }

  /** Fuzzy (Jaro–Winkler) field scoring over blocked candidates — the
    * typo-tolerant lane [[scorePairs]]'s exact agreement weights can't
    * provide: per field, similarity in half-up-rounded basis points
    * (`round(jw·10000)` — the repo's cross-engine double convention)
    * weighted by `wBp` centi-weights and summed. Stays a pure projection
    * over the candidate relation: JW is O(len·window) per PAIR, so cost is
    * governed entirely by the blocking that produced `cands` — the 100 TB
    * lever is block choice (+ [[capBlocks]]), never this scorer.
    * Null fields score 0 for that field (unknown ≠ agreement — the
    * Fellegi–Sunter missing-data convention). */
  def fuzzyScorePairs(cands: DataFrame,
                      fields: Seq[(String, Long)]): DataFrame = {
    val score = fields.map { case (f, wBp) =>
      coalesce(
        round(graft.expressions.Exprs.jaroWinkler(
          col(s"a_$f"), col(s"b_$f")) * 10000, 0).cast("long") * lit(wBp),
        lit(0L))
    }.reduceLeft(_ + _)
    cands.withColumn("score", score)
  }

  /** End-to-end fuzzy linkage: block → JW-score → threshold.
    * Output (id_a, id_b, score). */
  def fuzzyLinkPairs(a: DataFrame, b: DataFrame, idCol: String,
                     blockCols: Seq[String], fields: Seq[(String, Long)],
                     threshold: Long): DataFrame =
    fuzzyScorePairs(
        blockedCandidates(a, b, idCol, blockCols, fields.map(_._1)), fields)
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))

  /** Learned Fellegi–Sunter parameters: match prevalence `pNano`, per-field
    * agreement probabilities `mNano(j)` = P(field j agrees | match) and
    * `uNano(j)` = P(agrees | unmatch), all on the exact 1e-9 integer grid,
    * plus the agreement-pattern relation with each pattern's posterior
    * match probability under the converged parameters. */
  final case class FsEmResult(pNano: Long, mNano: Seq[Long], uNano: Seq[Long],
                              patterns: DataFrame)

  /** UNSUPERVISED Fellegi–Sunter parameter estimation via EM over
    * agreement patterns (Fellegi & Sunter 1969; Winkler's EM fitting) —
    * the learning step in front of [[scorePairs]]: instead of
    * hand-calibrated weights, the candidate pairs THEMSELVES estimate
    * match prevalence p and the per-field m/u probabilities, because the
    * pattern histogram is a 2-component mixture the EM separates. This is
    * the standard production ER loop (Splink et al.): block → EM on
    * patterns → posterior-threshold.
    *
    * Determinism contract (the DP/quantile ladder applied to EM): all
    * parameters live on the exact 1e-9 integer grid; the E-step computes
    * each pattern's posterior in DOUBLE from those exact integers in a
    * FIXED multiplication order and floors back to the grid; the M-step
    * is pure integer arithmetic (BigInt mass sums, floor division,
    * [1, 1e9−1] clamps — the clamp also keeps degenerate fits off the
    * 0/1 boundary where EM gets stuck). Every engine and every
    * partitioning produces bit-identical parameters, which is what lets
    * a DuckDB twin reproduce the whole fit.
    *
    * `agreeCols` must be non-null boolean expressions (use null-safe
    * `<=>`; a NULL agreement would silently vanish from the pattern
    * grain). Scale shape: ONE map-side-combinable aggregate collapses
    * the candidate relation to ≤ 2^k pattern counts; EM then runs
    * driver-side on that ≤ 2^k-row relation (the bounded-collect class —
    * k is the FIELD count, never data-sized; k ≤ 10 enforced). The
    * candidate relation is scanned exactly once regardless of rounds. */
  def fellegiSunterEM(cands: DataFrame, agreeCols: Seq[Column], rounds: Int,
                      initPNano: Long = 100000000L,
                      initMNano: Long = 900000000L,
                      initUNano: Long = 100000000L): FsEmResult = {
    val k = agreeCols.size
    require(k >= 1 && k <= 10, s"field count out of range: $k")
    require(rounds >= 1 && rounds <= 100, s"rounds out of range: $rounds")
    val spark = cands.sparkSession
    val pat = cands
      .select(agreeCols.zipWithIndex.map { case (c, i) =>
        c.cast("boolean").as(s"a$i")
      }: _*)
      .groupBy((0 until k).map(i => col(s"a$i")): _*)
      .agg(count(lit(1)).as("n"))
      .collect() // ≤ 2^k rows — the bounded driver-read class
      .map { r =>
        require((0 until k).forall(!r.isNullAt(_)),
          "agreement expressions must be non-null (use null-safe <=>)")
        ((0 until k).map(r.getBoolean), r.getLong(k))
      }
    require(pat.nonEmpty, "no candidate pairs — nothing to fit")
    val Grid = 1000000000L
    def clamp(x: BigInt): Long = x.max(1).min(Grid - 1).toLong
    // E-step posterior on the nano grid: fixed multiply order, floor back
    def wNano(bits: Seq[Boolean], p: Long, m: Array[Long],
              u: Array[Long]): Long = {
      val pd = p.toDouble / 1e9
      var num = pd
      var den = 1.0 - pd
      var j = 0
      while (j < k) {
        val md = m(j).toDouble / 1e9
        val ud = u(j).toDouble / 1e9
        num *= (if (bits(j)) md else 1.0 - md)
        den *= (if (bits(j)) ud else 1.0 - ud)
        j += 1
      }
      math.floor(num / (num + den) * 1e9).toLong
    }
    var p = initPNano
    val m = Array.fill(k)(initMNano)
    val u = Array.fill(k)(initUNano)
    for (_ <- 0 until rounds) {
      val ws = pat.map { case (bits, n) => (bits, n, wNano(bits, p, m, u)) }
      val matchMass = ws.map { case (_, n, w) => BigInt(n) * w }.sum
      val unmatchMass = ws.map { case (_, n, w) => BigInt(n) * (Grid - w) }.sum
      val totalN = ws.map { case (_, n, _) => BigInt(n) }.sum
      val newP = clamp(matchMass / totalN)
      for (j <- 0 until k) {
        val mj = ws.collect { case (b, n, w) if b(j) => BigInt(n) * w }.sum
        val uj = ws.collect { case (b, n, w) if b(j) =>
          BigInt(n) * (Grid - w) }.sum
        m(j) = clamp(mj * Grid / matchMass)
        u(j) = clamp(uj * Grid / unmatchMass)
      }
      p = newP
    }
    // final E-step under the converged parameters → the pattern relation
    val rows = pat.map { case (bits, n) =>
      (bits.map(b => if (b) "1" else "0").mkString, n,
        wNano(bits, p, m, u))
    }.toSeq
    import spark.implicits._
    val patterns = rows.toDF("pattern", "n", "posterior_nano")
      .withColumn("is_match", col("posterior_nano") >= Grid / 2)
    FsEmResult(p, m.toSeq, u.toSeq, patterns)
  }
}
