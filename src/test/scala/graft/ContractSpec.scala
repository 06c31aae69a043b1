package graft

/** Driver-contract invariants: the correctness gate only checks queries
  * that appear in BOTH maps, so a key drifting out of `oracleSql` would
  * silently downgrade that operator to a rows-only check. */
class ContractSpec extends SparkSpec {

  /** The declared rows-only exceptions — EMPTY since round 9: the zlib
    * kernel is spec-only library surface and q_compress_ratio now runs
    * the oracle-able entropy-coded-size twin, so every driver-checked
    * query hash-twins. Anything appearing here again is drift. */
  private val RowsOnly = Set.empty[String]

  test("every query has an oracle twin and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o -- RowsOnly).isEmpty,
      s"queries without oracle: ${(q -- o -- RowsOnly).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
    assert((RowsOnly -- q).isEmpty && (RowsOnly & o).isEmpty,
      "RowsOnly entries must exist as queries and must NOT have oracles")
  }

  test("flagship entry returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Round-9 gate: every query's RESULT SCHEMA stays inside the blessed
    * type set the driver's typed-value hash is known to compare cleanly
    * ({BIGINT, DOUBLE, VARCHAR, BOOLEAN, DATE, TIMESTAMP} on the DuckDB
    * side). Anything else — an un-cast Spark INT, a decimal(38,0) sum, a
    * float — has hash-failed twice (r5 q_expectations, r8 q_bootstrap)
    * even with numerically identical values. Schema derivation is
    * analysis-only for declarative queries; the iterative/materializing
    * ones execute their driver-side steps at sf0.001, which is what
    * PlanSpec already does. tools/check.py enforces the same contract on
    * the ORACLE side (DuckDB relation types).
    *
    * The same loop checks each query's optimized plan, subqueries
    * included: no Spark `round` over a double may be left, since the
    * session's rule (`graft.expressions.FastDoubleRound`) plans every one
    * as `fast_round`. A [[ContractSorted]] query is checked on its body:
    * its declared plan is only Sort → Exchange → a checkpointed scan, and
    * the checkpoint keeps the body's schema. */
  test("every query's result schema uses only driver-hashable types") {
    import org.apache.spark.sql.catalyst.expressions.Round
    import org.apache.spark.sql.types._
    val d = "/root/testdata/sf0.001"
    def blessed(t: DataType): Boolean = t match {
      case LongType | DoubleType | StringType | BooleanType | DateType => true
      case _: TimestampType | TimestampNTZType => true
      case _ => false
    }
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn match {
        case c: ContractSorted => c.body(spark, d)
        case _ => fn(spark, d)
      }
      val doubleRounds = df.queryExecution.optimizedPlan.collectWithSubqueries {
        case p => p.expressions.flatMap(_.collect {
          case r: Round if r.child.dataType == DoubleType => r })
      }.flatten
      df.schema.fields.filterNot(f => blessed(f.dataType))
        .map(f => s"$name.${f.name}: ${f.dataType.simpleString}") ++
        doubleRounds.map(r => s"$name: Spark's round on a double: $r")
    }
    assert(bad.isEmpty, s"non-blessed result columns or double rounds:\n  ${bad.mkString("\n  ")}")
  }

  /** The query's outermost global Sort, walked through order-preserving
    * wrappers only. None = no top-level sort, which the tie gate treats
    * as a failure: the driver hashes rows in result order, so an
    * un-sorted result has no engine-independent order contract. */
  private def topSort(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.catalyst.plans.logical.Sort] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def walk(p: LogicalPlan): Option[Sort] = p match {
      case s: Sort if s.global => Some(s)
      case p: Project => walk(p.child)
      case l: GlobalLimit => walk(l.child)
      case l: LocalLimit => walk(l.child)
      case a: SubqueryAlias => walk(a.child)
      case _ => None
    }
    walk(df.queryExecution.analyzed)
  }

  /** Rows of the Sort's CHILD that tie on the full sort-key tuple —
    * evaluated below any final projection, so sort columns the output
    * later drops (the ADC queries sort on the pre-division integer) are
    * still in scope, and non-attribute sort expressions audit as the
    * expressions they are. */
  private def tiedRows(sort: org.apache.spark.sql.catalyst.plans.logical.Sort): Long = {
    import org.apache.spark.sql.graft.ColumnBridge
    val keyCols = sort.order.map(o => ColumnBridge.column(o.child))
    ColumnBridge.ofRows(spark, sort.child)
      .groupBy(keyCols: _*).count()
      .filter(org.apache.spark.sql.functions.col("count") > 1)
      .limit(1).count()
  }

  /** Round-10 tie gate: every query's ORDER BY keys must form a UNIQUE
    * key of its result. The driver hashes rows in result order, so a tie
    * in the sort key leaves the tied rows' relative order to each
    * engine's sort implementation — the hash-fail class that historically
    * only surfaced at sf0.1 (bigger data = more collisions). sf0.01 is
    * the driver's own gate scale. */
  test("every query's ORDER BY columns form a unique key of its result (sf0.01)") {
    val d = "/root/testdata/sf0.01"
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, d)
      topSort(df) match {
        // a single-row result (global aggregate) is order-trivial; any
        // other sortless result has no engine-independent order contract
        case None =>
          if (df.limit(2).count() <= 1) None
          else Some(s"$name: no top-level global Sort on a multi-row result")
        case Some(s) =>
          if (tiedRows(s) > 0)
            Some(s"$name: sort keys " +
              s"${s.order.map(_.child.sql).mkString("(", ", ", ")")} " +
              "have tied rows — result order is engine-dependent")
          else None
      }
    }
    assert(bad.isEmpty, s"tie-audit failures:\n  ${bad.mkString("\n  ")}")
  }

  test("the tie audit catches a deliberately tied query") {
    import spark.implicits._
    // two rows tie on the sort key: the audit must flag it
    val tied = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
      .orderBy("k")
    val Some(sort) = topSort(tied)
    assert(tiedRows(sort) > 0, "the toy tie must be caught")
    // a unique-key sort passes
    val ok = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
      .orderBy("k", "v")
    assert(tiedRows(topSort(ok).get) == 0)
    // sort keys dropped by a later projection still audit (the ADC shape)
    val shaped = Seq((1L, 10L), (2L, 10L)).toDF("id", "raw")
      .orderBy("raw")
      .select((org.apache.spark.sql.functions.col("raw") / 10.0).as("d"))
    assert(tiedRows(topSort(shaped).get) > 0,
      "a tie on a projected-away sort column must still be caught")
    // and an un-sorted result is flagged as un-auditable
    assert(topSort(Seq(1).toDF("x")).isEmpty)
  }
}
