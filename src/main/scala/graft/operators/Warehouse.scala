package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Storage-layout / incremental-maintenance operators — the warehouse-side
  * capabilities a 100 TB pipeline leans on: zone-map (file-level min/max)
  * statistics with predicate skip evaluation, and algebraic partial-aggregate
  * state that merges across incremental loads without a full recompute.
  *
  * Reference grounding: the reference materializes per-key state into local
  * stores and re-reads it incrementally (hello-samza
  * `StreamTableJoinExample.java:112-124`, `WikipediaApplication.java:155`);
  * these operators are the batch/warehouse re-expression of that
  * "maintain state, don't recompute" contract on Spark.
  */
object Warehouse {

  /** Zone map: per-bucket min/max/null-count statistics over `statCols`,
    * the file/row-group-level skipping index every columnar store keeps
    * (parquet row-group stats, ORC stripe stats, Delta/Iceberg file stats).
    * `bucket` stands in for the physical file id — at cluster scale it IS
    * the file id (or `spark_partition_id()` at write time).
    *
    * Output: (bucket, n_rows, min_<c>, max_<c>, nnull_<c> per stat col).
    *
    * Scale shape: ONE map-side-combinable aggregate pass — the zone map of
    * a 100 TB table is built in the same scan that writes it, and its
    * cardinality is file-count, not row-count (~1e5 rows for 100 TB of
    * 1 GB files), so it broadcasts to planners for free. */
  def zoneMap(df: DataFrame, bucket: Column, statCols: Seq[String]): DataFrame = {
    val stats = statCols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nnull_$c"))
    }
    df.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_rows"), stats: _*)
  }

  /** Merge zone maps from incremental loads (same bucket/stat schema):
    * counts add, mins/maxes fold, null-counts add — associative and
    * commutative like [[mergeAggStates]], so per-load zone maps compose
    * into the table-wide skipping index without rescanning history. */
  def mergeZoneMaps(zones: Seq[DataFrame], statCols: Seq[String]): DataFrame = {
    val stats = statCols.flatMap { c =>
      Seq(min(col(s"min_$c")).as(s"min_$c"), max(col(s"max_$c")).as(s"max_$c"),
        sum(col(s"nnull_$c")).as(s"nnull_$c"))
    }
    zones.reduce(_ unionByName _)
      .groupBy(col("bucket"))
      .agg(sum("n_rows").as("n_rows"), stats: _*)
  }

  /** Evaluate a range predicate `lo <= statCol <= hi` against a zone map:
    * `can_skip` is true when the bucket's [min, max] envelope provably
    * excludes the range — the exact pruning rule Spark's parquet reader and
    * Delta/Iceberg manifests apply. A bucket that is all-NULL in the column
    * (min/max NULL) is also skippable for a non-null-matching range
    * predicate. Conservative by construction: can_skip=false never loses
    * rows; true never loses a match.
    *
    * The skip RATIO this reports is the point of the exercise: it is the
    * fraction of a 100 TB scan's I/O that clustering (see
    * [[RelationalOps]]' z-order lane) converts into metadata lookups. */
  def zoneSkip(zones: DataFrame, statCol: String, lo: Column, hi: Column): DataFrame =
    zones.withColumn("can_skip",
      coalesce(col(s"max_$statCol") < lo, lit(false)) ||
      coalesce(col(s"min_$statCol") > hi, lit(false)) ||
      col(s"min_$statCol").isNull)

  /** Algebraic aggregate STATE per key: (n, s_cents, mn_cents, mx_cents)
    * over a 2-dp money-ish value column — exact integer cents, partition-
    * order invariant (the repo's money convention). This is the partial
    * form of count/sum/min/max/avg: states from disjoint loads merge with
    * [[mergeAggStates]] instead of rescanning history — the incremental-
    * materialized-view contract (Samza's changelog-backed store semantics,
    * `WikipediaApplication.java:155-181`, re-expressed as data).
    *
    * Scale shape: building a state is one map-side-combinable pass over
    * only the NEW partition of data; merging is key-cardinality work. At
    * 100 TB that is the difference between scanning a day and scanning
    * three years. */
  def aggState(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val c = round(col(valueCol) * 100, 0).cast("long")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(c).as("s_cents"),
        min(c).as("mn_cents"), max(c).as("mx_cents"))
  }

  /** Merge any number of aggregate states (same key schema) into one —
    * count/sum add, min/max fold. Associative + commutative, so loads can
    * merge in any order and any grouping (daily → monthly → total). */
  def mergeAggStates(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(keyCols.map(col): _*)
      .agg(sum("n").as("n"), sum("s_cents").as("s_cents"),
        min("mn_cents").as("mn_cents"), max("mx_cents").as("mx_cents"))

  /** Compaction plan over a zone map: pack small files (buckets) into
    * merge groups of ~`targetRows` by cumulative-sum binning in bucket
    * order — the small-file problem every incremental pipeline hits
    * (epoch deltas, streaming sinks, CDC). Output: one row per merge
    * group (merge_group, n_files, total_rows) — a group with n_files > 1
    * is a rewrite task; a lone file at target size passes through.
    *
    * Scale shape: runs on the ZONE MAP (file-cardinality), never the
    * data; the cum-sum window is a single ordered pass over ~1e5 rows
    * for 100 TB of 1 GB files. The deterministic bucket-order packing
    * (vs bin-packing heuristics) keeps the plan a pure function of the
    * zone map — re-running it after a crash yields the same groups. */
  def compactionPlan(zones: DataFrame, targetRows: Long): DataFrame = {
    require(targetRows >= 1, s"targetRows must be >= 1: $targetRows")
    // single-partition sort bound: zone-map grain (~1e5 rows for 100 TB
    // of 1 GB files — see the scale-shape note above), never the data
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    zones
      .select(col("bucket"), col("n_rows"), sum("n_rows").over(w).as("__cum"))
      // a file belongs to the group its START falls in: (cum - n) div target
      .select(col("bucket"), col("n_rows"),
        expr(s"(__cum - n_rows) div $targetRows").as("merge_group"))
      .groupBy("merge_group")
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("total_rows"))
  }

  /** Join cardinality estimation from a deterministic KEY sample — the
    * optimizer-statistics question ("how big is A ⋈ B on k?") answered
    * without running the join: sample `pct`% of A's join keys by the
    * repo's Knuth id hash (cluster sampling at key grain — unbiased for
    * the total since E[Σ_sampled cntA·cntB · 100/pct] = Σ cntA·cntB),
    * multiply per-key counts against B's, and scale at the end in exact
    * integer arithmetic. One row: (est_rows, actual_rows, err_bp).
    *
    * The actual is computed from per-key COUNT PRODUCTS, never a
    * materialized join — both sides reduce to key-cardinality relations
    * before touching each other, so the operator is cheap enough to run
    * as a pre-flight check before a 100 TB join (the point). Products
    * accumulate in decimal(38,0) (DuckDB HUGEINT): two 1e9-row skew keys
    * already push a Long sum past 2^63. */
  def joinCardinalityEstimate(a: DataFrame, b: DataFrame, keyCol: String,
                              pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 100, s"pct must be in [1,100]: $pct")
    val ca = a.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("na"))
      // caller-owned cache (returned plan reads it from >1 branch); the
      // session's CacheManager holds it until unpersist/clearCache
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = b.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("nb"))
    // b = a (a self-join estimate) gives cb the plan ca already cached;
    // persisting it again only logs "Asked to cache already cached data"
    if (cb.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      cb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sampled = ca.filter(Curation.knuthHash(col("k"), 100L) < pct)
    val est = sampled.join(cb, "k")
      .agg(sum(expr("CAST(na AS DECIMAL(38,0)) * nb")).as("__s"))
      .select(expr(s"CAST(__s * 100 div $pct AS BIGINT)").as("est_rows"))
    val act = ca.join(cb, "k")
      .agg(sum(expr("CAST(na AS DECIMAL(38,0)) * nb")).as("__a"))
      .select(expr("CAST(__a AS BIGINT)").as("actual_rows"))
    est.crossJoin(act).select(
      coalesce(col("est_rows"), lit(0L)).as("est_rows"),
      coalesce(col("actual_rows"), lit(0L)).as("actual_rows"),
      when(coalesce(col("actual_rows"), lit(0L)) > 0,
        expr("abs(coalesce(est_rows, 0) - actual_rows) * 10000 div actual_rows"))
        .otherwise(lit(0L)).cast("long").as("err_bp"))
  }

  /** Finalize a state into user-facing aggregates: dollars at 2 dp, the
    * average at 4 dp via the exact integer quotient (identical in DuckDB
    * regardless of which loads the state came from). */
  def finalizeAggState(state: DataFrame): DataFrame =
    state.select(state.columns.filterNot(
        Set("s_cents", "mn_cents", "mx_cents")).toIndexedSeq.map(col) ++ Seq(
      round(col("s_cents") / 100.0, 2).as("sum_value"),
      round(col("mn_cents") / 100.0, 2).as("min_value"),
      round(col("mx_cents") / 100.0, 2).as("max_value"),
      // FLOORED 4-dp mean via exact integer division — round() of the
      // double quotient lands on the .5 boundary whenever 100·s_cents
      // divides n·(a power of 10), where Spark (HALF_UP) and DuckDB
      // (raw double) disagree (surfaced at sf0.001: 30703/8 cents)
      (expr("(100 * s_cents) div n") / 10000.0).as("avg_value")): _*)

  /** Incremental JOIN-VIEW maintenance: the view is V = A ⋈ B (inner
    * equi-join on `keys`); given insert-only deltas dA and dB, the rows
    * to APPEND are exactly
    *
    *   dV = dA ⋈ (B ∪ dB)  ∪  A ⋈ dB
    *
    * (the classic delta-rule factoring of dA⋈B + A⋈dB + dA⋈dB with the
    * dA⋈dB term folded into the first join — each new pair is produced
    * exactly once). BAG semantics throughout: the identity holds for
    * multisets, so duplicate rows on either side need no special-casing.
    *
    * This is the maintenance step the reference performs row-at-a-time
    * against its materialized table (`StreamTableJoinExample.java:112-124`
    * — probe the stored side, emit the join of the new row); here it is
    * the set-oriented batch form both masters are never rescanned for.
    *
    * Scale shape — the whole point of the rule: the MASTERS NEVER
    * SHUFFLE. Both delta sides are broadcast (deltas are ingest-batch
    * sized; masters are the 100 TB side), so dV costs two master scans
    * with map-side hash probes — compare a full recompute, which
    * re-shuffles A and B on the key every refresh. Output columns:
    * keys, then A's columns, then B's columns. */
  def joinViewDelta(aOld: DataFrame, aDelta: DataFrame,
                    bOld: DataFrame, bDelta: DataFrame,
                    keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "join keys required")
    val fromADelta = broadcast(aDelta).join(bOld.unionByName(bDelta), keys)
    val fromBDelta = aOld.join(broadcast(bDelta), keys)
    fromADelta.unionByName(fromBDelta)
  }
}
