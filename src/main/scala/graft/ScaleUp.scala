package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-trend data generator: replicate a testdata directory N× into a
  * larger one (default 10× sf0.1 ≈ sf1) as N ISOMORPHIC UNIVERSES, so
  * per-query cost SHOULD scale linearly and a superlinear operator is
  * (with the one documented exception below) an engine problem, not a
  * data-model artifact:
  *
  *  - every join key shifts by `copy * 1e8` — copies never join each other,
  *    so join fan-out per key is unchanged (naive unshifted replication
  *    would square it);
  *  - document text gets a per-copy token suffix — copies are textually
  *    DISJOINT, so the near-dup pair structure repeats N× instead of every
  *    doc gaining N-1 clones (which would inflate pair counts ~N²/2);
  *  - embeddings get a per-copy deterministic sign flip per dimension — an
  *    orthogonal transform, so within-copy cosines are EXACTLY preserved
  *    while cross-copy cosines collapse to noise; labels/cells shift like
  *    keys;
  *  - fixed dimensions (nation, region) stay single-copy, exactly like
  *    TPC-H's non-scaling tables; copy 0 is byte-identical content to the
  *    source, so the source results embed in the scaled ones.
  *
  * One KNOWN exception to the linear-cost expectation: operators that
  * derive their blocking cells from FIXED-PARAMETER quantization of the
  * embeddings (ivfAssign with fixed k — q_ivf_pairs). The quantizer seeds
  * are the k lowest vec_ids, which exist only in copy 0; every copy's
  * vectors still land in one of those same k cells, so cell sizes grow ×N
  * and within-cell pair generation grows ×N². That is the data-model
  * artifact of holding k fixed while the corpus grows — real IVF scales
  * k with corpus size (k ∝ √n rule) — NOT an engine defect; BASELINE.md's
  * scale table flags the affected ratios accordingly. Label-blocked
  * operators don't hit this (labels shift per copy, so cells stay
  * per-copy sized).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> [copies=10]
  */
object ScaleUp {
  private val Shift = 100000000L // far above any sf0.1 key

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = SessionTuning.local(SessionTuning.cpus(8)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** N copies of `df`, a `__cp` column marking each. */
    def rep(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(copies).select(col("id").cast("int").as("__cp")))

    def shiftKeys(df: DataFrame, keys: Seq[String]): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + col("__cp") * Shift))

    def write(name: String, df: DataFrame): Unit = {
      df.drop("__cp").write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name written")
    }

    def t(name: String) = Tables.load(spark, src, name)

    // fixed dims: single copy
    write("region", t("region"))
    write("nation", t("nation"))

    write("customer", shiftKeys(rep(t("customer")), Seq("c_custkey")))
    write("supplier", shiftKeys(rep(t("supplier")), Seq("s_suppkey")))
    write("part", shiftKeys(rep(t("part")), Seq("p_partkey")))
    write("orders", shiftKeys(rep(t("orders")), Seq("o_orderkey", "o_custkey")))
    write("lineitem", shiftKeys(rep(t("lineitem")), Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", shiftKeys(rep(t("events")), Seq("event_id", "user_id")))

    // per-copy token suffix keeps copies textually disjoint; copy 0 pristine.
    // "x<cp>" (not "_<cp>") so the Java replacement string can't be read as
    // a group reference.
    write("documents",
      shiftKeys(rep(t("documents")), Seq("doc_id"))
        .withColumn("text",
          when(col("__cp") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1x"), col("__cp"))))))

    // per-(copy, dim) sign flip: orthogonal per copy, noise across copies
    write("embeddings",
      shiftKeys(rep(t("embeddings")), Seq("vec_id"))
        .withColumn("label", col("label") + col("__cp") * 10000)
        .withColumn("embedding",
          when(col("__cp") === 0, col("embedding"))
            .otherwise(transform(col("embedding"),
              (x, i) => (x * when(pmod(hash(col("__cp"), i), lit(2)) === 0, 1.0).otherwise(-1.0))
                .cast("float")))))

    spark.stop()
  }
}
