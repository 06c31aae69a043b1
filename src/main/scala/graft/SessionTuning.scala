package graft

import org.apache.spark.sql.SparkSession

/** The one place that knows how a graft session is configured: Bench,
  * Verify, the probes, the shipped apps and the specs all build through
  * [[local]] or [[builder]], so the benched configuration and the
  * oracle-gated configuration cannot drift.
  *
  * Every setting is a constant. AQE stays on (Spark's default) with
  * Spark's own 1 MiB coalescing floor. AQE sizes post-shuffle partitions by
  * bytes, and the engine's verify and scoring kernels (thresholded
  * Levenshtein, Jaro-Winkler, cosine folds, digest loops) are CPU-dense per
  * byte, so at that floor a sub-MiB candidate shuffle coalesces to one
  * partition and its verify runs on one core (q_link_tables spent 6.2 of
  * 9.4 s in two single-task stages). A global 16 KiB floor fixed those
  * stages (q_link_tables 9.4 → 6.6 s) but taxed the light tail and every
  * iterative loop's per-round task dispatch (OPTIMIZATION_r13.md: +35 s
  * across ~250 untouched queries, q_cluster_best 3.4 → 13.6 s). So the
  * CPU-dense verifies repartition explicitly (`Dedup.spreadPairs`), and
  * scans feeding CPU-dense kernels are widened by `Tables.loadWide`.
  */
object SessionTuning {

  /** Streaming checkpoint writes (offset and commit logs, state-store
    * deltas and snapshots, state schema files) on a local path go through
    * [[graft.streaming.LocalCheckpointFileManager]]; every other scheme
    * keeps Spark's manager.
    *
    * Why: without the native Hadoop library, Spark's default manager on a
    * `file:` path runs `chmod` and `stat` child processes for each atomic
    * write. Measured on a 4-vCPU VM (300-byte writes): 20 child processes
    * and ~36 ms per `createAtomic`, against 0 and ~0.8 ms, two fsyncs
    * included, through java.nio. A micro-batch makes one such write per log
    * entry and one per stateful partition, so this was most of the
    * streaming per-batch cost (`stream_replay` in BASELINE.md).
    * Files on disk are identical either way, so a checkpoint resumes under
    * either manager. Batch queries never create a checkpoint manager. */
  val CheckpointFileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  val checkpointFileManagerClass: String =
    classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** Per-session artifact isolation is off, so the tasks of every session
    * run under the executors' one default class loader.
    *
    * Why: Spark's codegen cache is keyed by (class loader, source). With
    * isolation on (Spark 4's default), each session gets its own executor
    * class loader, and every streaming query runs on a cloned session, as
    * does `Dedup.nearDupClusters`'s loop (`cloneSession`). Each query or
    * restart thus compiled again, under a new loader, classes whose source
    * was byte-identical to the last query's. Measured on `stream_replay`
    * (4 cores): 115 classes compiled per timed pass of the six pipelines,
    * against 10 in the first pass and 0 in the second with one loader;
    * traced `exec.codegen_compile_ms` 1,118 → 43 ms and `latency_p50_ms`
    * 403 → 299 ms (BASELINE.md). Graft adds no session artifacts (no
    * `addArtifact` or `addJar`), so nothing depends on the isolation. The
    * setting is read only when a session is created: a session built
    * outside [[apply]] brings the recompiles back. */
  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Local executor threads for a main: `SPARK_GRAFT_CPUS` when set, else
    * the main's own `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** A `local[cpus]` session with as many shuffle partitions. */
  def local(cpus: Int): SparkSession.Builder = builder(s"local[$cpus]", cpus)

  /** A session on `master` with `partitions`-way shuffles. */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    apply(SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong))

  /** The settings every graft session shares (`nanosAsLong`: see
    * `Tables.load`), and [[GraftExtensions]]: graft's SQL functions and
    * its planner rule for Spark's double `round`.
    *
    * Why the extension is installed here: this is the one builder every
    * graft session passes through, and a session gets its functions and
    * optimizer rules only when it is built. Streaming queries and
    * `cloneSession` children inherit them from the session they clone,
    * and a rule in the optimizer covers the Column API, SQL text and every
    * micro-batch alike, so no query site chooses a kernel or registers a
    * function by hand. `withExtensions` rather than the static
    * `spark.sql.extensions` conf: the conf is read from the SparkContext,
    * which a builder does not configure when a context is already running;
    * the builder's own extensions reach every session it creates. */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(CheckpointFileManagerKey, checkpointFileManagerClass)
      .config(ArtifactIsolationKey, "false")
}
