package graft

import org.apache.spark.sql.SparkSession

/** Session-level performance settings shared by every engine entry point
  * (Bench, Verify, the probes, the shipped apps). One home so the benched
  * configuration and the oracle-gated configuration cannot drift.
  *
  * The partition and scan values are env-overridable and
  * scale-parameterised: the defaults are chosen so they are NO-OPs at
  * production partition sizes and only change behaviour where the local
  * fixtures' byte sizes mislead a byte-proportional heuristic. The
  * checkpoint file manager is a constant; it picks its code path by file
  * system.
  */
object SessionTuning {

  /** AQE partition-coalescing floor (optimization guide §2.2/§2.5).
    *
    * Why not the 1 MiB default: AQE sizes post-shuffle partitions by
    * BYTES (`parallelismFirst` honors `minPartitionSize`). The engine's
    * verify/scoring kernels — thresholded Levenshtein, Jaro-Winkler,
    * cosine folds, digest loops — are CPU-dense per byte: a candidate
    * relation of (id_a, id_b) pairs is ~16 bytes/row but carries
    * O(maxDist·len) edit-distance work per row once texts attach. With
    * the default floor a sub-MiB candidate shuffle coalesces to ONE
    * partition and the whole verify serializes onto one core (measured:
    * q_link_tables spent 6.2 of 9.4 s in two single-task stages).
    * A 16 KiB floor keeps coalescing adaptive (tiny shuffles still
    * collapse) while CPU-dense stages spread over the cores.
    *
    * Default: Spark's own 1 MiB nonetheless. A GLOBAL 16 KiB floor was
    * tried first (optimization r13) and won big on the candidate-verify
    * stages (q_link_tables 9.4 → 6.6 s from the floor alone) but taxed
    * the suite's light tail and multiplied every iterative loop's
    * per-round task dispatch (clean full-suite run: +35 s across ~250
    * untouched queries, q_cluster_best 3.4 → 13.6 s) — so the CPU-dense
    * verifies get explicit, targeted repartitions instead
    * (`Dedup.spreadPairs`), and the floor stays at the default. The env
    * knob remains for experiments. */
  val minPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "1m")

  /** Enables [[Tables]]' scale-adaptive scan conditioning (see the
    * `conditionScan` scaladoc there): repartition a scan to a
    * byte-adaptive width — min(8, cores) floor, scaling up with input
    * bytes, capped at the cores — ONLY when the planner would produce
    * fewer splits than that width; a no-op decision at production split
    * counts. */
  val scanParallelize: String =
    sys.env.getOrElse("SPARK_GRAFT_SCAN_PARALLELIZE", "true")

  /** Repartition width for conditioned scans; 0 = Tables' byte-adaptive
    * default (clamp(bytes/targetBytesPerTask, min(8, cores), cores) — see
    * the width note at `Tables.conditionScan`). */
  val scanParallelism: String =
    sys.env.getOrElse("SPARK_GRAFT_SCAN_PARALLELISM", "0")

  /** Bytes of conditioned-scan input per task for the byte-adaptive
    * width (default 1 MiB; r14 sweep in OPTIMIZATION_r14.md). */
  val scanTargetBytesPerTask: String =
    sys.env.getOrElse("SPARK_GRAFT_SCAN_TARGET_BYTES", (1L << 20).toString)

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

  /** A builder for `master` with every setting above. */
  def builder(master: String): SparkSession.Builder =
    apply(SparkSession.builder().master(master))

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        minPartitionSize)
      .config("spark.graft.scan.parallelize", scanParallelize)
      .config("spark.graft.scan.parallelism", scanParallelism)
      .config("spark.graft.scan.targetBytesPerTask", scanTargetBytesPerTask)
      .config(CheckpointFileManagerKey, checkpointFileManagerClass)
}
