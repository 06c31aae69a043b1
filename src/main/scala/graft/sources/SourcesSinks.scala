package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Source factories (SURVEY.md §2.1). Every reference input maps here:
  *
  *  - S1 Kafka topics      → `kafkaJson` (decode = from_json over `value`)
  *  - S2 custom push feed  → `replayFeed` (DataSource V2 micro-batch, see
  *                           ReplayFeedProvider) or `fileJson` replay
  *  - S3 multi-stream merge→ union of sources / multi-topic subscribe
  *  - S4/S5 EventHubs, Kinesis → Kafka-shaped; same `kafkaJson` wiring
  *  - S6 in-memory test    → MemoryStream (see specs)
  *
  * This container has no Kafka broker or connector jar (zero-egress), so
  * `kafkaJson` is compile-checked wiring; swap-in is a spark-submit
  * `--packages` concern, not a code change.
  */
object Sources {

  def kafkaJson(spark: SparkSession, brokers: String, topics: String,
                schema: StructType): DataFrame =
    decodeKafkaValue(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics) // comma-separated = S3 multi-topic merge
        .load(),
      schema)

  /** The value-column decode `kafkaJson` applies to the raw broker frame
    * (binary `value` + broker `timestamp`). Public and batch-applicable so
    * the serde round-trip is testable WITHOUT a broker: `KafkaSerdeSpec`
    * asserts it inverts `Sinks.encodeKafkaValue` row-for-row — the same
    * produce/consume serde contract the reference exercises end-to-end
    * (FilterExample.java:86-99). */
  def decodeKafkaValue(raw: DataFrame, schema: StructType): DataFrame =
    raw
      .select(from_json(col("value").cast("string"), schema).as("m"),
        col("timestamp").as("arrivalTs"))
      .select(col("m.*"), col("arrivalTs"))

  /** `decodeKafkaValue` with CORRUPT-RECORD ROUTING: malformed payloads
    * don't silently decode to all-null rows (the default PERMISSIVE
    * behavior, which loses the evidence) — they surface flagged, raw
    * payload intact, so a dead-letter sink can keep them for replay
    * after a producer fix. An ingest stream at scale always has a
    * malformed tail; dropping it silently is a data-loss bug and failing
    * the stream on it (FAILFAST) is an availability bug — routing is the
    * production answer. Null payloads (Kafka tombstones) are NOT corrupt:
    * they pass through with null fields, flag false.
    *
    * Columns out: schema's fields + `raw_value` + `arrivalTs` +
    * `is_corrupt` — still one codegen'd projection, no extra pass. */
  def decodeKafkaValueWithDlq(raw: DataFrame, schema: StructType): DataFrame = {
    val withCr = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    raw
      .select(from_json(col("value").cast("string"), withCr,
          java.util.Map.of("columnNameOfCorruptRecord", "_corrupt_record")).as("m"),
        col("value").cast("string").as("raw_value"),
        col("timestamp").as("arrivalTs"))
      .select(col("m.*"), col("raw_value"), col("arrivalTs"))
      .withColumn("is_corrupt", col("_corrupt_record").isNotNull)
      .drop("_corrupt_record")
  }

  /** File-directory replay of JSON-per-line events; `filesPerTrigger`
    * throttles ingestion to simulate a live feed. */
  def fileJson(spark: SparkSession, dir: String, schema: StructType,
               filesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .json(dir)

  /** Synthetic load source (rows/sec), for soak tests. */
  def rate(spark: SparkSession, rowsPerSecond: Long): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()

  /** S2: the custom push-source capability — a DataSource V2 micro-batch
    * stream replaying a line file at a bounded rate. */
  def replayFeed(spark: SparkSession, path: String, linesPerBatch: Int = 100): DataFrame =
    spark.readStream
      .format("graft.sources.ReplayFeedProvider")
      .option("path", path)
      .option("linesPerBatch", linesPerBatch)
      .load()
}

/** Sink factories (SURVEY.md §2.2). K1 kafka, K3 rolled file blobs, K5
  * memory test sink; K2 is `UpsertParquet.sink`, K4 `writeStream.foreachBatch`. */
object Sinks {

  /** K1: serialize all columns to a JSON `value` and produce to a topic. */
  def kafkaJson[T](ds: Dataset[T], brokers: String, topic: String,
                   checkpoint: String): DataStreamWriter[_] =
    encodeKafkaValue(ds.toDF())
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** The value-column encode `kafkaJson` produces (all columns → one JSON
    * `value`). Public and batch-applicable — see `Sources.decodeKafkaValue`
    * for the tested round-trip contract. */
  def encodeKafkaValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(col("*"))).as("value"))

  /** K3: rolled file output — `maxRecordsPerFile` is the engine's version
    * of the reference's maxMessagesPerBlob=2 blob-roll knob
    * (azure-blob-application.properties:43). Format "parquet" here; for
    * the reference's actual Avro record format use `AvroSink.rolledAvro`
    * (plain Avro container files, no spark-avro needed). */
  def rolledFiles[T](ds: Dataset[T], dir: String, checkpoint: String,
                     maxRecordsPerFile: Long, format: String = "parquet"): DataStreamWriter[_] =
    ds.writeStream.format(format)
      .option("path", dir)
      .option("checkpointLocation", checkpoint)
      .option("maxRecordsPerFile", maxRecordsPerFile)

  /** K5: named in-memory sink for assertions. */
  def memory[T](ds: Dataset[T], name: String): DataStreamWriter[T] =
    ds.writeStream.format("memory").queryName(name)

  /** Dead-letter routing sink for a `decodeKafkaValueWithDlq` stream: each
    * micro-batch splits once (persisted, so decode runs a single time) —
    * clean rows to `goodDir`, corrupt raw payloads to `dlqDir`. Both sides
    * OVERWRITE their own `epoch=<id>` subdirectory, the same
    * retry-idempotency contract as `CurationStream.nearDupIngest`: a
    * replayed batch replaces its first attempt instead of duplicating it,
    * and each side reads back as one hive-partitioned table. */
  def dlqSink(decoded: DataFrame, goodDir: String, dlqDir: String,
              checkpoint: String): DataStreamWriter[_] =
    decoded.writeStream.foreachBatch { (b: DataFrame, epoch: Long) =>
      val c = b.persist()
      c.filter(!col("is_corrupt"))
        .drop("is_corrupt", "raw_value")
        .write.mode("overwrite").parquet(s"$goodDir/epoch=$epoch")
      c.filter(col("is_corrupt"))
        .select(col("raw_value"), col("arrivalTs"))
        .write.mode("overwrite").parquet(s"$dlqDir/epoch=$epoch")
      c.unpersist(); ()
    }.option("checkpointLocation", checkpoint)
}
