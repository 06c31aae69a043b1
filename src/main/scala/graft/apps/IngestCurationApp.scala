package graft.apps

import graft.operators.Outputs
import graft.streaming.CurationStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The end-to-end training-data INGEST pipeline — the story the extension
  * suite tells, as one runnable app: a JSON document feed streams in,
  * malformed payloads route to a dead-letter directory, clean documents
  * pass the curation gate (quality ≥ threshold, language match,
  * deterministic sampling, content-fingerprint exact dedup), and each
  * micro-batch of survivors lands in deterministic training shards.
  *
  * Every stage is an operator this library tests independently
  * (`decodeKafkaValueWithDlq`-style corrupt routing,
  * `CurationStream.gateScan` — the SAME scan-side gate the streaming
  * `curationGate` runs — and `writeTrainingShards`); the app is their
  * composition, with the same epoch-overwrite retry idempotency the
  * streaming dedup sink uses. Exact dedup enforces BOTH uniqueness
  * invariants: per id (a re-delivered id — byte-identical or edited —
  * never ships twice) and per content fingerprint (byte-identical text
  * under a new id never ships twice), within a batch and, through the
  * stored (fp, doc_id) index at `<outDir>/fpindex`, across batches — the
  * batch-side analogue of `curationGate`'s within-watermark stateful
  * dedup, with storage instead of stream state so it survives restarts
  * (the same state-in-storage shape as `nearDupStep`'s band index). At
  * scale the feed is Kafka (`Sources.kafkaJson`) and the shard directory
  * is object storage — neither changes a line of the pipeline.
  *
  * Usage: runMain graft.apps.IngestCurationApp <jsonFeedFile> <outDir>
  *   [minQuality] [lang] [keepPct] [numShards]
  * Feed lines: {"doc_id": 1, "text": "...", "ts": "2026-01-01T00:00:00"}
  * Output: <outDir>/shards/epoch=N/shard_id=K/ parquet files (curated docs),
  *         <outDir>/dlq/epoch=N/ parquet files (malformed raw lines),
  *         <outDir>/fpindex/epoch=N/ fingerprints first seen in epoch N,
  *         <outDir>/hllstats/ stored HLL registers — live distinct shipped
  *           contents per language (estimate via `Sketches.hllEstimate(
  *           SketchMaintenance.dataRows(...), "lang_pred")`).
  */
object IngestCurationApp {

  def main(args: Array[String]): Unit = {
    val input = args.headOption.getOrElse(
      sys.error("usage: IngestCurationApp <jsonFeedFile> <outDir> [minQuality] [lang] [keepPct] [numShards]"))
    val outDir = if (args.length > 1) args(1) else "target/ingest-out"
    val minQuality = if (args.length > 2) args(2).toDouble else 0.3
    val lang = if (args.length > 3) args(3) else "en"
    val keepPct = if (args.length > 4) args(4).toInt else 100
    val numShards = if (args.length > 5) args(5).toInt else 4

    val spark = graft.SessionTuning
      .builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"), 4)
      .appName("ingest-curation")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val q = run(spark, graft.sources.Sources.replayFeed(spark, input, linesPerBatch = 200),
      outDir, minQuality, lang, keepPct, numShards)
    q.processAllAvailable()
    q.stop()
    spark.stop()
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ts", TimestampType)))

  /** The wired pipeline over any raw line stream (column `value`) —
    * factored out so the spec drives it with a MemoryStream. */
  def run(spark: SparkSession, raw: DataFrame, outDir: String,
          minQuality: Double, lang: String, keepPct: Int,
          numShards: Int): org.apache.spark.sql.streaming.StreamingQuery = {
    // fail FAST at wiring time — gateScan re-validates per batch, but a
    // bad pct should refuse to start, not kill the first micro-batch
    require(keepPct >= 0 && keepPct <= 100, s"keepPct must be in [0,100]: $keepPct")
    // decode with corrupt routing (the DLQ contract: malformed lines keep
    // their raw bytes; a JSON null-field line is data, not corruption)
    val withCr = docSchema.add("_corrupt_record", StringType)
    val decoded = raw
      .select(from_json(col("value"), withCr,
          java.util.Map.of("columnNameOfCorruptRecord", "_corrupt_record")).as("m"),
        col("value").as("raw_value"))
      .select(col("m.*"), col("raw_value"))
      .withColumn("is_corrupt",
        col("_corrupt_record").isNotNull || col("doc_id").isNull || col("ts").isNull)
      .drop("_corrupt_record")

    decoded.writeStream
      .option("checkpointLocation", s"$outDir/ck")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val b = batch.persist()
        b.filter(col("is_corrupt"))
          .select(col("raw_value"))
          .write.mode("overwrite").parquet(s"$outDir/dlq/epoch=$epoch")
        // the curation gate runs BATCH-side inside foreachBatch, through
        // the SAME scan-side gate as the streaming form (one home for the
        // quality/language/sampling semantics and the keepPct validation)
        val clean = b.filter(!col("is_corrupt"))
          .select(col("doc_id"), col("text"), col("ts"))
        val gated = CurationStream.gateScan(clean, "text", "doc_id", "ts",
          minQuality, lang, keepPct)
        // exact dedup keeps BOTH invariants downstream loaders assume:
        // unique doc_id AND unique content. First one row per id (a
        // re-delivered id with EDITED text resolves deterministically to
        // its lexicographically-first fingerprint), then one row per
        // content fingerprint (smallest id wins) — both argmins via
        // min(struct), no window sort
        val oneId = gated
          .groupBy(col("doc_id"))
          .agg(min(struct(col("fp"), col("text"), col("ts"),
            col("quality"), col("lang_pred"))).as("r"))
          .select(col("doc_id"), col("r.*"))
        val first = oneId
          .groupBy(col("fp"))
          .agg(min(struct(col("doc_id"), col("text"), col("ts"),
            col("quality"), col("lang_pred"))).as("r"))
          .select(col("fp"), col("r.*"))
        // ... and across batches a stored (fp, doc_id) index drops BOTH
        // content any earlier epoch shipped AND ids already shipped (an
        // edited re-delivery is not a new training document). The
        // anti-joins exclude the batch's OWN epoch rows so a foreachBatch
        // retry (whose first attempt may have committed the index write)
        // still keeps its survivors, and both the shard and index writes
        // overwrite their epoch directory — the nearDupStep/flags retry
        // contract.
        val fpDir = s"$outDir/fpindex"
        val likeFp = first.select(col("fp"), col("doc_id"))
          .withColumn("epoch", lit(epoch))
        val prior = CurationStream.readIndexOrEmpty(spark, fpDir, likeFp)
          .filter(col("epoch") =!= lit(epoch))
        val fresh = first
          .join(prior.select("fp"), Seq("fp"), "left_anti")
          .join(prior.select("doc_id"), Seq("doc_id"), "left_anti")
          .persist()
        Outputs.writeTrainingShards(
          fresh.select("doc_id", "text", "ts", "quality", "lang_pred"),
          "doc_id", numShards, s"$outDir/shards/epoch=$epoch")
        fresh.select("fp", "doc_id")
          .write.mode("overwrite").parquet(s"$fpDir/epoch=$epoch")
        // live corpus stats: distinct shipped contents per language as a
        // STORED HLL register table — the artifact (not the stream
        // checkpoint) is the state, so running distinct counts survive
        // restarts and any batch reader estimates off the same table the
        // stream maintains. The (streamId, epoch) watermark makes a
        // foreachBatch retry a no-op even though HLL's fold is a
        // register-table rewrite.
        graft.streaming.SketchMaintenance.appendHllSketch(
          fresh.select(col("lang_pred"), col("fp")), "fp", "lang_pred",
          s"$outDir/hllstats", batchId = epoch, streamId = s"$outDir/ck")
        // ... and the shipped-document QUALITY distribution per language
        // as a stored bottom-k quantile sample (same artifact discipline,
        // distinct lineage suffix so the two watermark lanes never
        // share): estimates off the table equal a fresh whole-corpus
        // sketch by the merge law, so "what does shipped p50/p99 quality
        // look like" survives restarts without rescanning shards.
        graft.streaming.SketchMaintenance.appendQuantileSample(
          fresh.select(col("lang_pred"), col("doc_id"),
            round(col("quality") * 10000, 0).cast("long").as("q4")),
          "doc_id", "lang_pred", col("q4"), k = 256,
          s"$outDir/qualquant", batchId = epoch,
          streamId = s"$outDir/ck#qual")
        fresh.unpersist(); b.unpersist(); ()
      }
      .start()
  }
}
