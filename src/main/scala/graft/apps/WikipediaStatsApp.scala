package graft.apps

import graft.streaming.Pipelines

/** Runnable flagship pipeline (SURVEY.md §7.2): replay a directory of raw
  * wikipedia feed events (JSON-per-line, the wikipedia-raw.json shape) as a
  * file stream → regex parse → 10 s tumbling window stats → console sink.
  *
  * Usage: runMain graft.apps.WikipediaStatsApp <inputDir> [windowLen]
  *
  * The file source stands in for the reference's IRC/Kafka ingestion
  * (zero-egress environment); swapping `format("json")` for
  * `format("kafka")` + from_json is the only change needed for topics.
  */
object WikipediaStatsApp {
  def main(args: Array[String]): Unit = {
    val inputDir = args.headOption.getOrElse(
      sys.error("usage: WikipediaStatsApp <inputDir> [windowLen]"))
    val windowLen = if (args.length > 1) args(1) else "10 seconds"

    val spark = graft.SessionTuning
      .builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"), 4)
      .appName("wikipedia-stats")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val feed = spark.readStream
      .schema("channel STRING, raw STRING, time LONG, source STRING")
      .option("maxFilesPerTrigger", 1) // one file per micro-batch = replay
      .json(inputDir)

    val query = Pipelines.wikipediaStats(feed, windowLen)
      .writeStream
      .format("console")
      .option("truncate", "false")
      .option("numRows", "50")
      // update mode emits each window's running aggregate every batch —
      // the closest analogue of the reference's per-firing emission
      // (WikipediaStatsStreamTask.window(), task.window.ms=10000); append
      // would hold results until the watermark closes a window, which a
      // finite replay never reaches for the newest window.
      .outputMode("update")
      .start()

    query.processAllAvailable()
    query.stop()
    spark.stop()
  }
}
