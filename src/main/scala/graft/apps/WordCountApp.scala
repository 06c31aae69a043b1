package graft.apps

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** The quickstart word-count pipeline (SURVEY.md §2.6 W7: session-windowed
  * word counts, quickstart/wordcount WordCount.java:55-62): replay a text
  * file as a stream → split into words → 5 s session windows per word →
  * console.
  *
  * Usage: runMain graft.apps.WordCountApp <file> [gap]
  */
object WordCountApp {
  def main(args: Array[String]): Unit = {
    val input = args.headOption.getOrElse(sys.error("usage: WordCountApp <file> [gap]"))
    val gap = if (args.length > 1) args(1) else "5 seconds"

    val spark = graft.SessionTuning
      .builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"), 4)
      .appName("wordcount")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Session aggregations only support append mode (results emit when the
    // watermark closes a session). For a finite file replay, synthesize
    // event time from the line offset — lines 10 s apart with a 5 s gap
    // means each batch's lines close the previous batch's sessions.
    val words = Sources.replayFeed(spark, input, linesPerBatch = 1)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("offset") * 10))
      .select(col("ts"), explode(split(lower(col("value")), "\\W+")).as("word"))
      .filter(col("word") =!= "")

    val counts = words
      .withWatermark("ts", "1 second")
      .groupBy(session_window(col("ts"), gap), col("word"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("sessionStart"), col("word"), col("n"))

    val q = counts.writeStream.format("console")
      .option("truncate", "false").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    spark.stop()
  }
}
