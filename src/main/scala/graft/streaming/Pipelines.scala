package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The cookbook pipelines (SURVEY.md §2) as stream-agnostic transforms:
  * each takes DataFrames/Datasets and returns the transformed frame, so the
  * same code runs under `spark.read` (batch, oracle-checkable) and
  * `spark.readStream` (incremental). Sinks are the caller's choice —
  * `writeStream.format("kafka"|"memory"|"parquet")` attach at the edge.
  *
  * Scale notes: the joins shuffle on their equi keys only; window state is
  * bounded by watermarks (the streaming analogue of the reference's 3-min
  * join TTL, JoinExample.java:146); nothing collects to the driver.
  */
object Pipelines {

  /** P1: drop page views from an invalid user id
    * (FilterExample.java:94-99). */
  def filterInvalidUsers(pageViews: Dataset[PageView], invalidUserId: String): Dataset[PageView] =
    pageViews.filter(_.userId != invalidUserId)

  /** W1: per-user page-view counts on a tumbling event-time window
    * (TumblingWindowExample.java:106-118; 5 s there, parameterized here).
    * Watermark bounds the window state for streaming use. */
  def tumblingUserCounts(pageViews: Dataset[PageView], windowLen: String,
                         watermark: String = "10 seconds"): DataFrame =
    pageViews.toDF()
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("userId"))
      .agg(count(lit(1)).as("count"))
      .select(col("window.start").as("windowStart"), col("userId"), col("count"))

  /** W6: per-user session windows closed by a gap of inactivity
    * (SessionWindowExample.java:104-117; 10 s gap there). Uses the native
    * session_window aggregation — merges happen inside the agg state. */
  def sessionUserCounts(pageViews: Dataset[PageView], gap: String,
                        watermark: String = "10 seconds"): DataFrame =
    pageViews.toDF()
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("userId"))
      .agg(count(lit(1)).as("count"))
      .select(col("session_window.start").as("sessionStart"),
        col("session_window.end").as("sessionEnd"), col("userId"), col("count"))

  /** J1: stream-stream inner equi-join of page views and ad clicks on
    * pageId, with both sides' buffered state bounded by a time-range
    * condition + watermarks — the Spark form of the reference's 3-minute
    * join TTL (JoinExample.java:116-147). */
  def pageViewAdClickJoin(pageViews: Dataset[PageView], adClicks: Dataset[AdClick],
                          ttl: String = "3 minutes"): DataFrame = {
    val pv = pageViews.toDF().withWatermark("ts", ttl).alias("pv")
    val ac = adClicks.toDF().withWatermark("ts", ttl).alias("ac")
    pv.join(ac,
      expr(s"pv.pageId = ac.pageId AND " +
        s"ac.ts BETWEEN pv.ts - INTERVAL $ttl AND pv.ts + INTERVAL $ttl"))
      .select(col("ac.userId").as("userId"), col("ac.pageId").as("pageId"),
        col("ac.adId").as("adId"))
  }

  /** J1 outer variant (beyond the reference's inner join): page views left
    * outer joined to ad clicks — views with no click inside the time bound
    * emit with null click columns once the watermark proves no match can
    * still arrive. The unmatched-row emission is exactly the state-eviction
    * moment, so state stays bounded like the inner join's. */
  def pageViewAdClickLeftJoin(pageViews: Dataset[PageView], adClicks: Dataset[AdClick],
                              ttl: String = "3 minutes"): DataFrame = {
    val pv = pageViews.toDF().withWatermark("ts", ttl).alias("pv")
    val ac = adClicks.toDF().withWatermark("ts", ttl).alias("ac")
    pv.join(ac,
      expr(s"pv.pageId = ac.pageId AND " +
        s"ac.ts BETWEEN pv.ts - INTERVAL $ttl AND pv.ts + INTERVAL $ttl"),
      "left_outer")
      .select(col("pv.pageId").as("pageId"), col("pv.userId").as("userId"),
        col("ac.adId").as("adId"))
  }

  /** §3.2 low-level pipeline, fused: raw feed → parse → 10 s window stats.
    * The reference runs this as three Kafka-connected jobs
    * (WikipediaFeed/Parser/StatsStreamTask); under Spark the three stages
    * fuse into one incremental plan (or attach kafka sinks between stages
    * for topic-materialized parity). Flag counts follow the *correct*
    * semantics — the reference's `v==null?0:v+1` undercount
    * (WikipediaApplication.java:192) is deliberately not replicated. */
  def wikipediaStats(feed: DataFrame, windowLen: String = "10 seconds",
                     watermark: String = "10 seconds"): DataFrame =
    wikipediaStatsOverParsed(WikipediaParse.parse(feed), windowLen, watermark)

  /** The stats stage alone, over ALREADY-PARSED edit events — the third
    * job of the reference's staged topology
    * (WikipediaStatsStreamTask consumes the wikipedia-edits topic,
    * wikipedia-stats.properties:29); see
    * [[graft.apps.WikipediaStagedTopology]] for the stage-materialized
    * form whose boundary re-sources feed this. */
  def wikipediaStatsOverParsed(parsed: DataFrame,
                               windowLen: String = "10 seconds",
                               watermark: String = "10 seconds"): DataFrame = {
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(c + "Count")
    parsed
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(
        count(lit(1)).as("edits"),
        sum("diffBytes").as("byteDiff"),
        approx_count_distinct("title").as("uniqueTitles"),
        cnt("isMinor"), cnt("isNew"), cnt("isUnpatrolled"),
        cnt("isBotEdit"), cnt("isSpecial"), cnt("isTalk"))
      .select(col("window.start").as("windowStart"), col("edits"), col("byteDiff"),
        col("uniqueTitles"), col("isMinorCount"), col("isNewCount"),
        col("isUnpatrolledCount"), col("isBotEditCount"),
        col("isSpecialCount"), col("isTalkCount"))
  }
}
