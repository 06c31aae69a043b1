package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One session per suite keeps state-store
  * directories isolated. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // the shipped checkpoint manager; the rest of SessionTuning would change
    // the scans PlanSpec asserts on
    .config(SessionTuning.CheckpointFileManagerKey, SessionTuning.checkpointFileManagerClass)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }

  def ts(epochSec: Long): java.sql.Timestamp = new java.sql.Timestamp(epochSec * 1000L)
}
