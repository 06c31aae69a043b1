package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One session per suite keeps state-store
  * directories isolated. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient lazy val spark: SparkSession = SessionTuning.local(4)
    .appName(getClass.getSimpleName)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }

  /** `body`'s result and how many classes Spark's code generator compiled
    * while it ran: its compile-time histogram moves only on a codegen
    * cache miss. */
  def classesCompiled[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val result = body
    (result, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  def ts(epochSec: Long): java.sql.Timestamp = new java.sql.Timestamp(epochSec * 1000L)
}
