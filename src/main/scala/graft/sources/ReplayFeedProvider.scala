package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S2: a custom push-source as a DataSource V2 micro-batch stream — the
  * engine-level capability behind the reference's IRC feed plugin
  * (WikipediaSystemFactory.java:31-50, WikipediaConsumer.java:32-77: a
  * SystemConsumer pushing events into a blocking queue, single partition,
  * no real offsets).
  *
  * This implementation replays a line file at `linesPerBatch` lines per
  * micro-batch. Offsets are line numbers — unlike the reference's
  * offset-less queue, replay is deterministic and resumable from a
  * checkpoint, which is what a production ingest source needs. Schema:
  * (offset BIGINT, value STRING).
  *
  * Usage: spark.readStream.format("graft.sources.ReplayFeedProvider")
  *          .option("path", file).option("linesPerBatch", n).load()
  */
class ReplayFeedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplayFeedProvider.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ReplayTable(properties.get("path"),
      Option(properties.get("linesPerBatch")).map(_.toInt).getOrElse(100))
}

object ReplayFeedProvider {
  val Schema: StructType = new StructType()
    .add("offset", LongType).add("value", StringType)

  /** Executor-side line cache: the file is read once per JVM, not per task. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
  def lines(path: String): Array[String] =
    cache.computeIfAbsent(path, p => {
      val src = scala.io.Source.fromFile(p)(scala.io.Codec.UTF8)
      try src.getLines().toArray finally src.close()
    })
}

private class ReplayTable(path: String, linesPerBatch: Int) extends Table with SupportsRead {
  override def name(): String = s"replay($path)"
  override def schema(): StructType = ReplayFeedProvider.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new ReplayScan(path, linesPerBatch)
}

private class ReplayScan(path: String, linesPerBatch: Int) extends Scan {
  override def readSchema(): StructType = ReplayFeedProvider.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ReplayStream(path, linesPerBatch)
}

private case class LineOffset(line: Long) extends Offset {
  override def json(): String = line.toString
}

private class ReplayStream(path: String, linesPerBatch: Int)
    extends MicroBatchStream with SupportsAdmissionControl {
  private lazy val total: Long = ReplayFeedProvider.lines(path).length.toLong

  override def initialOffset(): Offset = LineOffset(0L)
  // "arrival": each trigger exposes up to linesPerBatch lines past the
  // last planned offset (not the last committed one, which keeps
  // processAllAvailable() live: the engine samples the next offset before
  // the previous batch's commit lands). After a restart the engine passes
  // in the last offset of the checkpoint's offset log, so the replay
  // resumes where the checkpoint left off, not at line 0.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    LineOffset(math.min(total, start.json().toLong + linesPerBatch))
  override def latestOffset(): Offset = LineOffset(total)
  override def commit(end: Offset): Unit = ()
  override def deserializeOffset(json: String): Offset = LineOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LineOffset].line
    val e = end.asInstanceOf[LineOffset].line
    if (e <= s) Array.empty else Array(ReplayPartition(path, s, e))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[ReplayPartition]
      new PartitionReader[InternalRow] {
        private val data = ReplayFeedProvider.lines(p.path)
        private var i = p.from - 1
        override def next(): Boolean = { i += 1; i < p.until && i < data.length }
        override def get(): InternalRow =
          InternalRow(i, UTF8String.fromString(data(i.toInt)))
        override def close(): Unit = ()
      }
    }
  override def stop(): Unit = ()
}

private case class ReplayPartition(path: String, from: Long, until: Long) extends InputPartition
