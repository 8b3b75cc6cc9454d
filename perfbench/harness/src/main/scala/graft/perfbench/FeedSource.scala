package graft.perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * One topology's input, generated by the benchmark before the query
 * starts and released by the clock, never by the engine.
 *
 * Rows `[0, backlog)` are all available when the query first polls (the
 * drain phase). Once the engine has committed the whole backlog, the
 * next poll starts the fixed-rate phase: row `backlog + k` is due at
 * `rateStartMs + k * 1000 / rate` and becomes visible at that time, until
 * `total` rows have been released. Every row carries its due time
 * (`due_ms`) and a synthetic event time (`ts`, one millisecond apart), so
 * windows and event-time state do not depend on the wall clock.
 */
final class Feed(val lines: Array[String], val backlog: Int, val rate: Double,
    val admitCap: Long, val partitions: Int) {
  val total: Long = lines.length.toLong
  @volatile var drainStartMs: Double = Double.NaN
  @volatile var rateStartMs: Double = Double.NaN

  def eventMs(i: Long): Long = Feed.EventStartMs + i * Feed.EventStepMs

  def dueMs(i: Long): Double =
    if (i < backlog) drainStartMs else rateStartMs + (i - backlog) * 1000.0 / rate

  /** Rows released by `nowMs`, given the engine has committed `start`. */
  def available(start: Long, nowMs: Double): Long = {
    if (drainStartMs.isNaN) drainStartMs = nowMs
    if (start < backlog) backlog.toLong
    else {
      if (rateStartMs.isNaN) rateStartMs = nowMs
      math.min(total, backlog + math.floor((nowMs - rateStartMs) * rate / 1000.0).toLong)
    }
  }
}

object Feed {
  val EventStartMs = 1700000000000L
  val EventStepMs = 1L
  private val feeds = new ConcurrentHashMap[String, Feed]()
  def register(name: String, feed: Feed): Unit = feeds.put(name, feed)
  def apply(name: String): Feed = feeds.get(name)
  def remove(name: String): Unit = feeds.remove(name)

  val schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("due_ms", LongType, nullable = false)))
}

/** `spark.readStream.format(classOf[FeedSource].getName).option("feed", name)`. */
class FeedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Feed.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    new FeedTable(new CaseInsensitiveStringMap(properties).get("feed"))
  }
}

private class FeedTable(feedName: String) extends Table with SupportsRead {
  override def name(): String = s"feed_$feedName"
  override def schema(): StructType = Feed.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = Feed.schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new FeedStream(feedName)
  }
}

private case class FeedOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

private case class FeedRange(feedName: String, from: Long, until: Long) extends InputPartition

private class FeedStream(feedName: String)
    extends MicroBatchStream with SupportsAdmissionControl {
  private val feed = Feed(feedName)
  @volatile private var lastAvailable = 0L

  override def initialOffset(): Offset = FeedOffset(0L)
  override def deserializeOffset(json: String): Offset = FeedOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(feed.admitCap)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FeedOffset].v
    lastAvailable = feed.available(s, Clock.nowMs)
    val cap = limit match {
      case r: ReadMaxRows => s + r.maxRows()
      case _ => Long.MaxValue
    }
    FeedOffset(math.max(s, math.min(lastAvailable, cap)))
  }

  /** The head of the queue: progress events report it as latestOffset,
   *  so backlog = latestOffset - endOffset. */
  override def reportLatestOffset(): Offset = FeedOffset(lastAvailable)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FeedOffset].v
    val n = end.asInstanceOf[FeedOffset].v - s
    val k = feed.partitions
    (0 until k).iterator
      .map(p => FeedRange(feedName, s + n * p / k, s + n * (p + 1) / k))
      .filter(r => r.until > r.from).map(r => r: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new FeedReaderFactory
}

private class FeedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val FeedRange(feedName, from, until) = partition.asInstanceOf[FeedRange]
    val feed = Feed(feedName)
    new PartitionReader[InternalRow] {
      private var cur = from - 1
      override def next(): Boolean = { cur += 1; cur < until }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(feed.lines(cur.toInt)),
        feed.eventMs(cur) * 1000L,
        feed.dueMs(cur).toLong))
      override def close(): Unit = ()
    }
  }
}

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
