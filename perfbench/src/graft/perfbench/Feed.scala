package graft.perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** An append-only item log held in this JVM: `rows` are generated up
  * front from the seed, and `released` is how many of them exist so
  * far. The backlog is released at once; the open-loop generator
  * advances `released` on its schedule. Offsets are item indices, so
  * the items of every trigger follow from its start and end offsets. */
final class Feed(val id: String, val schema: StructType, val rows: Array[InternalRow],
                 val maxItemsPerTrigger: Long, val partitions: Int) {
  val released = new AtomicLong(0L)
  def release(n: Long): Unit = released.accumulateAndGet(math.min(n, rows.length.toLong),
    (a: Long, b: Long) => math.max(a, b)): Unit
}

object Feed {
  private val feeds = new ConcurrentHashMap[String, Feed]()
  private val seq = new AtomicLong(0L)

  def register(schema: StructType, rows: Array[InternalRow], maxItemsPerTrigger: Long,
               partitions: Int): Feed = {
    val f = new Feed(s"feed${seq.incrementAndGet()}", schema, rows.clone(), maxItemsPerTrigger, partitions)
    feeds.put(f.id, f)
    f
  }

  def unregister(f: Feed): Unit = feeds.remove(f.id): Unit

  def get(id: String): Feed = {
    val f = feeds.get(id)
    require(f != null, s"unknown feed '$id'")
    f
  }

  /** Item index encoded in a progress offset ("null" before the first batch). */
  def offsetOf(json: String): Long =
    if (json == null || json == "null") 0L else json.trim.toLong
}

final case class FeedOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** `spark.readStream.format(classOf[FeedProvider].getName).option("feed", id).load()` */
class FeedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Feed.get(options.get("feed")).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FeedTable(Feed.get(properties.get("feed")))
}

class FeedTable(feed: Feed) extends Table with SupportsRead {
  override def name(): String = s"perfbench_${feed.id}"
  override def schema(): StructType = feed.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = feed.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new FeedStream(feed)
    }
}

class FeedStream(feed: Feed) extends MicroBatchStream with SupportsAdmissionControl {
  override def initialOffset(): Offset = FeedOffset(0L)
  override def deserializeOffset(json: String): Offset = FeedOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(feed.maxItemsPerTrigger)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is used instead")
  override def reportLatestOffset(): Offset = FeedOffset(feed.released.get)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[FeedOffset].n
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => Long.MaxValue
    }
    FeedOffset(math.min(feed.released.get, from + cap))
  }

  /** Contiguous item ranges, one per feed partition (a partitioned log). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[FeedOffset].n, end.asInstanceOf[FeedOffset].n)
    val n = math.max(1L, math.min(feed.partitions.toLong, b - a))
    (0L until n).map(i => FeedSlice(feed.id, a + (b - a) * i / n, a + (b - a) * (i + 1) / n))
      .filter(s => s.end > s.start).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new FeedReaderFactory
}

final case class FeedSlice(feedId: String, start: Long, end: Long) extends InputPartition

class FeedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FeedSlice]
    val rows = Feed.get(p.feedId).rows
    new PartitionReader[InternalRow] {
      private var i = p.start - 1
      override def next(): Boolean = { i += 1; i < p.end }
      override def get(): InternalRow = rows(i.toInt)
      override def close(): Unit = ()
    }
  }
}
