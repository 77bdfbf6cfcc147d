package graft.sources

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.util

import scala.collection.JavaConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Kafka-shaped replay log + its DataSource V2 micro-batch source —
  * the continuous-ingest posture of the reference's stream harness
  * (bin/parsec_stream feeding a long-lived pipeline) expressed on the
  * surface a production deployment would actually use: a PARTITIONED,
  * OFFSET-ADDRESSED, APPEND-ONLY log consumed by per-partition offset
  * ranges under admission control.
  *
  * The log models a Kafka topic faithfully at the level the engine
  * cares about:
  *  - N partitions; each record lands in partition
  *    `hash(user_id) mod N` (the producer key-partitioner), so a
  *    key's records are totally ordered within one partition;
  *  - per partition an append-only segment of fixed 36-byte records
  *    `(event_id i64, ts_us i64, user_id i64, etype i32, value f64)`
  *    addressed purely by offset (`seek = offset × 36` — the offset
  *    index is arithmetic, as in a fixed-size Kafka segment);
  *  - a control record per partition at log end (`event_type` =
  *    [[ReplayLog.FlushType]], stamped 3 h past the global max event
  *    time) — the standard stream-control/tombstone message that lets
  *    a watermark close every real window when a bounded replay
  *    drains. Consumers must NOT filter it between `withWatermark`
  *    and a stateful operator: Catalyst pushes an event_type filter
  *    below the EventTimeWatermark node (the predicate doesn't touch
  *    ts), hiding the sentinel from the watermark. Aggregate it into
  *    its own group (whose window never closes) or filter post-sink.
  *
  * The DSv2 side ([[ReplayLogProvider]]) implements MicroBatchStream
  * with SupportsAdmissionControl (`maxRowsPerTrigger` — Kafka's
  * `maxOffsetsPerTrigger`) and SupportsTriggerAvailableNow (bounded
  * drain for oracled runs). Offsets are a per-partition watermark
  * vector exactly like Kafka's `{partition → offset}` map. Each
  * micro-batch plans one InputPartition per log partition covering
  * `[start_p, end_p)`, and the reader streams records straight out of
  * the segment file on the executor — the driver never touches a
  * record.
  *
  * At 100 TB the segments live on shared storage (the writer is a
  * Spark job; one task writes one partition's segment, exactly how a
  * broker owns a partition), offsets stay arithmetic, and admission
  * control prices each trigger — nothing in the control path grows
  * with the corpus. Reference analog: the stream testbed's queue
  * feeds (bin/parsec_stream, encoder.c -t/-q), re-expressed as the
  * offset-log contract every modern streaming deployment shares.
  */
object ReplayLog {

  val RecordBytes = 36
  val FlushType = "__flush__"
  /** 3 h past max event time: far enough that a 1 h watermark closes
    * every real hourly window once the control records are seen. */
  val FlushLagUs: Long = 3L * 3600L * 1000000L

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private def metaFile(dir: String) = new File(dir, "meta.json")

  /** Write `events` as an N-partition replay log at `dir`. One Spark
    * task writes one partition segment (sorted by (ts, event_id) —
    * the within-partition order a producer's timely appends yield);
    * the event-type dictionary is enum-sized and rides meta.json. */
  def ingest(s: SparkSession, events: DataFrame, nParts: Int, dir: String): Unit = {
    val d = new File(dir)
    d.mkdirs()
    val etypes = events.select("event_type").distinct()
      .orderBy("event_type").collect().map(_.getString(0))
    require(!etypes.contains(FlushType), s"event_type '$FlushType' is reserved")
    val dict = (etypes :+ FlushType).zipWithIndex.toMap
    val maxUs = events.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val flushUs = maxUs + FlushLagUs
    val bcDict = s.sparkContext.broadcast(dict)
    val rows = events.select(col("event_id"), unix_micros(col("ts")).as("us"),
      col("user_id"), col("event_type"), col("value"))
    // key by the producer partition (hash(user_id) mod N, 0 ≤ p < N);
    // HashPartitioner over the Int key is then the identity map, so
    // the task index IS the log partition
    val counts = rows.rdd
      .map(r => (partitionOf(r.getLong(2), nParts),
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))))
      .partitionBy(new HashPartitioner(nParts))
      .mapPartitionsWithIndex { (idx, it) =>
        // one segment = one task's buffer; at scale segment rotation
        // bounds this exactly as Kafka's segment size does
        val buf = it.map(_._2).toArray.sortBy(r => (r._2, r._1))
        val f = new File(dir, s"p$idx.seg")
        val out = new DataOutputStream(new java.io.BufferedOutputStream(
          new FileOutputStream(f), 1 << 16))
        try {
          buf.foreach { case (id, us, uid, et, v) =>
            out.writeLong(id); out.writeLong(us); out.writeLong(uid)
            out.writeInt(bcDict.value(et)); out.writeDouble(v)
          }
          // the control record: stream-end flush marker
          out.writeLong(-1L); out.writeLong(flushUs); out.writeLong(-1L)
          out.writeInt(bcDict.value(FlushType)); out.writeDouble(0.0)
        } finally out.close()
        Iterator.single((idx, buf.length.toLong + 1L))
      }.collect().toMap
    val meta = (0 until nParts).map(i => counts.getOrElse(i, 0L))
    val json = s"""{"nParts":$nParts,"counts":[${meta.mkString(",")}],""" +
      s""""etypes":[${(etypes :+ FlushType).map("\"" + _ + "\"").mkString(",")}]}"""
    val w = new java.io.FileWriter(metaFile(dir))
    try w.write(json) finally w.close()
  }

  private[graft] def partitionOf(userId: Long, nParts: Int): Int = {
    val h = java.lang.Long.hashCode(userId) % nParts
    if (h < 0) h + nParts else h
  }

  private[graft] case class Meta(nParts: Int, counts: Array[Long], etypes: Array[String])

  private[graft] def readMeta(dir: String): Meta = {
    val src = scala.io.Source.fromFile(metaFile(dir))
    val json = try src.mkString finally src.close()
    def arr(key: String): String = {
      val i = json.indexOf("\"" + key + "\":[")
      val start = json.indexOf('[', i) + 1
      json.substring(start, json.indexOf(']', start))
    }
    val n = json.substring(json.indexOf("\"nParts\":") + 9)
      .takeWhile(_.isDigit).toInt
    val counts = arr("counts").split(',').map(_.trim.toLong)
    val etypes = arr("etypes").split(',').map(_.trim.stripPrefix("\"").stripSuffix("\""))
    Meta(n, counts, etypes)
  }

  // ---- session-scoped ingest (the one-log-many-consumers shape) --------
  /** Ingest the sf-dir's events table once per (session, dataset) and
    * return the log dir — the topic exists once, every consumer reads
    * it by offset (a [[graft.Stores]] store). */
  def ingestOnce(s: SparkSession, sfDir: String, nParts: Int): String = {
    val dir = graft.Stores.path(s, sfDir, s"replaylog_p$nParts", Seq("events"))
    graft.Stores.once(dir)(ingest(s, graft.Tables.events(s, sfDir), nParts, dir))
    dir
  }
}

/** Per-partition offset vector — Kafka's `{partition → offset}` map. */
case class ReplayOffset(ends: Seq[Long]) extends Offset {
  override def json(): String = ends.mkString("[", ",", "]")
}

object ReplayOffset {
  def parse(json: String): ReplayOffset =
    ReplayOffset(json.stripPrefix("[").stripSuffix("]").split(',').map(_.trim.toLong).toSeq)
}

/** DSv2 entry point: `spark.readStream.format("graft.sources.ReplayLogProvider")
  * .option("path", logDir).option("maxRowsPerTrigger", n).load()`. */
class ReplayLogProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ReplayLog.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ReplayLogTable(properties.get("path"))
}

class ReplayLogTable(dir: String) extends Table with SupportsRead {
  require(dir != null, "replay log source requires .option(\"path\", <logDir>)")
  override def name(): String = s"replaylog(`$dir`)"
  override def schema(): StructType = ReplayLog.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ReplayLog.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ReplayMicroBatchStream(dir,
            Option(options.get("maxRowsPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue))
      }
    }
}

/** The micro-batch planner: offsets advance per partition under the
  * row-count admission limit; each batch plans one InputPartition per
  * log partition with a half-open offset range. */
class ReplayMicroBatchStream(dir: String, maxRowsPerTrigger: Long)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val meta = ReplayLog.readMeta(dir)
  private val logEnd = ReplayOffset(meta.counts.toSeq)
  // set by prepareForTriggerAvailableNow: the drain bound AvailableNow
  // must stop at even if the log grows during the run
  @volatile private var availableNowBound: Option[ReplayOffset] = None

  override def initialOffset(): Offset = ReplayOffset(Seq.fill(meta.nParts)(0L))
  override def deserializeOffset(json: String): Offset = ReplayOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(logEnd)

  override def getDefaultReadLimit: ReadLimit =
    if (maxRowsPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxRowsPerTrigger)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def reportLatestOffset(): Offset = availableNowBound.getOrElse(logEnd)

  /** Advance each partition by its share of the admission allowance —
    * allowance is split evenly over partitions with remaining data,
    * leftover spilling to later partitions (Kafka's proportional
    * maxOffsetsPerTrigger split, deterministic version). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val bound = availableNowBound.getOrElse(logEnd)
    val cur = start.asInstanceOf[ReplayOffset].ends
    val allowance: Long = limit match {
      case mr: ReadMaxRows => mr.maxRows()
      case _ => Long.MaxValue
    }
    val remaining = cur.indices.map(i => bound.ends(i) - cur(i))
    val active = remaining.count(_ > 0)
    if (active == 0) return start
    var left = allowance
    val next = new Array[Long](cur.length)
    var activeLeft = active
    cur.indices.foreach { i =>
      val share = if (remaining(i) <= 0) 0L
        else {
          val fair = math.max(1L, left / math.max(1, activeLeft))
          val take = math.min(remaining(i), math.min(fair, left))
          activeLeft -= 1
          take
        }
      left -= share
      next(i) = cur(i) + share
    }
    ReplayOffset(next.toSeq)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[ReplayOffset].ends
    val s1 = end.asInstanceOf[ReplayOffset].ends
    s0.indices.collect {
      case i if s1(i) > s0(i) =>
        ReplaySlice(s"$dir/p$i.seg", s0(i), s1(i), meta.etypes): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new ReplayReaderFactory
}

case class ReplaySlice(path: String, startRec: Long, endRec: Long,
                       etypes: Array[String]) extends InputPartition

class ReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ReplaySlice]
    new PartitionReader[InternalRow] {
      private val raf = new java.io.RandomAccessFile(p.path, "r")
      raf.seek(p.startRec * ReplayLog.RecordBytes)
      private val in = new DataInputStream(new BufferedInputStream(
        new FileInputStream(raf.getFD), 1 << 16))
      private val utf8Types = p.etypes.map(UTF8String.fromString)
      private var i = p.startRec
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (i >= p.endRec) return false
        val id = in.readLong(); val us = in.readLong(); val uid = in.readLong()
        val et = in.readInt(); val v = in.readDouble()
        row = new GenericInternalRow(Array[Any](id, us, uid, utf8Types(et), v))
        i += 1
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = { in.close(); raf.close() }
    }
  }
}
