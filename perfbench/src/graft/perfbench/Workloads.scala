package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.FerretAccess
import graft.streaming.StreamingPipelines

/** One output check: its name, verdict and a short detail. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A stream workload: its generated items, the query the program runs
  * over them, and the checks of what that query wrote. */
trait Workload {
  def schema: StructType
  /** Set-up the query needs in each session before it starts (timed in
    * `setup_s`), such as a resident index. */
  def prepare(spark: SparkSession): Unit = ()
  /** Feed rows of a measured pass (backlog, open loop, rate sweep). */
  def rows: Array[InternalRow]
  /** A separate, smaller item stream that warms the query's code paths. */
  def warmRows: Array[InternalRow]
  def start(spark: SparkSession, feed: DataFrame, dir: String, probe: Probe): StreamingQuery
  /** Called once every item of the pass is committed, before stop. */
  def flush(spark: SparkSession, q: StreamingQuery, feed: Feed): Unit = ()
  /** Workload-specific per-layer metrics of a traced pass over `triggers`. */
  def traceFacts(spark: SparkSession, dir: String, triggers: Seq[StreamingQueryProgress],
                 marks: Seq[Mark]): Map[String, Double] = Map.empty
  /** Checks of the pass's output over items [0, committed). */
  def check(spark: SparkSession, dir: String, committed: Int): (Seq[Check], Map[String, Double])
}

object Workload {
  def apply(name: String, cfg: Config, seed: Long): Workload = name match {
    case "dedup_stream" | "dedup_unique" => new DedupStream(cfg, seed)
    case "ferret_stream"  => new FerretStream(cfg, seed)
    case "session_stream" => new SessionStream(cfg, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Free the blocks of a locally checkpointed frame. */
  def release(df: DataFrame): Unit = df.queryExecution.logical.collect {
    case l: LogicalRDD => l.rdd
  }.foreach(_.unpersist(blocking = false))

  /** foreachBatch sink of every workload: materialize the program's
    * output for the trigger (operator layer), append it to parquet
    * (sink layer), then free the materialized blocks. */
  def sink(out: => DataFrame, opName: String, batch: Long, dir: String, probe: Probe): Unit = {
    val m = probe.span(opName, "operators", batch)(out.localCheckpoint(true))
    try probe.span("sink_write", "sinks", batch)(
      m.withColumn("batch", lit(batch)).write.mode("append").parquet(s"$dir/sink"))
    finally release(m)
  }

  def utf8(s: String): UTF8String = UTF8String.fromString(s)
}

/** BenSP Dedup: Fragment → Refine → Deduplicate → Compress → Reorder,
  * the program's `fiveStageBatch` inside the benchmark's foreachBatch. */
final class DedupStream(cfg: Config, seed: Long) extends Workload {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  private val docs = Gen.documents(seed, cfg.int("items"), cfg.double("whole_copy"),
    cfg.double("para_copy"))
  private val warm = Gen.documents(seed ^ 0x5eedL, cfg.int("warm_items"),
    cfg.double("whole_copy"), cfg.double("para_copy"))
  private def toRows(t: Array[String]): Array[InternalRow] = t.indices.map { i =>
    new GenericInternalRow(Array[Any](i.toLong, Workload.utf8(t(i)))): InternalRow
  }.toArray
  val rows: Array[InternalRow] = toRows(docs.texts)
  val warmRows: Array[InternalRow] = toRows(warm.texts)

  /** `operators.five_stage_growth`: least-squares slope of the
    * five-stage call time (ms) against the digest-store rows (per 100k)
    * the call probed, the rows being the firsts of earlier triggers. */
  override def traceFacts(spark: SparkSession, dir: String, triggers: Seq[StreamingQueryProgress],
                          marks: Seq[Mark]): Map[String, Double] = {
    val firsts = spark.read.parquet(s"$dir/sink").filter(col("is_first")).groupBy("batch").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batches = triggers.map(_.batchId).sorted
    val storeBefore = batches.zip(batches.scanLeft(0L)((acc, b) => acc + firsts.getOrElse(b, 0L))).toMap
    Map("operators.five_stage_growth" -> Layers.slope(marks.filter(_.name == "five_stage_call")
      .flatMap(m => storeBefore.get(m.batch).map(r => (r / 1e5, m.endMs - m.startMs)))))
  }

  def start(spark: SparkSession, feed: DataFrame, dir: String, probe: Probe): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val out = probe.span("five_stage_call", "operators", id)(
          StreamingPipelines.fiveStageBatch(spark, s"$dir/store")(b.toDF(), id))
        Workload.sink(out, "five_stage_emit", id, dir, probe)
      }
      .start()

  /** Every document restores byte-exactly from the archive rows; firsts
    * equal distinct digests; emit_seq is dense. */
  def check(spark: SparkSession, dir: String, committed: Int): (Seq[Check], Map[String, Double]) = {
    val rowsOut = spark.read.parquet(s"$dir/sink")
      .select("doc_id", "chunk_idx", "chunk_sha", "piece", "is_first", "comp_len", "emit_seq")
      .collect()
    val firsts = rowsOut.filter(_.getAs[Boolean]("is_first"))
    val pieceOf = firsts.map(r => r.getAs[String]("chunk_sha") -> r.getAs[Array[Byte]]("piece")).toMap
    val byDoc = rowsOut.groupBy(_.getAs[Long]("doc_id"))
    var restored = 0
    var bad = 0
    (0 until committed).foreach { d =>
      val want = docs.texts(d).getBytes("UTF-8")
      val got = byDoc.getOrElse(d.toLong, Array.empty[Row]).sortBy(_.getAs[Int]("chunk_idx"))
      val bytes = new java.io.ByteArrayOutputStream(want.length)
      var ok = got.nonEmpty
      got.foreach { r => pieceOf.get(r.getAs[String]("chunk_sha")) match {
        case Some(p) => bytes.write(p)
        case None => ok = false
      } }
      if (ok && java.util.Arrays.equals(bytes.toByteArray, want)) restored += 1 else bad += 1
    }
    val distinct = rowsOut.map(_.getAs[String]("chunk_sha")).distinct.length
    val seqs = rowsOut.map(_.getAs[Long]("emit_seq")).sorted
    val dense = seqs.indices.forall(i => seqs(i) == i.toLong)
    val inBytes = (0 until committed).map(d => docs.texts(d).getBytes("UTF-8").length.toLong).sum
    val deflated = firsts.map(r => r.getAs[Int]("comp_len").toLong).sum
    (Seq(
      Check("restore_byte_exact", bad == 0 && restored == committed,
        s"$restored/$committed documents restored"),
      Check("firsts_eq_distinct_digests", firsts.length == distinct,
        s"${firsts.length} firsts, $distinct distinct digests"),
      Check("emit_seq_dense", dense, s"${seqs.length} chunks, emit_seq 0..${seqs.lastOption.getOrElse(-1L)}")),
      Map("archive_ratio" -> deflated.toDouble / math.max(1L, inBytes),
        "dedup_first_frac" -> firsts.length.toDouble / math.max(1, rowsOut.length),
        "digest_store_rows" -> firsts.length.toDouble))
  }
}

/** BenSP Ferret's t_vec → t_rank → t_out: query vectors stream through
  * `StreamingPipelines.ferretStream` and each trigger searches a
  * resident multiprobe-LSH index (built once per session by
  * `Similarity.ferretIndex`) with exact re-rank, through
  * `Similarity.ferretSearchIndexed`. */
final class FerretStream(cfg: Config, seed: Long) extends Workload {
  val schema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("qv", ArrayType(FloatType, containsNull = false), nullable = false)))
  private val corpusN = cfg.int("corpus")
  private val nItems = cfg.int("items")
  private val nWarm = cfg.int("warm_items")
  /** One draw from the clusters: the corpus, then the measured queries,
    * then the warm-up queries. The queries are not corpus vectors, but
    * they are indexed with it: the indexed search takes a query's
    * sketch from the index, and leaves the query itself out of its
    * own results. */
  private val vecs = Gen.vectors(seed, corpusN + nItems + nWarm, cfg.int("clusters"),
    cfg.int("subs"), 64, cfg.double("sub_spread"), cfg.double("spread"))
  private def toRows(from: Int, n: Int): Array[InternalRow] = Array.tabulate(n) { i =>
    new GenericInternalRow(Array[Any]((from + i).toLong,
      UnsafeArrayData.fromPrimitiveArray(vecs(from + i)))): InternalRow
  }
  val rows: Array[InternalRow] = toRows(corpusN, nItems)
  val warmRows: Array[InternalRow] = toRows(corpusN + nItems, nWarm)
  private var index: FerretAccess.Index = _
  private var indexed: DataFrame = _
  /** Queries whose recall is measured against an exact scan. */
  private val RecallSample = 400

  override def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    indexed = spark.sparkContext
      .parallelize(vecs.indices.map(i => (i.toLong, vecs(i))), spark.sparkContext.defaultParallelism)
      .toDF("vec_id", "v").localCheckpoint(true)
    index = FerretAccess.index(indexed)
    FerretAccess.triggerConf(spark, vecs.length.toLong, cfg.long("max_items_per_trigger"))
      .foreach { case (k, v) => spark.conf.set(k, v) }
  }

  def start(spark: SparkSession, feed: DataFrame, dir: String, probe: Probe): StreamingQuery =
    StreamingPipelines.ferretStream(feed, q => FerretAccess.search(index, indexed, q),
      (out, id) => Workload.sink(out, "ferret_search", id, dir, probe))

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Ids of the `k` indexed vectors of highest cosine to vector `q`, `q` left out. */
  private def exactTopK(q: Int, k: Int): Set[Long] = {
    val cos = Array.fill(k)(Double.NegativeInfinity)
    val ids = Array.fill(k)(-1L)
    val a = vecs(q)
    var i = 0
    while (i < vecs.length) {
      if (i != q) {
        val c = cosine(a, vecs(i))
        if (c > cos(k - 1)) {
          var j = k - 1
          while (j > 0 && cos(j - 1) < c) { cos(j) = cos(j - 1); ids(j) = ids(j - 1); j -= 1 }
          cos(j) = c; ids(j) = i.toLong
        }
      }
      i += 1
    }
    ids.toSet
  }

  /** Every committed query has 1 to TopK results, ranked densely by
    * descending cosine, none of them itself; every cosine is exact; and
    * `recall_at_k` against an exact top-K scan of a seeded sample. */
  def check(spark: SparkSession, dir: String, committed: Int): (Seq[Check], Map[String, Double]) = {
    val k = graft.operators.Similarity.TopK
    val out = spark.read.parquet(s"$dir/sink").select("query_id", "vec_id", "cos", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getAs[Number](3).intValue))
    val byQ = out.groupBy(_._1)
    val want = (corpusN until corpusN + committed).map(_.toLong)
    val wellFormed = want.count { q =>
      byQ.get(q).exists { rs =>
        val s = rs.sortBy(_._4)
        s.length <= k && s.map(_._4).sameElements(1 to s.length) &&
          s.forall(r => r._2 != q && r._2 >= 0 && r._2 < vecs.length) &&
          s.sliding(2).forall(p => p.length < 2 || p(0)._3 >= p(1)._3)
      }
    }
    val stray = byQ.keySet.count(q => q < corpusN || q >= corpusN + committed)
    val worstCos = out.map(r => math.abs(r._3 - cosine(vecs(r._1.toInt), vecs(r._2.toInt))))
      .foldLeft(0.0)(math.max)
    val rnd = new java.util.Random(seed ^ 0x7ecaL)
    val sample = Array.fill(math.min(RecallSample, committed))(corpusN + rnd.nextInt(committed))
    val hits = sample.map { q =>
      val exact = exactTopK(q, k)
      byQ.getOrElse(q.toLong, Array.empty).count(r => exact.contains(r._2))
    }
    val recall = hits.sum.toDouble / math.max(1, sample.length * k)
    (Seq(
      Check("results_well_formed", wellFormed == committed && stray == 0,
        s"$wellFormed/$committed queries with 1..$k dense ranks by descending cosine; $stray stray query ids"),
      Check("cosine_exact", out.nonEmpty && worstCos <= 1e-5,
        f"${out.length} results, largest cosine error $worstCos%.2e")),
      Map("recall_at_k" -> recall))
  }
}

/** Event-time sessionization (`flatMapGroupsWithState`, 30-minute gap
  * and watermark) over Zipf-skewed, partly out-of-order events. */
final class SessionStream(cfg: Config, seed: Long) extends Workload {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))
  private val stepUs = (cfg.double("event_speedup") * 1e6 / cfg.double("rate")).toLong
  private val t0Us = 1767225600000000L // 2026-01-01T00:00:00Z
  private def gen(s: Long, n: Int) = Gen.events(s, n, cfg.int("users"), cfg.double("zipf_s"),
    cfg.double("out_of_order"), (cfg.double("max_delay_min") * 60e6).toLong, stepUs, t0Us)
  val events: Array[Gen.Event] = gen(seed, cfg.int("items"))
  private def toRow(e: Gen.Event): InternalRow = new GenericInternalRow(Array[Any](
    e.id, e.tsUs, e.user, Workload.utf8(e.etype), e.value))
  private val Sentinel = -999L
  val rows: Array[InternalRow] = events.map(toRow)
  val warmRows: Array[InternalRow] = gen(seed ^ 0x5eedL, cfg.int("warm_items")).map(toRow)

  def start(spark: SparkSession, feed: DataFrame, dir: String, probe: Probe): StreamingQuery = {
    import spark.implicits._
    StreamingPipelines.sessionize(feed.as[StreamingPipelines.Ev])
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: Dataset[StreamingPipelines.SessionOut], id: Long) =>
        Workload.sink(b.toDF(), "sessionize", id, dir, probe)
      }
      .start()
  }

  /** Append a sentinel a day past the last released event: the
    * watermark then passes every gap horizon and all sessions close. */
  override def flush(spark: SparkSession, q: StreamingQuery, feed: Feed): Unit = {
    val n = feed.released.get.toInt
    feed.rows(n) = toRow(Gen.Event(-1L, events(n - 1).tsUs + 86400L * 1000000L, Sentinel, "view", 0.0))
    feed.release(n + 1L)
    q.processAllAvailable()
  }

  /** `streaming.timeouts`: sessions the stream closed in a trigger that
    * carried no event of their user, i.e. through the event-time timeout. */
  override def traceFacts(spark: SparkSession, dir: String, triggers: Seq[StreamingQueryProgress],
                          marks: Seq[Mark]): Map[String, Double] = {
    val usersOf = triggers.map { p =>
      val (a, b) = (Feed.offsetOf(p.sources.head.startOffset), Feed.offsetOf(p.sources.head.endOffset))
      p.batchId -> (a until b).map(i => events(i.toInt).user).toSet
    }.toMap
    val closed = spark.read.parquet(s"$dir/sink").select("batch", "user_id").collect()
      .count(r => usersOf.get(r.getLong(0)).exists(u => !u.contains(r.getLong(1))))
    Map("streaming.timeouts" -> closed.toDouble)
  }

  /** The flushed sessions equal `q_sessionize` over the same events. */
  def check(spark: SparkSession, dir: String, committed: Int): (Seq[Check], Map[String, Double]) = {
    import spark.implicits._
    val table = s"$dir/tables"
    events.take(committed).toSeq
      .map(e => (e.id, e.tsUs, e.user, e.etype, e.value))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartition(1).write.parquet(s"$table/events.parquet")
    val cols = Seq("user_id", "sess_id", "n_events", "start_us", "end_us").map(col)
    val streamed = spark.read.parquet(s"$dir/sink").filter(col("user_id") =!= Sentinel)
      .select(cols: _*).localCheckpoint(true)
    val batch = graft.SparkEntry.queries("q_sessionize")(spark, table).select(cols: _*)
      .localCheckpoint(true)
    val onlyStream = streamed.exceptAll(batch).count()
    val onlyBatch = batch.exceptAll(streamed).count()
    val n = streamed.count()
    Seq(streamed, batch).foreach(Workload.release)
    (Seq(Check("sessions_eq_q_sessionize", onlyStream == 0 && onlyBatch == 0 && n > 0,
      s"$n sessions; $onlyStream only in the stream, $onlyBatch only in q_sessionize")), Map.empty)
  }
}
