package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Hex, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Chunker

/** Structured Streaming pipelines (SURVEY.md §2.F) — the BenSP
  * stream-parallelism benchmarks re-expressed on Spark's streaming
  * engine. The reference measures throughput/latency of pipelined
  * stages over an item stream (apps/dedup, apps/ferret with
  * per-stage replica counts); here the same characteristics are
  * exercised through micro-batch pipelines whose parallelism comes
  * from partitioning rather than explicit stage replicas.
  *
  * Every pipeline here is run by a registered `stream_*` key, a bench
  * leg or a perfbench workload: the keyed operators ([[dedupStream]],
  * [[windowAgg]], [[sessionize]], [[sessionTvfAgg]]), the composed
  * Dedup pipeline [[fiveStageBatch]] — whose Reorder is a sequence
  * counter, BenSP's ordered mode (encoder_spar_ord.cpp) — and the
  * Ferret search [[ferretStream]], plus the harnesses that drive them.
  * Each is a pure transform over a batch or a streaming frame, so the
  * same code is checked against its batch mirror. Batch keys without
  * a streaming pipeline (`q_hop_window`, `q_stream_join`,
  * `dedup_incremental*`, `q_incremental_agg`, `q_delta_upsert`) keep
  * their own oracles.
  */
object StreamingPipelines {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)

  case class SessionOut(user_id: Long, sess_id: Long, n_events: Long,
                        start_us: Long, end_us: Long)

  val SessionGapUs: Long = 1800L * 1000000L

  // ---- streaming dedup: reference Deduplicate stage over a stream ------
  /** Keyed first-occurrence dedup with bounded state (watermark). */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")

  // ---- watermarked tumbling window aggregation -------------------------
  def windowAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))

  /** Sessionization on Spark's native session_window TVF, the twin of
    * [[sessionize]] without `sess_id`. Merging-session state under the
    * watermark; StreamingSpec proves it matches the batch mirror
    * `q_session_tvf` cell-for-cell once the stream drains. */
  def sessionTvfAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))

  // ---- stateful sessionization (flatMapGroupsWithState) ----------------
  /** A session the watermark has not closed yet. */
  case class OpenSession(startUs: Long, endUs: Long, nEvents: Long)
  /** Per-user state: how many sessions were emitted, plus the open
    * ones in start order, each more than the gap apart. */
  case class SessState(emitted: Long, open: Seq[OpenSession])

  private def tsUs(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** The ms event-time timer of an open session: once the watermark is
    * past it, every on-time event lies more than the gap after the
    * session's last event, so none can reach it. */
  private def horizonMs(o: OpenSession): Long = (o.endUs + SessionGapUs) / 1000L

  /** Event-time sessionization with a 30-min gap — the streaming twin
    * of Relational.qSessionize.
    *
    * State per user is the emitted-session counter plus the sessions
    * the watermark has not closed. Each event merges into, or bridges,
    * the open sessions within the gap of it, lowering their start and
    * raising their end, so arrival order does not matter. A session
    * closes only when the watermark passes its [[horizonMs]], and is
    * then emitted numbered counter + 1, in start order. That happens
    * on the event-time timer, set at the earliest open session's
    * horizon, or in a data call for a key whose timer is due in the
    * same trigger (Spark runs the data calls before the timers).
    *
    * Late rows: under EventTimeTimeout Spark drops every row at or
    * behind the previous trigger's watermark before it reaches the
    * state. A late row never opens, extends or reopens a session and
    * is absent from the output; every row Spark keeps lies past the
    * horizon of each emitted session. The output equals `q_sessionize`
    * over the kept rows. */
  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          val s0 = state.getOption.getOrElse(SessState(0L, Nil))
          val open = it.foldLeft(s0.open) { (open, e) =>
            val us = tsUs(e.ts)
            val (near, far) = open.partition(o =>
              us >= o.startUs - SessionGapUs && us <= o.endUs + SessionGapUs)
            val merged = near.foldLeft(OpenSession(us, us, 1L)) { (m, o) =>
              OpenSession(math.min(m.startUs, o.startUs),
                math.max(m.endUs, o.endUs), m.nEvents + o.nEvents)
            }
            (far :+ merged).sortBy(_.startUs)
          }
          val (done, rest) = open.span(horizonMs(_) < state.getCurrentWatermarkMs())
          state.update(SessState(s0.emitted + done.size, rest))
          rest.headOption.foreach(o => state.setTimeoutTimestamp(horizonMs(o)))
          done.iterator.zipWithIndex.map { case (o, i) =>
            SessionOut(userId, s0.emitted + i + 1, o.nEvents, o.startUs, o.endUs)
          }
      }
  }

  // ---- the 5-stage dedup pipeline, composed end to end -----------------
  /** The reference's flagship artifact as ONE streaming pipeline:
    * Fragment→Refine (content-defined chunking, encoder.c:999),
    * Deduplicate (digest lookup in a hashtable that lives across the
    * stream's lifetime, `dedupdef.h`),
    * Compress (per-unique-chunk deflate accounting, encoder.c:587),
    * Reorder (ordered emission, encoder.c:1345 /
    * encoder_spar_ord.cpp). foreachBatch is the composition point —
    * Spark correctly refuses arbitrary chains of stateful operators in
    * one query — and every stage is a plain batch transform, so the
    * same function is provable in batch (FiveStageSpec: chunk parity,
    * store convergence, byte-exact restore, dense ordered emit).
    *
    * Output: every chunk, tagged `is_first` (first occurrence of its
    * content across the stream so far); firsts carry their bytes and
    * deflate length (the archive payload), duplicates only the digest
    * reference — encoder.c's compressed-data-or-fingerprint framing.
    * `emit_seq` is a globally contiguous sequence in (doc_id,
    * chunk_idx) order. A trigger plans one scan of the batch and no
    * other query: the stages run as two narrow passes over RDDs of
    * Catalyst rows.
    *  - Fragment + Refine maps the batch's rows to chunk rows and is
    *    checkpointed; the trigger's one Spark job fills the checkpoint
    *    and collects each chunk's (doc_id, chunk_idx, digest) and its
    *    term of the batch fingerprint, `bit_xor(xxhash64(doc_id,
    *    chunk_idx, chunk_sha))`.
    *  - Compress + Reorder maps the checkpoint to the output rows, with
    *    the trigger's firsts and sequence starts in its closure; the
    *    frame returned is that RDD as one `LogicalRDD` leaf, so a
    *    consumer's action runs the pass (and re-runs its deflate).
    * Everything in between is decided on the driver:
    *  - Deduplicate walks the batch's digests in (doc_id, chunk_idx)
    *    order; a chunk is a first when its digest is neither in the
    *    store's [[DigestIndex]] nor met earlier in the batch;
    *  - Reorder gives each document the sequence numbers after the
    *    frontier and the chunks of every smaller doc_id in the batch,
    *    and a row's `emit_seq` is its document's first number plus its
    *    `chunk_idx`. Like the reference's single Reorder thread the
    *    sequence is a counter; no row moves to compute it, so the
    *    output rows are not physically sorted — order by `emit_seq`
    *    to read them in sequence.
    * A doc_id that is null or repeats within one trigger fails the
    * trigger, since the sequence would no longer follow from (doc_id,
    * chunk_idx).
    *
    * Store layout under `storeDir`, all read and written on the driver
    * through the Hadoop FileContext API (no Spark job), each file
    * replaced atomically (written to a temporary file and renamed over
    * the old one, so a crash leaves the old content or the new, never
    * neither):
    *  - `digests/txn=k.bin` — the raw 32-byte SHA-256 digests of the
    *    first occurrences written by transaction k, in emit order;
    *  - `frontier.rec` — one text line `next_seq=… base=… epoch=…
    *    fp=… txn=…`.
    *
    * The digest index: the driver keeps one [[DigestIndex]] resident,
    * for the store written last, tagged with the last txn it reflects.
    * A trigger of txn k uses it only when that tag is k − 1 and the
    * trigger is not a redelivery. Otherwise — the first trigger on a
    * store in this JVM, a redelivery, a frontier record older than the
    * index, or an index evicted by another store's trigger — it
    * rebuilds the index from every `txn=j.bin` with j ≠ k. The index is
    * updated only after the frontier record is written, so it is never
    * ahead of the commit point. Driver memory: one index, at most 64
    * bytes per distinct digest (raw digests in an open-addressed
    * table), plus the running trigger's chunk keys and digests. A
    * store has one writer at a time: a resident index does not see
    * digests another process appends.
    *
    * Each trigger writes its digests before its frontier record, and
    * both advances are keyed by (epoch, batch fingerprint) so an
    * at-least-once redelivery of the same epoch is idempotent: each
    * attempt's digests live in their own txn file (a redelivery
    * replaces the failed attempt's file and the lookup excludes exactly
    * that txn, so firsts re-classify identically), and the frontier
    * record keeps (base, epoch, fp) so a redelivery re-bases emit_seq
    * at the SAME sequence range instead of skipping one — the
    * dense-sequence invariant holds across retries (FiveStageSpec
    * redelivers an epoch to prove it). A crash between the two writes
    * leaves the previous record, and the redelivery then re-runs as
    * new work under the same txn and base — the same output again. A
    * NEW query over the same store (epoch numbering restarting at 0)
    * is distinguished by the fingerprint and gets a fresh txn. A store
    * whose record is gone while digests of a txn > 0 exist fails
    * loudly instead of restarting at txn 0 over committed digests, and
    * so does a store in an older layout. Exactly-once emission to the
    * outside world additionally needs the sink's transaction + query
    * checkpoint, same as every foreachBatch sink. */
  /** Last batch's chunk checkpoint per store — freed at the NEXT call
    * (the caller has consumed the previous batch's output by then;
    * foreachBatch calls are sequential per query), so a long-running
    * stream holds at most ONE batch's blocks instead of accumulating
    * one per trigger. */
  private val fiveStagePrevCkpt =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.rdd.RDD[_]]

  /** A five-stage store's emit frontier: the next sequence number, the
    * base the last trigger emitted from, and that trigger's (epoch,
    * fingerprint, txn) — the replay key. */
  private final case class FiveStageFrontier(nextSeq: Long, base: Long, epoch: Long,
                                             fp: Long, txn: Long) {
    def record: String = s"next_seq=$nextSeq base=$base epoch=$epoch fp=$fp txn=$txn\n"
  }

  private[graft] def fiveStageFrontierPath(storeDir: String): String =
    s"$storeDir/frontier.rec"

  /** A committed file's bytes. The rename is the commit point; on a
    * checksummed filesystem a crash right after it can leave the
    * previous file's checksum sidecar behind, which must not make the
    * committed file unreadable. */
  private def readCommitted(fc: org.apache.hadoop.fs.FileContext,
                            path: org.apache.hadoop.fs.Path): Array[Byte] = {
    fc.setVerifyChecksum(false, path)
    val in = fc.open(path)
    try in.readAllBytes() finally in.close()
  }

  /** Replaces `path` with `bytes` through a temporary file and a rename. */
  private def writeCommitted(fc: org.apache.hadoop.fs.FileContext,
                             path: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = {
    import org.apache.hadoop.fs.{CreateFlag, Options, Path}
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
    fc.rename(tmp, path, Options.Rename.OVERWRITE)
  }

  private def readFiveStageFrontier(fc: org.apache.hadoop.fs.FileContext,
                                    path: org.apache.hadoop.fs.Path): Option[FiveStageFrontier] =
    if (!fc.util.exists(path)) None
    else {
      val text = new String(readCommitted(fc, path), "UTF-8")
      val kv = text.trim.split("\\s+").map(_.split("=", 2)).collect {
        case Array(k, v) if v.matches("-?\\d+") => k -> v.toLong
      }.toMap
      require(kv.keySet == Set("next_seq", "base", "epoch", "fp", "txn"),
        s"five-stage frontier record $path is unreadable: '${text.trim}'")
      Some(FiveStageFrontier(kv("next_seq"), kv("base"), kv("epoch"), kv("fp"), kv("txn")))
    }

  private val digestFile = "txn=(\\d+)\\.bin".r

  /** The digest log's files by txn. A `txn=k/` directory is the parquet
    * digest store of older code: fail with the migration path. */
  private def fiveStageDigestLog(fc: org.apache.hadoop.fs.FileContext,
                                 storeDir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val dir = new org.apache.hadoop.fs.Path(s"$storeDir/digests")
    if (!fc.util.exists(dir)) Seq.empty
    else {
      val entries = fc.util.listStatus(dir).toSeq
      val legacy = entries.filter(e => e.isDirectory && e.getPath.getName.startsWith("txn="))
      require(legacy.isEmpty,
        s"five-stage store at $storeDir has legacy parquet digest directories (" +
          legacy.map(_.getPath.getName).sorted.take(3).mkString(", ") + ", …) — they " +
          "predate the digest log of raw records; start a fresh storeDir, or write each " +
          "directory's chunk_sha values, unhexed to 32 bytes each, to digests/txn=k.bin " +
          "and remove the txn=k/ directories")
      entries.map(_.getPath).collect {
        case p if digestFile.pattern.matcher(p.getName).matches =>
          p.getName.stripPrefix("txn=").stripSuffix(".bin").toLong -> p
      }.sortBy(_._1)
    }
  }

  private def readDigestFile(fc: org.apache.hadoop.fs.FileContext,
                             path: org.apache.hadoop.fs.Path): Iterator[Array[Byte]] = {
    val bytes = readCommitted(fc, path)
    require(bytes.length % DigestIndex.DigestBytes == 0,
      s"five-stage digest file $path holds ${bytes.length} bytes, not whole " +
        s"${DigestIndex.DigestBytes}-byte digests")
    bytes.grouped(DigestIndex.DigestBytes)
  }

  /** Every digest in a five-stage store's log, by txn, as hex.
    * Test seam: FiveStageSpec reads the store through it. */
  private[graft] def fiveStageDigests(s: SparkSession, storeDir: String): Seq[(Long, String)] = {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new org.apache.hadoop.fs.Path(storeDir).toUri, s.sparkContext.hadoopConfiguration)
    fiveStageDigestLog(fc, storeDir).flatMap { case (txn, p) =>
      readDigestFile(fc, p).map(d => txn -> d.map("%02x".format(_)).mkString)
    }
  }

  def fiveStageBatch(s: SparkSession, storeDir: String)(
      batch: DataFrame, epoch: Long): DataFrame = {
    import org.apache.hadoop.fs.{FileContext, Path}
    val frontierPath = new Path(fiveStageFrontierPath(storeDir))
    val fc = FileContext.getFileContext(frontierPath.toUri, s.sparkContext.hadoopConfiguration)
    // the frontier moved from a parquet directory to one atomically
    // replaced record: a store written by the old code must fail HERE
    // with a clear message, not silently restart its sequence
    require(!fc.util.exists(new Path(s"$storeDir/frontier")),
      s"five-stage store at $storeDir has a legacy parquet frontier directory " +
        "(frontier/) — it predates the atomic frontier record; start a fresh " +
        s"storeDir, or write its one row to $frontierPath as the line " +
        "'next_seq=N base=B epoch=E fp=F txn=T' and remove frontier/")
    val stored = readFiveStageFrontier(fc, frontierPath)
    // listed only without a record or when the index is rebuilt
    lazy val logged = fiveStageDigestLog(fc, storeDir)
    // only a crash inside the very first trigger leaves digests
    // without a record; anything later means the record was lost, and
    // restarting at txn 0 would overwrite committed digests and
    // re-issue sequence numbers
    if (stored.isEmpty && logged.exists(_._1 > 0))
      throw new IllegalStateException(s"five-stage store at $storeDir has committed " +
        s"digests (txn ${logged.map(_._1).max}) but no frontier record $frontierPath — the " +
        "emit frontier was lost; restore the record or start a fresh storeDir")
    // free the previous trigger's checkpoint (its output frame was
    // fully consumed before this trigger started)
    fiveStagePrevCkpt.remove(storeDir).foreach(_.unpersist(blocking = false))
    // Fragment + Refine: one pass over the batch's rows cuts each
    // document with NativeChunk.chunks' defaults (32/256/6, buzhash)
    // into rows (chunk_sha, doc_id, chunk_idx, offset, length, piece).
    // The pass is checkpointed; the job that fills the checkpoint
    // collects all the driver needs for Deduplicate and Reorder: each
    // chunk's key, raw digest and term of the batch fingerprint
    val docOrd = batch.schema.fieldIndex("doc_id")
    val textOrd = batch.schema.fieldIndex("text")
    val chunks = batch.queryExecution.toRdd.mapPartitions[InternalRow](_.flatMap { r =>
      if (r.isNullAt(textOrd)) Iterator.empty
      else {
        val doc: Any = if (r.isNullAt(docOrd)) null else r.getLong(docOrd)
        val bytes = r.getUTF8String(textOrd).getBytes
        Chunker.chunk(bytes).iterator.map(c => new GenericInternalRow(Array[Any](
          UTF8String.fromString(c.chunk_sha), doc, c.chunk_idx, c.offset, c.length,
          java.util.Arrays.copyOfRange(bytes, c.offset, c.offset + c.length))))
      }
    }).localCheckpoint()
    // the next trigger frees this trigger's checkpoint (also when this
    // one fails below)
    fiveStagePrevCkpt.put(storeDir, chunks)
    val collected = chunks.map { r =>
      val doc = if (r.isNullAt(1)) None else Some(r.getLong(1))
      // xxhash64(doc_id, chunk_idx, chunk_sha) as Spark SQL computes
      // it: seed 42, arguments folded left to right, a null skipped
      val term = XXH64.hashUTF8String(r.getUTF8String(0),
        XXH64.hashInt(r.getInt(2), doc.fold(42L)(XXH64.hashLong(_, 42L))))
      (doc, r.getInt(2), Hex.unhex(r.getUTF8String(0).getBytes), term)
    }.collect()
    val fp = collected.foldLeft(0L)(_ ^ _._4)
    val keys = collected.toVector.map { case (doc, idx, digest, _) =>
      require(doc.isDefined, s"five-stage trigger $epoch has a document with a null doc_id")
      (doc.get, idx, digest)
    }.sortBy(k => (k._1, k._2))
    // a document numbers its chunks 0, 1, …: a (doc_id, chunk_idx)
    // pair seen twice is a doc_id that came twice
    val repeated = keys.iterator.sliding(2).collect {
      case Seq(a, b) if a._1 == b._1 && a._2 == b._2 => a._1
    }.toSeq.distinct
    require(repeated.isEmpty, s"five-stage trigger $epoch repeats doc_id " +
      s"${repeated.sorted.mkString(", ")}: emit_seq numbers each document once")
    val n = keys.length.toLong
    // Replay detection for the at-least-once contract: foreachBatch
    // may redeliver an epoch after a crash that already advanced the
    // store/frontier, and a NEW query over the same store restarts
    // epoch numbering at 0 — epoch id alone distinguishes neither.
    // The frontier record therefore keeps (epoch, fingerprint): a
    // matching pair marks a true redelivery (same batch, same data),
    // which must re-emit the SAME sequence range against the SAME
    // store view; anything else is new work. Each attempt writes its
    // digests into its own txn file, so a redelivery REPLACES the
    // failed attempt's write (never double-appends) and the lookup can
    // exclude exactly that txn.
    val isReplay = stored.exists(f => f.epoch == epoch && f.fp == fp)
    val txn = stored.fold(0L)(f => if (isReplay) f.txn else f.txn + 1)
    val frontier = stored.fold(0L)(f => if (isReplay) f.base else f.nextSeq)
    // Deduplicate against every txn but THIS one: on a redelivery the
    // failed attempt's own digests are already on disk, and counting
    // them would re-classify the whole batch as all-duplicate (firsts
    // lost forever)
    val index = DigestIndex.resident(storeDir, txn - 1).filter(_ => !isReplay).getOrElse {
      val rebuilt = DigestIndex.empty()
      logged.filter(_._1 != txn).foreach { case (_, p) =>
        readDigestFile(fc, p).foreach(rebuilt.add)
      }
      rebuilt
    }
    val batchSeen = DigestIndex.empty()
    val firsts = keys.filter { case (_, _, d) => !index.contains(d) && batchSeen.add(d) }
    writeCommitted(fc, new Path(s"$storeDir/digests/txn=$txn.bin"),
      firsts.iterator.flatMap(_._3).toArray)
    writeCommitted(fc, frontierPath,
      FiveStageFrontier(frontier + n, frontier, epoch, fp, txn).record.getBytes("UTF-8"))
    DigestIndex.commit(storeDir, txn, index, firsts.map(_._3))
    // Compress the firsts; duplicates keep only the digest reference
    val firstIdx = firsts.groupBy(_._1).map { case (doc, ks) =>
      doc -> scala.collection.immutable.BitSet(ks.map(_._2): _*) }
    // Reorder: a document's chunks take the sequence numbers after
    // those of every earlier doc_id in the batch
    val docChunks = keys.groupBy(_._1).map { case (doc, ks) => doc -> ks.length.toLong }
      .toSeq.sortBy(_._1)
    val firstSeq = docChunks.map(_._1).zip(docChunks.scanLeft(frontier)(_ + _._2)).toMap
    // Compress + Reorder: one pass over the checkpoint, returned as the
    // frame's only plan node
    val out = chunks.mapPartitions[InternalRow](_.map { r =>
      val doc = r.getLong(1)
      val idx = r.getInt(2)
      val piece = r.getBinary(5)
      val first = firstIdx.get(doc).exists(_(idx))
      new GenericInternalRow(Array[Any](r.getUTF8String(0), doc, idx, r.getInt(3), r.getInt(4),
        if (first) piece else null, first,
        if (first) Chunker.compressedLen(piece, 0, piece.length, "deflate") else null,
        firstSeq(doc) + idx))
    })
    ColumnBridge.dataFrame(s, out, fiveStageSchema(batch.schema(docOrd).nullable))
  }

  /** [[fiveStageBatch]]'s output columns. doc_id keeps the nullability
    * of the batch's doc_id, and is_first and emit_seq, which are
    * derived from it, share it; no emitted row holds a null there,
    * since a null doc_id with chunks fails the trigger. */
  private def fiveStageSchema(docNullable: Boolean): StructType = StructType(Seq(
    StructField("chunk_sha", StringType, nullable = false),
    StructField("doc_id", LongType, docNullable),
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("offset", IntegerType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("piece", BinaryType, nullable = true),
    StructField("is_first", BooleanType, docNullable),
    StructField("comp_len", IntegerType, nullable = true),
    StructField("emit_seq", LongType, docNullable)))

  /** fileThroughputBench's foreachBatch twin: drives a per-batch
    * DataFrame transform (e.g. [[fiveStageBatch]]) from the same
    * distributed file feed and reports the same BenchResult shape;
    * rows_out counts the transform's emitted rows. */
  def foreachBatchThroughputBench(s: SparkSession, feed: Feed, name: String,
                                  stage: (DataFrame, Long) => DataFrame): BenchResult = {
    val rowsOut = new java.util.concurrent.atomic.AtomicLong
    val q = s.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed.path)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // the noop write materializes every column of the output and
        // counts its rows in the same pass: a count() afterwards would
        // run the transform again (over an RDD-backed output such as
        // fiveStageBatch's, its whole Compress pass)
        val obs = org.apache.spark.sql.Observation()
        stage(b.toDF(), id).observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        rowsOut.addAndGet(obs.get("rows").asInstanceOf[Long]): Unit
      }
      .start()
    try {
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val elapsed = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      benchResultOf(name, feed.rows, rowsOut.get, progress.size.toLong,
        elapsed, progress)
    } finally q.stop()
  }

  /** Streaming ferret: each micro-batch of query vectors probes the
    * static LSH index through the same two-phase batch DAG
    * (foreachBatch — the production pattern for per-batch top-k,
    * since global ranking windows aren't defined on unbounded
    * streams). `search` is the batch search bound to the static
    * corpus; `onBatch` is the caller's sink (parquet append, Kafka,
    * a collector in tests). */
  def ferretStream(queries: DataFrame,
                   search: DataFrame => DataFrame,
                   onBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // cache the trigger batch — the two-phase search references it
        // in three plan branches, and an uncached foreachBatch frame
        // re-reads the source once per branch
        val b = batch.toDF().cache()
        try onBatch(search(b), id)
        finally { b.unpersist(blocking = false): Unit }
      }
      .start()

  // ---- throughput harness (BenSP parsec_stream equivalent) -------------
  /** Per-stage latency breakdown of each micro-batch — the reference
    * harness's per-stage latency / service-time dump (bin/parsec_stream,
    * bensp_ferret UPL metrics) at micro-batch granularity:
    * exec (addBatch = the pipeline's service time), plan
    * (queryPlanning), getbatch (source read setup), commit (offset WAL),
    * trigger (whole-trigger wall), and the state store's own split
    * (update vs store-commit time, from StateOperatorProgress). */
  case class BenchResult(pipeline: String, rows_in: Long, rows_out: Long,
                         batches: Long, elapsed_sec: Double, rows_per_sec: Double,
                         batch_ms_p50: Double, batch_ms_p95: Double,
                         exec_ms_p50: Double, plan_ms_p50: Double,
                         commit_ms_p50: Double, getbatch_ms_p50: Double,
                         trigger_ms_p50: Double, state_update_ms_p50: Double,
                         state_commit_ms_p50: Double,
                         // r15 (r14 verdict #7): the harness gate as an
                         // assertable column — ingested_rows is the
                         // MEASURED progress-sum (rows_in is the feed's
                         // expected count), rate_ok the run verdict
                         // (every feed row consumed, output produced,
                         // real triggers, real wall-clock), so the
                         // driver's rows-only check gains a semantic bit
                         ingested_rows: Long, rate_ok: Boolean,
                         // r16 (r15 verdict #8): the RAW per-trigger
                         // duration samples behind every percentile
                         // column, echoed as comma-joined
                         // Double.toString (round-trippable, so a
                         // cross-engine reparse is exact) — the DuckDB
                         // oracle re-sorts each list and re-picks the
                         // percentile element, re-derives rows_per_sec
                         // = rows_in / elapsed_sec, and re-evaluates
                         // the rate_ok gate from the echoed integers,
                         // so no derived metric is trusted verbatim
                         batch_ms_list: String, exec_ms_list: String,
                         plan_ms_list: String, commit_ms_list: String,
                         getbatch_ms_list: String, trigger_ms_list: String,
                         state_update_ms_list: String,
                         state_commit_ms_list: String)

  /** Percentile of observed micro-batch durations (BenSP's per-stage
    * latency metric, at micro-batch granularity). */
  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  /** One definition of the progress→metrics mapping, shared by both
    * harnesses so their reported latencies can never diverge. */
  private def benchResultOf(name: String, rowsIn: Long, rowsOut: Long,
                            batches: Long, elapsed: Double,
                            progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
      : BenchResult = {
    val batchMs = progress.map(_.batchDuration.toDouble)
    def phaseMs(key: String): Seq[Double] = progress.map { p =>
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
    }
    val commitMs = phaseMs("walCommit").zip(phaseMs("commitOffsets"))
      .map { case (a, b) => a + b }
    // state-store time summed over the query's stateful operators (a
    // stateless pipeline reports 0s — the columns are always present)
    def stateMs(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long)
        : Seq[Double] =
      progress.map(_.stateOperators.map(f(_).toDouble).sum)
    val ingested = progress.map(_.numInputRows).sum
    def csv(xs: Seq[Double]): String = xs.mkString(",")
    BenchResult(name, rowsIn, rowsOut, batches, elapsed, rowsIn / elapsed,
      pct(batchMs, 0.5), pct(batchMs, 0.95),
      pct(phaseMs("addBatch"), 0.5), pct(phaseMs("queryPlanning"), 0.5),
      pct(commitMs, 0.5), pct(phaseMs("getBatch"), 0.5),
      pct(phaseMs("triggerExecution"), 0.5),
      pct(stateMs(p => p.allUpdatesTimeMs + p.allRemovalsTimeMs), 0.5),
      pct(stateMs(_.commitTimeMs), 0.5),
      ingested,
      ingested == rowsIn && rowsOut > 0 && batches > 0 && elapsed > 0,
      csv(batchMs), csv(phaseMs("addBatch")), csv(phaseMs("queryPlanning")),
      csv(commitMs), csv(phaseMs("getBatch")), csv(phaseMs("triggerExecution")),
      csv(stateMs(p => p.allUpdatesTimeMs + p.allRemovalsTimeMs)),
      csv(stateMs(_.commitTimeMs)))
  }

  /** A materialized replay feed: path + the metadata every measured
    * run needs (so the bench never re-scans the feed per pipeline). */
  case class Feed(path: String, rows: Long, slices: Int,
                  schema: org.apache.spark.sql.types.StructType)

  /** Materialize the replay feed: `nSlices` time-range parquet slices
    * written by one Spark job (no event touches the driver), restamped
    * with strictly increasing mtimes — the parallel write stamps every
    * slice identically, the file source replays in mtime order, and a
    * live stream's file drops are mtime-ordered anyway. One feed
    * serves any number of measured pipelines. */
  def prepareFeed(s: SparkSession, events: DataFrame, nSlices: Int): Feed =
    prepareFeedBy(s, events, nSlices, Seq(col("ts"), col("event_id")))

  /** [[prepareFeed]] with caller-chosen slice ordering — the events
    * default slices by (ts, event_id); other feeds (e.g. the ferret
    * query-vector stream) bring their own replay key. */
  def prepareFeedBy(s: SparkSession, df: DataFrame, nSlices: Int,
                    sortCols: Seq[org.apache.spark.sql.Column]): Feed = {
    val feedDir = graft.Stores.scratch(s, "feed")
    df.repartitionByRange(nSlices, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite").parquet(feedDir)
    val parts = Option(new java.io.File(feedDir).listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) =>
      // the restamp IS the replay-ordering mechanism — a filesystem
      // that refuses it must fail the bench, not silently feed the
      // watermark out-of-order data
      require(f.setLastModified(base + i * 2000L),
        s"cannot restamp feed slice ${f.getPath} — replay order would be undefined")
    }
    val written = s.read.parquet(feedDir)
    Feed(feedDir, written.count(), parts.length, written.schema)
  }

  /** Serializes the shuffle-partition override window around each
    * measured query's start: StreamExecution clones the session in
    * its constructor, so a started stream keeps its override — but
    * two legs starting CONCURRENTLY (streamRateBench since r16) would
    * race on the shared session conf without this. */
  private val startLock = new Object

  /** Start a streaming query under a state-partition override scoped
    * to startup (the fileThroughputBench pattern, shared): the stream
    * clones the session in its constructor, so the started query keeps
    * `parts` for its state layout while the shared session is restored
    * immediately. Serialized on [[startLock]] against concurrent legs.
    * `parts` is evaluated INSIDE the lock: a count derived from
    * numShufflePartitions read outside it could observe another leg's
    * transient override. */
  def startWithStateParts[T](s: SparkSession, parts: => Int)(start: => T): T =
    startLock.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try { s.conf.set("spark.sql.shuffle.partitions", parts.toString); start }
      finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }

  /** Drive a pipeline from a DISTRIBUTED file source and measure
    * end-to-end throughput — the reference's items/s metric
    * (bin/parsec_stream logs) with no driver-side event collection:
    * the stream replays the feed one slice per micro-batch
    * (maxFilesPerTrigger=1) in mtime order. This is the scale path —
    * the events never pass through the driver. */
  def fileThroughputBench(s: SparkSession, feed: Feed,
                          name: String, pipeline: DataFrame => DataFrame,
                          mode: OutputMode = OutputMode.Update()): BenchResult = {
    // state partitions sized to micro-batch volume (≈2k rows per
    // partition per batch, floor 4): every state partition pays a
    // store commit per batch, so partitions far in excess of the
    // batch size measure commit overhead instead of the pipeline. A
    // query pins its state layout at first start (the setting is
    // per-query, restored after start) — on a real cluster this is
    // the state-partition count you'd size to the trigger volume.
    // sink is `noop` (r15 verdict #3): the previous memory sink
    // collected every output row onto the driver — at sf1 the
    // window_agg/sessionize legs alone needed a 48 g driver heap.
    // The noop v2 sink fully materializes every output row in the
    // executors and reports the per-batch count through
    // SinkProgress.numOutputRows, so rows_out keeps its meaning
    // (cumulative emitted rows) with nothing held on the driver.
    val q = startWithStateParts(s,
        statePartsFor(s, (feed.rows / math.max(1, feed.slices)).toInt)) {
      pipeline(s.readStream.schema(feed.schema)
          .option("maxFilesPerTrigger", 1).parquet(feed.path))
        .writeStream.format("noop")
        .outputMode(mode).start()
    }
    try {
      // clock starts AFTER query startup, matching throughputBench —
      // the two harnesses' rows_per_sec stay comparable
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val elapsed = (System.nanoTime() - t0) / 1e9
      val all = q.recentProgress.toSeq
      val progress = all.filter(_.numInputRows > 0)
      // rows_out sums over ALL batches: append-mode pipelines emit
      // their final windows/sessions in the no-data watermark-flush
      // batch (numInputRows == 0, numOutputRows > 0) — filtering it
      // out would undercount exactly the rows the flush exists to
      // emit (r16 review). Latency percentiles stay input-bearing.
      val rowsOut = all.map(p => math.max(0L, p.sink.numOutputRows)).sum
      benchResultOf(name, feed.rows, rowsOut, progress.size.toLong, elapsed, progress)
    } finally q.stop() // never leak a live query over its feed dir
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  // ---- sustained-rate soak: watermark-bounded state, proven flat -------
  /** One sampled trigger of the soak: state-store size + throughput
    * at that trigger, plus the run-level flatness verdict (constant
    * across rows — the curve's property, stated on every sample so a
    * single-row reader sees it). */
  case class SoakRow(trigger_idx: Int, elapsed_sec: Double, input_rows: Long,
                     input_rows_per_sec: Double, state_rows: Long,
                     state_mem_bytes: Long, watermark_present: Boolean,
                     n_triggers: Long, mid_mean_state_rows: Double,
                     late_mean_state_rows: Double, flat_ok: Boolean)

  /** Drive a WATERMARKED windowed aggregation from Spark's
    * distributed `rate` source at a sustained fixed rate for
    * `soakSecs` wall-clock seconds — the reference harness's
    * continuous-stream posture (bin/parsec_stream drives an unbounded
    * stream at rate; the bounded-slice harnesses above measure
    * throughput, this proves STATE is watermark-bounded over time).
    * Event time == arrival time, so the watermark advances with the
    * wall clock and closed windows are continuously evicted: if
    * eviction works, state rows plateau at ≈ (window + delay) / window
    * + 1 live windows × key cardinality; if it leaks, the curve grows
    * linearly and the flatness gate fails.
    *
    * Per-trigger StateOperatorProgress is sampled by POLLING
    * lastProgress (deduped on batchId) — immune to the
    * recentProgress retention cap, so a minutes-long soak keeps every
    * trigger. Flatness gate: the MEAN state-row count of the last
    * third of triggers must be within 20% of the middle third's
    * (the first third is warm-up — the plateau only exists once the
    * first windows close; the mean, not the median, because the
    * steady state oscillates between floor and ceil of the
    * live-window count). The sink is `noop`: nothing accumulates on
    * the driver, and rows/sec is the source's configured rate by
    * construction (backpressure would surface as trigger lag). */
  def rateSoak(s: SparkSession, soakSecs: Int, rowsPerSec: Int = 20000,
               nKeys: Int = 1000): Seq[SoakRow] = {
    // GRAFT_SOAK_STATE_PARTS: start the stateful query with a
    // cluster-shaped state-store partition count (e.g. 400 ≈ 100
    // executors × 4 cores per SURVEY §9's deployment map) — state
    // partitioning is fixed at first checkpoint, so the 100×-shaped
    // soak must SET it, not inherit the local session's 32. The
    // override is scoped to query STARTUP (rateSoakRun restores it
    // right after start() — StreamExecution clones the session in
    // its constructor, so the running stream keeps the override
    // while concurrent batch queries on the shared session never
    // see it for the soak's duration; ADVICE r13).
    rateSoakRun(s, soakSecs, rowsPerSec, nKeys,
      sys.env.get("GRAFT_SOAK_STATE_PARTS").map(_.toInt))
  }

  /** One sampled trigger of the STATELESS-pipeline soak (the ferret
    * stream): per-trigger service time normalized per input row plus
    * the residue axes a stateless foreachBatch pipeline can leak on
    * (persisted RDD blocks, storage memory) — state-store rows don't
    * exist here, so flatness is claimed on normalized service time
    * and block count instead. */
  case class StatelessSoakRow(trigger_idx: Int, elapsed_sec: Double,
      input_rows: Long, input_rows_per_sec: Double, batch_ms: Double,
      ms_per_row: Double, persisted_blocks: Int, storage_mem_bytes: Long,
      n_triggers: Long, mid_median_ms_per_row: Double,
      late_median_ms_per_row: Double, mid_median_blocks: Long,
      late_median_blocks: Long, flat_ok: Boolean)

  /** Run `body` with session-conf entries set, restoring the previous
    * values after — for a harness that owns the session while it runs
    * (a single-key drain; NOT safe under concurrent legs sharing the
    * session). Used to scope volume-derived inner-batch settings
    * (shuffle partitions, the tiny-batch AQE gate) to one key. */
  def withScopedConf[T](s: SparkSession, kv: Map[String, String])(body: => T): T = {
    val prev = kv.keys.map(k => k -> s.conf.get(k)).toMap
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  /** Sustained-rate soak for a STATELESS foreachBatch pipeline — the
    * ferret stream's continuous posture (the reference's 6-stage
    * pipeline runs unbounded; bin/parsec_stream drives it at rate).
    * Queries arrive from the distributed `rate` source at
    * `queriesPerSec`; each trigger attaches vectors and runs
    * `search` to a noop sink. With no watermark state, the leak axes
    * are per-trigger RESIDUE: checkpoint blocks, broadcast pieces,
    * growing service time. Flatness gate: the late-third median of
    * ms-per-input-row within 30% of the mid-third's AND the
    * late-third median block count no higher than the mid-third's
    * plus 2 (blocks held by the static corpus are constant;
    * per-trigger residue would grow linearly). `stateParts` starts
    * the query under a cluster-shaped shuffle-partition count, same
    * scoping as [[rateSoak]]. `triggerMillis` sets the trigger
    * cadence — the registered stream_soak_ferret key runs at 500 ms
    * so the n ≥ 12 sample floor clears in ~8 s of plateau (the r16
    * verdict #7 cadence rule: derive samples from the trigger rate,
    * not longer wall); the flatness CLAIM is cadence-independent. */
  def ferretRateSoak(s: SparkSession, soakSecs: Int, queriesPerSec: Int,
                     attach: DataFrame => DataFrame,
                     search: DataFrame => DataFrame,
                     stateParts: Option[Int] = None,
                     triggerMillis: Int = 1000,
                     innerConf: Map[String, String] = Map.empty): Seq[StatelessSoakRow] = {
    // rate-micro-batch for the same reason as [[rateMicroBatch]]: the
    // plain rate source's 1-second offset granularity left every
    // sub-second trigger but one per second EMPTY, so the sample rate
    // was ~1/s regardless of cadence and the soak always ran to its
    // extension cap
    val src = rateMicroBatch(s,
      math.max(1L, queriesPerSec.toLong * triggerMillis / 1000L), triggerMillis)
    // innerConf: session settings for the per-trigger BATCH search
    // (shuffle partitions derived from trigger volume, the tiny-batch
    // AQE gate). The foreachBatch body's plan binds to the session the
    // CORPUS frames were built on (this one), not the stream's clone —
    // so the stateParts startup override never reaches it, and every
    // ~100-row trigger shuffled into the session default's partitions
    // (32 here, 200+ on a cluster). Measured at sf0.01: 32 → 4
    // partitions cuts per-trigger exec ~1000 → ~350 ms, which is the
    // difference between clearing the n >= 12 sample floor inside the
    // soak wall and starving it. The caller derives the values from
    // trigger volume (rate × trigger × probe fan-out), so they scale
    // with the work per trigger, not with the box. Scoped to the
    // soak's whole duration (set before start, restored after stop) —
    // the soak owns the session while it runs.
    val tf0 = System.nanoTime()
    withScopedConf(s, innerConf) {
    // Warm the batch-search plan (analysis + codegen + broadcast
    // machinery) BEFORE the stream starts: the first trigger otherwise
    // pays ~3-5 s of cold JIT inside the soak wall, and since the soak
    // stops on a sample-count floor, cold-start latency delays every
    // sample behind it — pure wall cost, no measurement value (the
    // first third is warm-up and excluded from the gate anyway).
    // Best-effort: a real pipeline failure resurfaces in the stream.
    try {
      val warmDf = s.range(0, math.min(100L, math.max(1L, queriesPerSec.toLong)))
        .select(current_timestamp().as("timestamp"), col("id").as("value"))
      search(attach(warmDf)).write.format("noop").mode("overwrite").save()
    } catch { case scala.util.control.NonFatal(_) => () }
    val tf1 = phase("ferret-soak plan-warm", tf0)
    def start = src.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // cache the trigger batch: the two-phase search references
        // the query batch in THREE plan branches (bucket probe,
        // sketch attach, exact-cosine attach), and an uncached
        // foreachBatch frame re-reads the source once per branch —
        // tripling both the work and the reported numInputRows
        val batch = b.toDF().cache()
        try search(attach(batch)).write.format("noop").mode("overwrite").save()
        finally { batch.unpersist(blocking = false): Unit }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(s"$triggerMillis milliseconds"))
      .start()
    val q = stateParts.fold(start)(p => startWithStateParts(s, p)(start))
    val tf2 = phase("ferret-soak start()", tf1)
    val samples = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Double, Long, Double, Double, Int, Long)]
    val t0 = System.nanoTime()
    try {
      // sample-count-aware stop, as in rateSoakRun: the flatness gate
      // needs n >= 12 samples, and trigger latency under machine load
      // can stretch past the nominal cadence — keep soaking (up to 2×
      // the nominal wall) until a 14-sample cushion exists
      def el: Double = (System.nanoTime() - t0) / 1e9
      while (el < soakSecs || (samples.size < 14 && el < 2.0 * soakSecs)) {
        Option(q.lastProgress).filter(_.numInputRows > 0).foreach { p =>
          samples.getOrElseUpdate(p.batchId, (
            (System.nanoTime() - t0) / 1e9,
            p.numInputRows,
            p.inputRowsPerSecond,
            p.batchDuration.toDouble,
            s.sparkContext.getPersistentRDDs.size,
            s.sparkContext.getRDDStorageInfo.map(_.memSize).sum))
        }
        Thread.sleep(100)
      }
    } finally {
      val tl = phase(s"ferret-soak loop (n=${samples.size})", tf2)
      q.stop()
      phase("ferret-soak stop()", tl): Unit
    }
    val rows = samples.toSeq.sortBy(_._1)
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)
    val n = rows.size
    def msPerRow(r: (Double, Long, Double, Double, Int, Long)): Double =
      r._4 / math.max(1L, r._2)
    val midMs = med(rows.slice(n / 3, 2 * n / 3).map(t => msPerRow(t._2)))
    val lateMs = med(rows.drop(2 * n / 3).map(t => msPerRow(t._2)))
    val midBlocks = med(rows.slice(n / 3, 2 * n / 3).map(_._2._5.toDouble)).toLong
    val lateBlocks = med(rows.drop(2 * n / 3).map(_._2._5.toDouble)).toLong
    val flat = n >= 12 && midMs > 0 &&
      math.abs(lateMs - midMs) / midMs <= 0.3 && lateBlocks <= midBlocks + 2
    rows.zipWithIndex.map { case ((_, (el, inRows, rps, ms, blocks, mem)), i) =>
      StatelessSoakRow(i, el, inRows, rps, ms, ms / math.max(1L, inRows),
        blocks, mem, n.toLong, midMs, lateMs, midBlocks, lateBlocks, flat)
    }
    }
  }

  /** Dev diagnostic: GRAFT_SOAK_PHASES=1 prints per-phase wall times
    * of the soak harnesses to stderr (start/loop/stop split — the
    * "where does the wall go" question for a harness whose design
    * wall is fixed). Zero cost when unset. */
  private[graft] val soakPhases = sys.env.get("GRAFT_SOAK_PHASES").contains("1")
  private[graft] def phase(tag: String, t0: Long): Long = {
    val t = System.nanoTime()
    if (soakPhases) System.err.println(f"[soak-phase] $tag ${(t - t0) / 1e9}%.2f s")
    t
  }

  /** The soak feed: `rate-micro-batch`, not `rate`. The plain rate
    * source advances its offset at ONE-SECOND granularity (elapsed
    * whole seconds × rowsPerSecond), so under a sub-second trigger
    * only ~1 trigger per second carries rows and every other trigger
    * is empty — measured at sf0.1: a 250 ms-cadence soak collected
    * ~1 row-bearing sample per second, starving the n ≥ 12 flatness
    * floor and extending the wall to its 2× cap (14.8 s bench median
    * for a 9 s design wall). rate-micro-batch delivers exactly
    * `rowsPerBatch` rows EVERY trigger with event time advancing
    * `advanceMillisPerBatch` per batch, so the sustained rate (rows ×
    * cadence) is unchanged, every trigger is a sample, and the
    * watermark closes windows on the same schedule — the eviction
    * claim and the flatness gate are untouched; only the sampling
    * actually runs at the designed cadence. startTimestamp is the
    * wall clock, as the plain rate source's event time was. */
  private def rateMicroBatch(s: SparkSession, rowsPerBatch: Long,
                             advanceMillis: Int): DataFrame =
    s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("advanceMillisPerBatch", advanceMillis.toLong)
      .option("startTimestamp", System.currentTimeMillis())
      .option("numPartitions", 4)
      .load()

  private def rateSoakRun(s: SparkSession, soakSecs: Int, rowsPerSec: Int,
                          nKeys: Int, stateParts: Option[Int] = None): Seq[SoakRow] = {
    val src = rateMicroBatch(s, math.max(1L, rowsPerSec / 4L), advanceMillis = 250)
    // 1 s windows + 1 s delay + 250 ms triggers (r16 verdict #7,
    // halving the r15 cadence again): the plateau exists once the
    // first windows close (~2.5 s in) and the sample rate is ~4/s, so
    // a 9 s default soak clears the n >= 12 sample floor with its mid
    // third fully on the plateau — the eviction CLAIM is
    // window-size-independent (state rows must hold at ≈ live-windows
    // × keys either way: (window+delay)/window + 1 = 3 live windows ×
    // 1000 keys, the same 2000↔3000 oscillation band as before); a
    // longer GRAFT_SOAK_SECONDS certification run exercises the same
    // query
    def soakAgg(df: DataFrame): DataFrame = df
      .select(col("timestamp").as("ts"), (col("value") % nKeys).as("user_id"),
        (col("value") % 97).cast("double").as("value"))
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "1 second"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
    val agg = soakAgg(src)
    val tw0 = System.nanoTime()
    // Warm the aggregation plan in batch mode BEFORE the stream starts
    // (the ferretRateSoak pattern): whole-stage codegen of the
    // hash-agg/window/decimal expressions otherwise compiles inside the
    // first triggers, which stretches them to seconds — and since the
    // stop rule holds a sample-count cushion, a cold start extends the
    // WALL, not just the warm-up third. Batch mode shares the codegen
    // cache with the streaming incremental plans; the state-store init
    // it can't warm is per-partition and cheap. Best-effort.
    try {
      import s.implicits._
      soakAgg(s.range(0, 64)
        .select(current_timestamp().as("timestamp"), col("id").as("value")))
        .write.format("noop").mode("overwrite").save()
    } catch { case scala.util.control.NonFatal(_) => () }
    val tp0 = phase("dedup-soak plan-warm", tw0)
    // default state sizing follows the SAME trigger-volume rule as
    // the throughput harnesses (statePartsFor: ~2k rows/partition
    // per trigger, floor 4): a 250 ms trigger at 20k rows/s
    // carries ~5k rows, so 32 session-default partitions meant 32
    // near-empty store commits per trigger — the commit machinery
    // dominated the trigger and halved the soak's sample rate.
    // GRAFT_SOAK_STATE_PARTS still overrides for cluster-shaped
    // certification runs, exactly as before.
    val q = startWithStateParts(s,
        stateParts.getOrElse(statePartsFor(s, rowsPerSec / 4))) {
      agg.writeStream.format("noop")
        .outputMode(OutputMode.Update())
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
        .start()
    }
    val tp1 = phase("dedup-soak start()", tp0)
    val samples = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Double, Long, Double, Long, Long, Boolean)]
    val t0 = System.nanoTime()
    try {
      // sample-count-aware stop (r16): the flatness gate needs n >= 12
      // samples, and trigger latency under machine load can stretch
      // past the nominal cadence — keep soaking (up to 2× the nominal
      // wall) until a cushion exists, so a loaded box slows the soak
      // instead of failing its own gate on sample starvation. The
      // cushion is 24: the event clock advances per BATCH
      // (rate-micro-batch), so the state ramp is exactly the first
      // (window+delay)/advance = 8 row-bearing batches, and the
      // MID third only clears the ramp when n/3 >= 8. A quiet run
      // collects ~26 samples inside the 9 s wall, so the cushion
      // never extends a quiet soak.
      def el: Double = (System.nanoTime() - t0) / 1e9
      while (el < soakSecs || (samples.size < 24 && el < 2.0 * soakSecs)) {
        Option(q.lastProgress).filter(_.numInputRows > 0).foreach { p =>
          if (soakPhases && !samples.contains(p.batchId))
            System.err.println(s"[soak-trigger] batch ${p.batchId} dur=${p.batchDuration}ms " +
              s"rows=${p.numInputRows} durMs=${p.durationMs} " +
              s"state=${p.stateOperators.headOption.map(o => s"upd=${o.allUpdatesTimeMs} rm=${o.allRemovalsTimeMs} commit=${o.commitTimeMs}")}")
          val st = p.stateOperators.headOption
          samples.getOrElseUpdate(p.batchId, (
            (System.nanoTime() - t0) / 1e9,
            p.numInputRows,
            p.inputRowsPerSecond,
            st.map(_.numRowsTotal).getOrElse(0L),
            st.map(_.memoryUsedBytes).getOrElse(0L),
            Option(p.eventTime.get("watermark")).exists(_.startsWith("2"))))
        }
        Thread.sleep(100)
      }
    } finally {
      val tl = phase(s"dedup-soak loop (n=${samples.size})", tp1)
      q.stop()
      phase("dedup-soak stop()", tl): Unit
    }
    val rows = samples.toSeq.sortBy(_._1)
    // MEAN, not median (r16): the steady state genuinely OSCILLATES
    // between ceil and floor of the live-window count (2000↔3000 rows
    // at 2 s windows + 2 s delay), so a median gate is knife-edged on
    // sample parity; the mean smooths the oscillation while a real
    // eviction leak still grows it monotonically past any band
    def meanStateRows(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val n = rows.size
    val mid = meanStateRows(rows.slice(n / 3, 2 * n / 3).map(_._2._4))
    val late = meanStateRows(rows.drop(2 * n / 3).map(_._2._4))
    // a flat curve: the last third's mean within 20% of the middle
    // third's (and enough triggers that the plateau is real)
    val flat = n >= 12 && mid > 0 &&
      math.abs(late - mid) / mid <= 0.2
    rows.zipWithIndex.map { case ((_, (el, inRows, rps, stRows, stMem, wm)), i) =>
      SoakRow(i, el, inRows, rps, stRows, stMem, wm, n.toLong, mid, late, flat)
    }
  }

  /** Trigger-volume-proportional state-partition count (both
    * harnesses' default sizing; see the comments at the use sites). */
  def statePartsFor(s: SparkSession, batchSize: Int): Int =
    math.max(4, math.min(
      s.sessionState.conf.numShufflePartitions, batchSize / 2000))

  /** Drive a pipeline with MemoryStream micro-batches of `batchSize`
    * events and measure end-to-end throughput — the reference's
    * items/s metric (bin/parsec_stream logs). MemoryStream feeds from
    * the driver by construction; [[fileThroughputBench]] is the
    * distributed-feed variant, this one exists for exact batch-size
    * control in the knob sweep. */
  def throughputBench(s: SparkSession, events: Seq[Ev], batchSize: Int,
                      name: String, pipeline: DataFrame => DataFrame,
                      mode: OutputMode = OutputMode.Update(),
                      statePartsOverride: Option[Int] = None): BenchResult = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    // state partitions sized to the trigger volume, as in
    // fileThroughputBench — excess partitions measure per-batch store
    // commits, not the pipeline (setting is per-query, restored).
    // The override is the knob sweep's parallelism axis — the
    // reference's per-stage replica count (-t), which in micro-batch
    // form is the number of parallel state-store tasks per trigger.
    // noop sink + SinkProgress row counts, as in fileThroughputBench
    // (this feed is driver-bounded by construction — the sweep caps
    // events — but the two harnesses should report rows_out from the
    // same mechanism so their numbers stay comparable)
    val q = startWithStateParts(s,
        statePartsOverride.getOrElse(statePartsFor(s, batchSize))) {
      pipeline(source.toDF())
        .writeStream.format("noop")
        .outputMode(mode).start()
    }
    val t0 = System.nanoTime()
    var batches = 0L
    events.grouped(batchSize).foreach { b =>
      source.addData(b)
      batches += 1
    }
    q.processAllAvailable()
    val elapsed = (System.nanoTime() - t0) / 1e9
    val all = q.recentProgress.toSeq
    val progress = all.filter(_.numInputRows > 0)
    // ALL batches, as in fileThroughputBench (watermark-flush output)
    val rowsOut = all.map(p => math.max(0L, p.sink.numOutputRows)).sum
    q.stop()
    benchResultOf(name, events.size.toLong, rowsOut, batches, elapsed, progress)
  }
}
