package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Catalog.{Key, Kind}
import graft.Tables
import graft.streaming.StreamingPipelines
import graft.streaming.StreamingPipelines.Ev

/** Driver-facing entry points for the streaming family (SURVEY.md
  * §2.F): a DuckDB-oracled batch mirror of the streaming dedup, and
  * the throughput harness packaged as a query.
  */
object StreamingOps {

  // ---- stream_dedup_batch: deterministic mirror of dedupStream ---------
  /** First-event-per-key semantics, stated deterministically (MIN
    * event_id) so batch and oracle agree; the streaming twin keeps
    * whichever arrives first within the watermark. */
  def streamDedupBatch(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id", "event_type")
      .agg(min(col("event_id")).as("first_event_id"),
        count(lit(1)).as("n_dupes"))

  val streamDedupBatchSql: String =
    """SELECT user_id, event_type, MIN(event_id) AS first_event_id,
      |  COUNT(*) AS n_dupes
      |FROM events GROUP BY user_id, event_type""".stripMargin

  // ---- stream_ferret: similarity search as a stream, fully oracled -----
  /** The reference's ferret is itself a continuous 6-stage pipeline
    * (ferret-pthreads.c:437-646 — queries FLOW through
    * load→seg→extract→vec→rank→out against resident db tables);
    * graft's batch ferret mirrors it, and this key completes the
    * claim with the stream twin (r13 verdict #2): the query-vector
    * batch replays as a file-source stream (no vector ever passes
    * through the driver), each micro-batch probing the static corpus
    * through the SAME promoted multiprobe two-phase search the
    * registered ferret_pipeline serves
    * ([[graft.streaming.StreamingPipelines.ferretStream]] —
    * foreachBatch, the production pattern for per-batch top-k, since
    * rank windows aren't defined on unbounded streams), results
    * appended to a parquet sink per batch.
    *
    * Per-query top-k is independent of batch composition (the rank
    * window partitions by query_id and every query's vectors arrive
    * in one batch), so the streamed union EQUALS the batch search
    * over the same query set — StreamingFerretSpec pins that
    * equality against ferret_pipeline, and the DuckDB value oracle
    * (annValueSql) re-derives every cosine and rank from raw
    * embeddings exactly as for the batch ANN keys. */
  def streamFerret(s: SparkSession, dir: String): DataFrame = {
    val queries = Similarity.ferretQueries(Similarity.emb(s, dir))
    // feed write and resident-index build are independent Spark jobs —
    // overlap them (guide §2.6), as the rate-bench feeds already do
    val feedF = {
      import scala.concurrent.Future
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      Future(StreamingPipelines.prepareFeedBy(s, queries, nSlices = 5,
        Seq(col("query_id"))))
    }
    // per-trigger batch conf (see ferretInnerConf): one trigger
    // carries ~1/5 of the query batch. The search plan binds to the
    // session of the corpus frames, so the corpus, its index and the
    // stream are all built on one copy carrying that conf
    val nCorpus = math.max(1L, Similarity.emb(s, dir).count())
    val fs = graft.Sessions.withSettings(s,
      ferretInnerConf(s, nCorpus, math.max(1L, (nCorpus / 10 + 4) / 5)))
    val e = Similarity.emb(fs, dir)
    // resident index, built ONCE before the stream (the reference's
    // mkdb posture): each trigger otherwise recomputed the corpus
    // buckets AND 128-plane sketches before touching its batch
    val idx = Similarity.ferretIndex(e)
    val feed = scala.concurrent.Await.result(feedF,
      scala.concurrent.duration.Duration.Inf)
    val outDir = graft.Stores.scratch(s, "sferret")
    try {
      val q = StreamingPipelines.ferretStream(
        fs.readStream.schema(feed.schema)
          .option("maxFilesPerTrigger", 1).parquet(feed.path),
        batch => Similarity.ferretSearchIndexed(idx, e, batch,
          broadcastQueries = true),
        (out, _) => out.write.mode("append").parquet(outDir))
      try q.processAllAvailable() finally q.stop()
      // snapshot the sink before its directory is reclaimed (tiny:
      // TopK rows per query)
      s.read.parquet(outDir).localCheckpoint(true)
    } finally {
      StreamingPipelines.deleteRecursively(new java.io.File(feed.path))
      StreamingPipelines.deleteRecursively(new java.io.File(outDir))
    }
  }

  // ---- stream_rate_bench: distributed-feed throughput measurement ------
  /** Throughput harness on the SCALE path: the event feed is written
    * as time-range parquet slices by a Spark job and replayed through
    * a file-source stream — no event ever passes through the driver
    * (the knob sweep below keeps MemoryStream for exact batch-size
    * control; this flagship measurement does not). */
  def streamRateBench(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tp0 = System.nanoTime()
    val events = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // the flagship 5-stage dedup pipeline streams DOCUMENTS (its own
    // replay feed, ordered by doc_id) against a fresh digest store
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").as("event_id"),
        timestamp_seconds(col("doc_id")).as("ts"), col("doc_id"), col("text"))
    val emb = Similarity.emb(s, dir)
    // the three replay feeds are INDEPENDENT Spark write jobs — prepare
    // them concurrently (guide §2.6: overlap independent jobs) so the
    // untimed-by-no-one setup costs the slowest feed, not the sum.
    // 5 doc slices → ingest-sized triggers: the pipeline runs one Spark
    // job per batch plus the harness's write of its output, so slice
    // count prices the per-trigger machinery, not the pipeline; the
    // qv feed is the 10%-of-corpus query batch the registered
    // ferret_pipeline/stream_ferret serve.
    val (feed, docFeed, qvFeed) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val f1 = Future(StreamingPipelines.prepareFeed(s, events, nSlices = 10))
      val f2 = Future(StreamingPipelines.prepareFeed(s, docs, nSlices = 5))
      val f3 = Future(StreamingPipelines.prepareFeedBy(s,
        Similarity.ferretQueries(emb), nSlices = 5, Seq(col("query_id"))))
      (Await.result(f1, Duration.Inf), Await.result(f2, Duration.Inf),
        Await.result(f3, Duration.Inf))
    }
    StreamingPipelines.phase("rate-bench feeds", tp0): Unit
    val storeDir = graft.Stores.scratch(s, "5stage")
    try {
      // the five legs are INDEPENDENT streaming queries (three over
      // the event feed, one over the doc feed, one over the query
      // feed), so they run CONCURRENTLY (r15 verdict #2): each leg is
      // trigger-machinery-bound at these feed sizes, not CPU-bound, so
      // overlapping them cuts the key's wall-clock ~2.5× while every
      // leg's rate_ok gate (full feed ingested, rows out, real
      // triggers) is unaffected. Per-leg rows_per_sec is measured
      // UNDER the concurrent load.
      //
      // Each leg that needs its own settings runs on its own session
      // copy, so no leg writes the shared session's conf: the three
      // event legs share one copy whose state partitions follow their
      // trigger volume (statePartsFor), and the ferret leg builds its
      // corpus, index and stream on a copy carrying ferretInnerConf
      // (without it every ~200-query trigger shuffled into the session
      // default's 32 partitions, ~1 s/trigger of pure task overhead).
      // The five-stage leg's trigger is narrow RDD passes with no
      // exchange, so it runs on `s` as it is.
      val evS = StreamingPipelines.withStateParts(s, StreamingPipelines.statePartsFor(s,
        math.min(Int.MaxValue.toLong, feed.rows / math.max(1, feed.slices)).toInt))
      val qPerTrigger = math.max(1L, qvFeed.rows / math.max(1, qvFeed.slices))
      val ferretS = graft.Sessions.withSettings(s,
        ferretInnerConf(s, math.max(1L, emb.count()), qPerTrigger))
      val legs: Seq[() => StreamingPipelines.BenchResult] = Seq(
        () => StreamingPipelines.fileThroughputBench(evS, feed, "window_agg",
          StreamingPipelines.windowAgg),
        () => StreamingPipelines.fileThroughputBench(evS, feed, "dedup",
          StreamingPipelines.dedupStream,
          org.apache.spark.sql.streaming.OutputMode.Append()),
        // stateful per-key sessionization — the reference's core
        // stream-parallelism characteristic (keyed state + event time)
        () => StreamingPipelines.fileThroughputBench(evS, feed, "sessionize",
          df => StreamingPipelines.sessionize(df.as[Ev]).toDF(),
          org.apache.spark.sql.streaming.OutputMode.Append()),
        // the composed Fragment→Refine→Deduplicate→Compress→Reorder
        // pipeline — the reference's end-to-end artifact
        // (encoder_spar_ord.cpp), measured with the same harness
        () => StreamingPipelines.foreachBatchThroughputBench(s, docFeed,
          "five_stage_dedup", StreamingPipelines.fiveStageBatch(s, storeDir)),
        // the ferret stream (r13 verdict #2): per-batch multiprobe
        // two-phase search against the static corpus — the reference's
        // OTHER streaming app (ferret-pthreads' 6-stage pipeline),
        // measured with the same per-stage UPL-metric shape
        () => {
          // per-trigger residue discipline (the fiveStagePrevCkpt
          // pattern): the eager checkpoint below outlives its trigger
          // in the BlockManager, so each trigger frees the PREVIOUS
          // one — the measured window never accumulates blocks
          var prevCkpt: Seq[Int] = Nil
          // resident index, built ONCE before the leg's stream (the
          // reference's mkdb posture): each trigger otherwise
          // recomputed the corpus buckets and 128-plane sketches
          val e = Similarity.emb(ferretS, dir)
          val idx = Similarity.ferretIndex(e)
          StreamingPipelines.foreachBatchThroughputBench(ferretS, qvFeed, "ferret",
            { (b, _) =>
              prevCkpt.foreach(id => s.sparkContext.getPersistentRDDs
                .get(id).foreach(_.unpersist(blocking = false)))
              // cache: the search reads the batch in three plan branches
              val q = b.cache()
              val out =
                try Similarity.ferretSearchIndexed(idx, e, q,
                    broadcastQueries = true)
                  .localCheckpoint(true) // eager — q fully consumed here
                finally { q.unpersist(blocking = false): Unit }
              prevCkpt = out.queryExecution.logical.collect {
                case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
              }
              out
            })
        })
      val tl0 = System.nanoTime()
      val results = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.util.Try
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        // each leg wrapped in Try (r16 ADVICE): a bare
        // Future.sequence fails fast on the first leg error, and the
        // finally block below would then delete the feed directories
        // while the other four streaming queries were still running
        // over them — cascading secondary failures plus leaked live
        // queries masking the original error. Awaiting ALL legs'
        // completion (success or failure) first means every query
        // has stopped (fileThroughputBench stops its query in its
        // own finally) before any feed dir is reclaimed; the first
        // failure then surfaces with its real cause.
        val settled = Await.result(Future.sequence(legs.zipWithIndex.map { case (l, i) =>
          Future(Try {
            val t0 = System.nanoTime()
            try l() finally StreamingPipelines.phase(s"rate-bench leg $i", t0)
          })
        }), Duration.Inf)
        settled.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
        settled.map(_.get)
      }
      StreamingPipelines.phase("rate-bench all legs", tl0): Unit
      s.createDataFrame(results)
    } finally {
      StreamingPipelines.deleteRecursively(new java.io.File(feed.path))
      StreamingPipelines.deleteRecursively(new java.io.File(docFeed.path))
      StreamingPipelines.deleteRecursively(new java.io.File(qvFeed.path))
      StreamingPipelines.deleteRecursively(new java.io.File(storeDir))
    }
  }

  // ---- stream_param_sweep: knob-grid sweep (testbed t1..t9 analog) -----
  case class SweepRow(pipeline: String, batch_size: Int, state_partitions: Int,
                      rows_in: Long, rows_out: Long, batches: Long,
                      elapsed_sec: Double, rows_per_sec: Double,
                      batch_ms_p50: Double, batch_ms_p95: Double,
                      exec_ms_p50: Double, rate_ok: Boolean,
                      // r16: the measured inputs behind every derived
                      // column, echoed so the DuckDB oracle re-derives
                      // the percentiles, rows_per_sec, and the gate
                      // bit itself instead of trusting them verbatim
                      ingested_rows: Long,
                      batch_ms_list: String, exec_ms_list: String)

  /** The reference sweeps per-stage replica counts and queue sizes
    * across a config grid (bin/parsec_stream over testbed/t1..t9,
    * encoder.c cmdline -t/-q): the micro-batch analogs are batch size
    * (queue depth) and STATE PARTITIONS (per-stage replica count — the
    * number of parallel state-store tasks per trigger), each cell
    * measured by the same throughput harness. The parallelism axis is
    * swept on the stateful-heaviest pipeline (sessionize), the batch
    * axis on all three. Event count is capped — the sweep
    * characterizes the per-config overhead curve, while
    * stream_rate_bench measures corpus throughput. */
  def streamParamSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy(col("ts"), col("event_id")).limit(10000)
      .as[Ev].collect().toSeq
    val append = org.apache.spark.sql.streaming.OutputMode.Append()
    val sessionizePipe: DataFrame => DataFrame =
      df => StreamingPipelines.sessionize(df.as[Ev]).toDF()
    val pipelines: Seq[(String, DataFrame => DataFrame, org.apache.spark.sql.streaming.OutputMode)] = Seq(
      ("window_agg", StreamingPipelines.windowAgg _,
        org.apache.spark.sql.streaming.OutputMode.Update()),
      ("dedup", StreamingPipelines.dedupStream _, append),
      ("sessionize", sessionizePipe, append))
    // grid: batch axis × all pipelines at default parallelism, plus
    // the replica-count axis on sessionize at fixed batch size
    val batchCells = for {
      bs <- Seq(500, 2000)
      (name, pipe, mode) <- pipelines
    } yield (name, bs, None: Option[Int], pipe, mode)
    val parCells = Seq(2, 8).map(p =>
      ("sessionize", 2000, Some(p), sessionizePipe, append))
    val rows = (batchCells ++ parCells).map { case (name, bs, parts, pipe, mode) =>
      val actualParts = parts.getOrElse(StreamingPipelines.statePartsFor(s, bs))
      val r = StreamingPipelines.throughputBench(s, evs, bs,
        s"${name}_${bs}_p$actualParts", pipe, mode, parts)
      SweepRow(name, bs, actualParts, r.rows_in, r.rows_out, r.batches,
        r.elapsed_sec, r.rows_per_sec, r.batch_ms_p50, r.batch_ms_p95,
        r.exec_ms_p50, r.rate_ok, r.ingested_rows,
        r.batch_ms_list, r.exec_ms_list)
    }
    s.createDataFrame(rows)
  }

  // ---- stream_soak: sustained-rate long-run, state proven flat ---------
  /** The continuous-stream posture the bounded-slice harnesses can't
    * show (bin/parsec_stream drives an unbounded stream): a
    * watermarked windowed aggregation runs against Spark's
    * distributed `rate` source at a sustained 20k rows/s for
    * GRAFT_SOAK_SECONDS (default 9; 1 s windows + 250 ms triggers
    * put the plateau ~2.5 s in and sample it at ~4/s, so the default
    * run clears the n >= 12 floor with its mid third fully on the
    * plateau — r16 verdict #7 derived the cadence from the trigger
    * rate to halve the harness wall without weakening the gate)
    * wall-clock seconds, sampling the state store per trigger.
    * Watermark eviction must hold the state row count FLAT once the
    * first windows close — the run-level flatness gate (late-third
    * median within 20% of mid-third median) rides on every emitted
    * row, and since r16 the DuckDB oracle RECOMPUTES both medians,
    * n_triggers, and the gate bit from the echoed per-trigger rows.
    * A minutes-long soak is the same query with the env knob raised;
    * the evidence run is recorded in PLANS.md r11. */
  def streamSoak(s: SparkSession, dir: String): DataFrame = {
    val secs = sys.env.get("GRAFT_SOAK_SECONDS").map(_.toInt).getOrElse(9)
    s.createDataFrame(StreamingPipelines.rateSoak(s, secs))
  }

  // ---- stream_soak_ferret: the ferret stream's continuous posture ------
  /** The reference's OTHER app run unbounded (r16 verdict #2 — this
    * was an env-selected diagnostic, GRAFT_SOAK_PIPELINE=ferret, with
    * no CORRECTNESS gate; now a first-class key): query ids arrive
    * from the distributed `rate` source, vectors attach from the
    * resident corpus, and every trigger runs the promoted multiprobe
    * two-phase search to a noop sink — ferret-pthreads' resident-table
    * stream. Stateless, so the soak gates on per-row service time +
    * block-residue flatness ([[StreamingPipelines.ferretRateSoak]]);
    * the DuckDB oracle re-derives ms_per_row, both plateau medians,
    * the block medians, and the flatness bit itself from the echoed
    * per-trigger samples (the derived-metric treatment the dedup soak
    * got in r16). GRAFT_SOAK_RATE sets queries/s (default 100),
    * GRAFT_SOAK_FERRET_SECONDS the wall (default 8 at a 500 ms
    * trigger — ~14-16 samples at the measured ~2/s cadence). The
    * stream holds no state, so GRAFT_SOAK_STATE_PARTS (the dedup
    * soak's state layout) does not apply here. */
  def streamSoakFerret(s: SparkSession, dir: String): DataFrame = {
    // default wall 8 s: the soak samples at ~2/s (500 ms cadence with
    // ~500 ms per-trigger exec at bench SF), so 8 s clears the n >= 12
    // flatness floor with the 14-sample stop cushion engaging only
    // under load — the r16 verdict #7 rule (derive the wall from the
    // sample cadence, never weaken the gate). Certification soaks
    // raise GRAFT_SOAK_FERRET_SECONDS as before.
    val secs = sys.env.get("GRAFT_SOAK_FERRET_SECONDS")
      .orElse(sys.env.get("GRAFT_SOAK_SECONDS")).map(_.toInt).getOrElse(8)
    val tc0 = System.nanoTime()
    val n = math.max(1L, Similarity.emb(s, dir).count())
    val rate = sys.env.get("GRAFT_SOAK_RATE").map(_.toInt).getOrElse(100)
    val qPerTrigger = math.max(1L, rate.toLong * 500 / 1000)
    // the per-trigger search binds to the session of the corpus
    // frames: corpus, index and stream live on one copy carrying
    // ferretInnerConf
    val fs = graft.Sessions.withSettings(s, ferretInnerConf(s, n, qPerTrigger))
    val e = Similarity.emb(fs, dir).localCheckpoint(true)
    val corpusQ = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
    val tc1 = StreamingPipelines.phase("ferret-soak corpus ckpt+count", tc0)
    // resident index, built ONCE before the stream (the reference's
    // mkdb posture): each trigger otherwise recomputed the corpus
    // buckets and 128-plane sketches before touching its ~50-row batch
    val idx = Similarity.ferretIndex(e)
    StreamingPipelines.phase("ferret-soak index build", tc1): Unit
    s.createDataFrame(StreamingPipelines.ferretRateSoak(fs, secs,
      queriesPerSec = rate,
      attach = b => b.select((col("value") % n).as("query_id")).join(corpusQ, "query_id"),
      search = q => Similarity.ferretSearchIndexed(idx, e, q, broadcastQueries = true),
      triggerMillis = 500))
  }

  /** Session settings for a per-trigger ferret batch search, derived
    * from the work ONE trigger carries — not from the box (guide §2.2:
    * partitioning must follow data volume). Candidate rows ≈
    * queries/trigger × tables × (T+1 probes) × mean bucket occupancy
    * (corpus / 2^bits):
    *   - shuffle partitions: one per ~250k candidate rows, floor 4,
    *     capped at the session default (a cluster-shaped default is
    *     never exceeded). The foreachBatch plan binds to the session
    *     the corpus frames were built on, so without this every
    *     ~100-row trigger shuffled into the full session default (32
    *     partitions of task overhead per tiny stage, ~1 s/trigger
    *     measured at sf0.01).
    *   - AQE: off below [[InnerAqeMinCandidates]] candidate rows.
    *     AQE re-plans at every exchange via a blocking stage
    *     materialization; on a sub-second batch those barriers cost
    *     ~130 ms/trigger (OPTIMIZATION_r17.md: 480 → 350 ms exec at 4
    *     partitions) and there is nothing to adapt — partitioning is
    *     already volume-derived. Large batches keep AQE: skew/coalesce
    *     decisions matter exactly when the per-trigger volume is big.
    * A caller applies them as a [[graft.Sessions.withSettings]] copy
    * on which it builds the corpus frames and the stream. */
  private[operators] val InnerAqeMinCandidates = 2000000L
  private[operators] def ferretInnerConf(s: SparkSession, corpusN: Long,
                                         qPerTrigger: Long): Map[String, String] = {
    val cand = qPerTrigger * Similarity.MpTables *
      (Similarity.MpProbes + 1) * math.max(1L, corpusN >> Similarity.MpBits)
    val parts = math.max(4L, math.min(
      s.sessionState.conf.numShufflePartitions.toLong,
      (cand + 249999) / 250000))
    Map("spark.sql.shuffle.partitions" -> parts.toString) ++
      (if (cand < InnerAqeMinCandidates)
        Map("spark.sql.adaptive.enabled" -> "false")
      else Map.empty)
  }

  // ---- stream_replay: Kafka-shaped offset-log source, fully oracled ----
  /** The custom DataSource V2 micro-batch source end-to-end: the
    * events table is ingested ONCE per session into a partitioned,
    * offset-addressed replay log (graft.sources.ReplayLog — the
    * Kafka topic shape), then consumed as a rate-limited stream
    * (admission control = maxOffsetsPerTrigger) through a watermarked
    * hourly window aggregation, drained with Trigger.AvailableNow.
    * The per-partition control records close every real window, so
    * the streamed result equals the batch aggregate over the raw
    * events table — which is exactly what the DuckDB oracle computes:
    * the whole chain (partitioned binary log write → offset-vector
    * planning → executor-side segment reads → watermark eviction) is
    * cross-engine-proven. countDistinct is not available to a
    * streaming aggregation, so the mirror carries count + decimal sum
    * (the windowAgg shape). */
  /** Sink choice scaled to the corpus (r16 verdict #3): the parquet
    * drain is the ONLY safe shape at certification scale, but at
    * small SFs its fixed price (per-trigger file commits + metadata
    * log + the final read-back) is most of the key's wall — the exact
    * small-corpus overhead the r16 round accepted and priced. Below
    * [[SmallCorpusRows]] source rows the drain keeps the r15 memory
    * sink (driver-bounded by construction there: the hourly-window /
    * session output of a sub-million-row corpus is small); at or
    * above it, the executor-written parquet sink with nothing
    * result-sized on the driver. The oracle is sink-agnostic. */
  private[operators] val SmallCorpusRows = 1000000L

  /** Drain `sdf`, an append-mode stream, with Trigger.AvailableNow
    * into the sink [[SmallCorpusRows]] picks for `nEvents` source
    * rows. The memory sink's table lives on the session that started
    * the stream (`sdf`'s).
    *
    * The parquet sink bounds the driver: the memory sink collects
    * every output row onto the driver — stream_sessions at sf1 was a
    * first-order contributor to the 48 g driver heap the full-scale
    * suite needed. An append-mode parquet sink keeps results in
    * executor-written files; the returned frame READS them lazily (on
    * `s`), so nothing result-sized ever resides on the driver. The
    * sink dir is a [[graft.Stores]] scratch dir, so it lives as long
    * as the session that consumes the frame and goes with it at
    * `stop()`. */
  private def drainAppend(s: SparkSession, name: String, sdf: DataFrame,
                          nEvents: Long): DataFrame = {
    val w = sdf.writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    if (nEvents < SmallCorpusRows) {
      val sinkName = s"${name}_sink_${System.nanoTime()}"
      w.format("memory").queryName(sinkName).start().awaitTermination()
      sdf.sparkSession.table(sinkName)
    } else {
      val base = graft.Stores.scratch(s, name)
      val outDir = s"$base/out"
      w.format("parquet").option("path", outDir)
        .option("checkpointLocation", s"$base/ckpt").start().awaitTermination()
      // a drain that committed no output files leaves a parquet dir
      // Spark cannot infer a schema from — the memory sink this
      // replaced returned an EMPTY frame there (degenerate corpus:
      // no events, or no window ever closes); reproduce that contract
      // with the stream's schema instead of crashing the key
      val hasFiles = Option(new java.io.File(outDir).listFiles)
        .exists(_.exists(f => f.getName.startsWith("part-") && f.length > 0))
      if (hasFiles) s.read.schema(sdf.schema).parquet(outDir)
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sdf.schema)
    }
  }

  /** Admission control sized to the corpus (r16): a FIXED 25k-row
    * trigger made the drain's trigger count grow linearly with the
    * corpus (40 triggers at sf1, each paying full micro-batch
    * machinery — exactly the shape that breaks at 100 TB). A
    * production drain sizes its trigger to throughput: total/16 with
    * a 25k floor keeps the trigger count O(16) at ANY scale while the
    * multi-trigger state paths (watermark advance across triggers,
    * session merge) still genuinely run. Results are
    * trigger-boundary-independent by design (the sentinels close
    * every real window at the end), which is what the DuckDB batch
    * oracle proves. */
  def streamReplay(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val nEvents = Tables.events(s, dir).count()
    val rowsPerTrigger = math.max(25000L, (nEvents + 15) / 16)
    val logDir = graft.sources.ReplayLog.ingestOnce(s, dir, nParts = 8)
    // state partitions sized to the trigger volume (the statePartsFor
    // rule every harness uses): every state partition pays a store
    // commit per trigger, and the default session count (32 here,
    // 200+ on a cluster) for a ~37k-row trigger is mostly near-empty
    // commit machinery — per-trigger stateful stages measured ~1 s of
    // wall with under 1 s of TOTAL task CPU across 32 tasks at sf0.1.
    // statePartsFor grows with the trigger volume, so certification-
    // scale runs keep the session default. The stream reads from its
    // own session copy carrying that count.
    val rs = StreamingPipelines.withStateParts(s, StreamingPipelines.statePartsFor(s,
      math.min(rowsPerTrigger, Int.MaxValue.toLong).toInt))
    // NO pre-agg filter on the control records: a filter between
    // withWatermark and the agg is pushed BELOW the EventTimeWatermark
    // node by PushPredicateThroughNonJoin (the predicate doesn't
    // reference ts), so the watermark would never see the sentinels
    // and the final windows would never close. Instead the sentinels
    // aggregate into their own (window, '__flush__') group whose
    // window NEVER closes (watermark peaks 1 h below the sentinel
    // ts), so it cannot reach the append-mode sink; the post-sink
    // batch filter below is defensive.
    val sdf = rs.readStream.format("graft.sources.ReplayLogProvider")
      .option("path", logDir)
      .option("maxRowsPerTrigger", rowsPerTrigger.toString).load()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))
    drainAppend(s, "replay", sdf, nEvents)
      .filter(col("event_type") =!= graft.sources.ReplayLog.FlushType)
  }

  val streamReplaySql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin

  // ---- stream_sessions: streaming sessionization, fully oracled --------
  /** Session windows — the hardest streaming state shape (windows
    * MERGE as events arrive) — run end-to-end through the Kafka-shaped
    * replay log and proven equal to the batch session_window TVF: the
    * rate-limited drain (multiple micro-batches, so sessions really
    * span triggers and the state-store merge path really runs) feeds
    * [[StreamingPipelines.sessionTvfAgg]]; the per-partition
    * flush sentinels push the watermark past every real session's end
    * (sentinel ts is 3 h past max event time, delay 1 h, gap 30 min),
    * so append mode emits exactly the batch result. The sentinel's
    * own session (user_id −1) can never close — watermark peaks 1 h
    * below its ts — so it stays in state and never reaches the sink;
    * the post-sink filter is defensive. A user's events live in ONE
    * log partition (producer key-partitioning), so a session's events
    * arrive in ts order and the 1 h delay bounds cross-partition ts
    * skew exactly as in stream_replay.
    *
    * Oracle: q_session_tvf's SQL verbatim (gaps-and-islands
    * reconstruction in DuckDB) — the whole chain (log write →
    * offset planning → admission control → watermarked session merge
    * → append emission) is cross-engine-proven. */
  def streamSessions(s: SparkSession, dir: String): DataFrame = {
    val nEvents = Tables.events(s, dir).count()
    val rowsPerTrigger = math.max(25000L, (nEvents + 15) / 16)
    val logDir = graft.sources.ReplayLog.ingestOnce(s, dir, nParts = 8)
    // state partitions sized to the trigger volume — same rationale
    // and rule as stream_replay above (session-window state merges
    // live per partition; near-empty store commits dominate a small
    // trigger at the session default)
    val rs = StreamingPipelines.withStateParts(s, StreamingPipelines.statePartsFor(s,
      math.min(rowsPerTrigger, Int.MaxValue.toLong).toInt))
    val sdf = StreamingPipelines.sessionTvfAgg(
      rs.readStream.format("graft.sources.ReplayLogProvider")
        .option("path", logDir)
        .option("maxRowsPerTrigger", rowsPerTrigger.toString).load())
    drainAppend(s, "sessions", sdf, nEvents).filter(col("user_id") =!= -1L)
  }

  /** Derived-metric oracles for the self-measuring harness keys (r15
    * verdict #8, upgrading the r14 gate-echo class): the SQL re-reads
    * the key's own dump and RE-DERIVES every computed column from the
    * echoed measurements — percentiles re-picked from the raw
    * per-trigger duration lists (comma-joined Double.toString, so the
    * reparse is bit-exact), rows_per_sec re-divided from
    * rows_in/elapsed_sec, the soak's medians re-selected from the
    * echoed per-trigger state-row samples — and re-evaluates the gate
    * bit itself, filtering on the RECOMPUTED gate. A forged
    * percentile, throughput, median, or gate bit now value-mismatches
    * (or row-count-mismatches) in CORRECTNESS; only the raw
    * measurements (wall-clock, progress counters) remain
    * self-reported, as any measurement must be. */
  private def pctSql(listCol: String, p: String): String = {
    val n = s"len(string_split($listCol, ','))"
    // Spark pct (StreamingPipelines.pct): sorted(xs)[max(0, min(n-1,
    // ceil(p*n)-1))], 0-based — 1-based: GREATEST(1, LEAST(n, ceil(p*n)))
    s"(CASE WHEN $listCol = '' THEN 0.0 ELSE " +
      s"list_sort(list_transform(string_split($listCol, ','), y -> CAST(y AS DOUBLE)))" +
      s"[GREATEST(1, LEAST($n, CAST(ceil($p * $n) AS BIGINT)))] END)"
  }

  /** rate_ok, re-derived (benchResultOf's definition verbatim). */
  private val rateOkSql: String =
    "(ingested_rows = rows_in AND rows_out > 0 AND batches > 0 AND elapsed_sec > 0)"

  private val streamRateBenchOracleSql: String = {
    val pcts = Seq(
      "batch_ms_p50" -> ("batch_ms_list", "0.5"),
      "batch_ms_p95" -> ("batch_ms_list", "0.95"),
      "exec_ms_p50" -> ("exec_ms_list", "0.5"),
      "plan_ms_p50" -> ("plan_ms_list", "0.5"),
      "commit_ms_p50" -> ("commit_ms_list", "0.5"),
      "getbatch_ms_p50" -> ("getbatch_ms_list", "0.5"),
      "trigger_ms_p50" -> ("trigger_ms_list", "0.5"),
      "state_update_ms_p50" -> ("state_update_ms_list", "0.5"),
      "state_commit_ms_p50" -> ("state_commit_ms_list", "0.5"))
      .map { case (out, (src, p)) => s"${pctSql(src, p)} AS $out" }
    s"""SELECT pipeline, rows_in, rows_out, batches, elapsed_sec,
       |  rows_in / elapsed_sec AS rows_per_sec,
       |  ${pcts.mkString(",\n  ")},
       |  ingested_rows, $rateOkSql AS rate_ok,
       |  batch_ms_list, exec_ms_list, plan_ms_list, commit_ms_list,
       |  getbatch_ms_list, trigger_ms_list, state_update_ms_list,
       |  state_commit_ms_list
       |FROM read_parquet('{VERIFY_OUT}/stream_rate_bench/*.parquet')
       |WHERE $rateOkSql""".stripMargin
  }

  private val streamParamSweepOracleSql: String =
    s"""SELECT pipeline, batch_size, state_partitions, rows_in, rows_out,
       |  batches, elapsed_sec, rows_in / elapsed_sec AS rows_per_sec,
       |  ${pctSql("batch_ms_list", "0.5")} AS batch_ms_p50,
       |  ${pctSql("batch_ms_list", "0.95")} AS batch_ms_p95,
       |  ${pctSql("exec_ms_list", "0.5")} AS exec_ms_p50,
       |  $rateOkSql AS rate_ok, ingested_rows, batch_ms_list, exec_ms_list
       |FROM read_parquet('{VERIFY_OUT}/stream_param_sweep/*.parquet')
       |WHERE $rateOkSql""".stripMargin

  /** Soak oracle: recompute the thirds, both plateau means, the
    * sample count, and the flatness verdict from the echoed
    * per-trigger samples (rateSoakRun's arithmetic verbatim: mid =
    * samples[n/3, 2n/3), late = samples[2n/3, n) — integer division,
    * so `//`; mean = exact Long sum → double / count, so
    * CAST(SUM(..) AS DOUBLE) / COUNT(*); flat = n>=12 AND mid>0 AND
    * |late-mid|/mid <= 0.2, all in the same IEEE doubles). */
  private val streamSoakOracleSql: String =
    """WITH s AS (SELECT * FROM read_parquet('{VERIFY_OUT}/stream_soak/*.parquet')),
      |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
      |m AS (SELECT COALESCE(CAST(SUM(state_rows) AS DOUBLE) / COUNT(*), 0.0) AS mid_mean
      |      FROM s, c WHERE trigger_idx >= n // 3 AND trigger_idx < (2 * n) // 3),
      |l AS (SELECT COALESCE(CAST(SUM(state_rows) AS DOUBLE) / COUNT(*), 0.0) AS late_mean
      |      FROM s, c WHERE trigger_idx >= (2 * n) // 3),
      |g AS (SELECT c.n, m.mid_mean, l.late_mean,
      |        (c.n >= 12 AND m.mid_mean > 0 AND
      |         abs(l.late_mean - m.mid_mean) / m.mid_mean <= 0.2) AS flat
      |      FROM c, m, l)
      |SELECT s.trigger_idx, s.elapsed_sec, s.input_rows, s.input_rows_per_sec,
      |  s.state_rows, s.state_mem_bytes, s.watermark_present,
      |  g.n AS n_triggers, g.mid_mean AS mid_mean_state_rows,
      |  g.late_mean AS late_mean_state_rows, g.flat AS flat_ok
      |FROM s, g WHERE g.flat""".stripMargin

  /** Ferret-soak oracle (r16 verdict #2): the STATELESS soak's
    * derived metrics re-derived by DuckDB from the echoed per-trigger
    * samples — ms_per_row re-divided from batch_ms/input_rows, both
    * plateau MEDIANS re-picked with ferretRateSoak's exact selection
    * rule (sorted[(n-1)/2], integer division, so 1-based
    * (cnt-1)//2 + 1), the block medians likewise, and the flatness
    * verdict itself re-evaluated (n >= 12, mid > 0, |late-mid|/mid ≤
    * 0.3, lateBlocks ≤ midBlocks + 2) — rows survive only under the
    * RECOMPUTED gate. */
  private val streamSoakFerretOracleSql: String =
    """WITH s AS (SELECT * FROM read_parquet('{VERIFY_OUT}/stream_soak_ferret/*.parquet')),
      |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
      |m AS (SELECT
      |        COALESCE(list_sort(list(batch_ms / greatest(CAST(1 AS BIGINT), input_rows)))
      |          [(CAST(COUNT(*) AS BIGINT) - 1) // 2 + 1], 0.0) AS mid_ms,
      |        COALESCE(CAST(list_sort(list(CAST(persisted_blocks AS DOUBLE)))
      |          [(CAST(COUNT(*) AS BIGINT) - 1) // 2 + 1] AS BIGINT), 0) AS mid_blocks
      |      FROM s, c WHERE trigger_idx >= n // 3 AND trigger_idx < (2 * n) // 3),
      |l AS (SELECT
      |        COALESCE(list_sort(list(batch_ms / greatest(CAST(1 AS BIGINT), input_rows)))
      |          [(CAST(COUNT(*) AS BIGINT) - 1) // 2 + 1], 0.0) AS late_ms,
      |        COALESCE(CAST(list_sort(list(CAST(persisted_blocks AS DOUBLE)))
      |          [(CAST(COUNT(*) AS BIGINT) - 1) // 2 + 1] AS BIGINT), 0) AS late_blocks
      |      FROM s, c WHERE trigger_idx >= (2 * n) // 3),
      |g AS (SELECT c.n, m.mid_ms, l.late_ms, m.mid_blocks, l.late_blocks,
      |        (c.n >= 12 AND m.mid_ms > 0 AND
      |         abs(l.late_ms - m.mid_ms) / m.mid_ms <= 0.3 AND
      |         l.late_blocks <= m.mid_blocks + 2) AS flat
      |      FROM c, m, l)
      |SELECT s.trigger_idx, s.elapsed_sec, s.input_rows, s.input_rows_per_sec,
      |  s.batch_ms,
      |  s.batch_ms / greatest(CAST(1 AS BIGINT), s.input_rows) AS ms_per_row,
      |  s.persisted_blocks, s.storage_mem_bytes,
      |  g.n AS n_triggers, g.mid_ms AS mid_median_ms_per_row,
      |  g.late_ms AS late_median_ms_per_row, g.mid_blocks AS mid_median_blocks,
      |  g.late_blocks AS late_median_blocks, g.flat AS flat_ok
      |FROM s, g WHERE g.flat""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("stream_dedup_batch", streamDedupBatch, streamDedupBatchSql),
    Key("stream_sessions", streamSessions, Relational.qSessionTvfSql, Kind.Drain),
    Key("stream_ferret", streamFerret, Similarity.annValueSql("stream_ferret"), Kind.Drain),
    Key("stream_rate_bench", streamRateBench, streamRateBenchOracleSql, Kind.Harness),
    Key("stream_param_sweep", streamParamSweep, streamParamSweepOracleSql, Kind.Harness),
    Key("stream_soak", streamSoak, streamSoakOracleSql, Kind.Soak),
    Key("stream_soak_ferret", streamSoakFerret, streamSoakFerretOracleSql, Kind.Soak),
    Key("stream_replay", streamReplay, streamReplaySql, Kind.Drain))
}
