package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Relational, StreamingOps}
import graft.streaming.StreamingPipelines
import graft.streaming.StreamingPipelines.Ev

class StreamingSpec extends SparkSpec {

  private def loadEvents(): Seq[Ev] = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
  }

  test("streaming session_window TVF matches batch q_session_tvf cell-for-cell") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = loadEvents()
    val source = MemoryStream[Ev]
    // session windows stream in APPEND mode only: a session emits
    // once, when the watermark passes its end. The watermark is
    // GLOBAL (max event time − delay, across all keys), so ONE
    // far-future sentinel event finalizes every user's real sessions;
    // its own session never emits and is filtered from the compare.
    val maxTs = evs.map(_.ts.getTime).max
    val sentinelMs = maxTs + 24L * 3600 * 1000
    val q = StreamingPipelines.sessionTvfAgg(source.toDF())
      .writeStream.format("memory").queryName("stvf_sink")
      .outputMode(OutputMode.Append()).start()
    evs.grouped(300).foreach(source.addData(_))
    q.processAllAvailable()
    source.addData(Seq(Ev(-1L, new Timestamp(sentinelMs), 0L, "sentinel", 0.0)))
    q.processAllAvailable()
    val stream = spark.table("stvf_sink")
      .filter(col("start_us") < lit(sentinelMs * 1000L))
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(_.toString).sorted.toSeq
    q.stop()
    val batch = Relational.qSessionTvf(spark, sfDir)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(_.toString).sorted.toSeq
    assert(stream == batch,
      s"session TVF stream/batch diverged: ${stream.size} vs ${batch.size} rows")
  }

  test("streaming windowAgg matches batch q_events_window totals") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = loadEvents()
    val source = MemoryStream[Ev]
    val q = StreamingPipelines.windowAgg(source.toDF())
      .writeStream.format("memory").queryName("wa_sink")
      .outputMode(OutputMode.Update()).start()
    evs.grouped(300).foreach(source.addData(_))
    q.processAllAvailable()
    // Update mode: latest row per (window, event_type) is the final agg
    val sink = spark.table("wa_sink")
      .groupBy("window", "event_type").agg(last("n_events").as("n_events"))
    val streamTotal = sink.agg(sum("n_events")).collect().head.getLong(0)
    q.stop()
    assert(streamTotal == evs.size.toLong)
    val batchGroups = Relational.qEventsWindow(spark, sfDir).count()
    assert(sink.count() == batchGroups)
  }

  test("streaming dedup emits one row per (user_id, event_type) key") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = loadEvents()
    val source = MemoryStream[Ev]
    val q = StreamingPipelines.dedupStream(source.toDF())
      .writeStream.format("memory").queryName("dd_sink")
      .outputMode(OutputMode.Append()).start()
    evs.grouped(300).foreach(source.addData(_))
    q.processAllAvailable()
    val sinkKeys = spark.table("dd_sink").select("user_id", "event_type").distinct().count()
    val sinkRows = spark.table("dd_sink").count()
    q.stop()
    val batchKeys = StreamingOps.streamDedupBatch(spark, sfDir).count()
    assert(sinkRows == sinkKeys, "dedup emitted a duplicate key")
    assert(sinkKeys == batchKeys)
  }

  private val SessCols = Seq("user_id", "sess_id", "n_events", "start_us", "end_us")

  /** Runs `sessionize` over `triggers`, one micro-batch each, then over
    * a sentinel a day past the last event, whose watermark closes
    * every session; returns the sessions without the sentinel's. */
  private def sessionizeTriggers(sink: String, triggers: Seq[Seq[Ev]]): Seq[String] = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Ev]
    val q = StreamingPipelines.sessionize(source.toDS())
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    try {
      val lastMs = triggers.flatten.map(_.ts.getTime).max
      val sentinel = Ev(-1L, new Timestamp(lastMs + 86400000L), -999L, "sentinel", 0.0)
      (triggers :+ Seq(sentinel)).foreach { t => source.addData(t); q.processAllAvailable() }
      spark.table(sink).filter(col("user_id") =!= -999L).select(SessCols.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    } finally q.stop()
  }

  private def qSessionizeRows(dir: String): Seq[String] =
    Relational.qSessionize(spark, dir).select(SessCols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  /** `q_sessionize` over `evs`, written as a one-table dataset. */
  private def qSessionizeOver(evs: Seq[Ev]): Seq[String] = {
    import spark.implicits._
    val dir = tempDir("sess_events")
    evs.toDF().write.parquet(s"$dir/events.parquet")
    qSessionizeRows(dir)
  }

  private def assertSameSessions(got: Seq[String], want: Seq[String]): Unit = {
    val (onlyStream, onlyBatch) = (got.diff(want), want.diff(got))
    assert(onlyStream.isEmpty && onlyBatch.isEmpty,
      s"${onlyStream.size} sessions only in the stream, ${onlyBatch.size} only in " +
        s"q_sessionize, e.g. ${onlyStream.take(2)} vs ${onlyBatch.take(2)}")
  }

  test("streaming sessionize matches batch qSessionize") {
    assertSameSessions(sessionizeTriggers("sess_sink", loadEvents().grouped(300).toSeq),
      qSessionizeRows(sfDir))
  }

  test("sessionize: sess_id numbering survives a mid-stream timeout") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L // ms
    def ev(id: Long, user: Long, offsetMin: Long): Ev =
      Ev(id, new Timestamp(t0 + offsetMin * 60000L), user, "view", 1.0)
    val source = MemoryStream[Ev]
    val q = StreamingPipelines.sessionize(source.toDS())
      .writeStream.format("memory").queryName("sess_timeout_sink")
      .outputMode(OutputMode.Append()).start()
    // one processAllAvailable per addData forces REAL micro-batch
    // boundaries — batched adds coalesce and the timeout never fires
    // batch 1: user 7001 starts session 1; user 7002 keeps the stream alive
    source.addData(Seq(ev(1, 7001, 0), ev(2, 7002, 0))); q.processAllAvailable()
    // batch 2: 7002 advances the watermark past 7001's gap horizon
    source.addData(Seq(ev(3, 7002, 120))); q.processAllAvailable()
    // batch 3: 7001 has NO data here → its session must close via the
    // EventTimeTimeout path (the state-loss bug under test)
    source.addData(Seq(ev(4, 7002, 180))); q.processAllAvailable()
    val afterTimeout = spark.table("sess_timeout_sink")
      .filter(col("user_id") === 7001L).count()
    assert(afterTimeout == 1, "session 1 must close via the timeout path")
    // batch 4: a LATER event for 7001 → must continue as session 2
    source.addData(Seq(ev(5, 7001, 240))); q.processAllAvailable()
    // sentinel pushes the watermark far enough to close everything
    source.addData(Seq(ev(6, 7003, 1440))); q.processAllAvailable()
    val sess7001 = spark.table("sess_timeout_sink")
      .filter(col("user_id") === 7001L)
      .orderBy("sess_id").collect()
    q.stop()
    assert(sess7001.map(_.getAs[Long]("sess_id")).toSeq == Seq(1L, 2L),
      s"expected sessions 1,2 for user 7001, got ${sess7001.mkString(", ")}")
    assert(sess7001.forall(_.getAs[Long]("n_events") == 1L))
  }

  test("sessionize: an out-of-order event bridges two open sessions into one") {
    val t0 = 1700000000000L // ms
    def ev(id: Long, offsetMin: Long): Ev =
      Ev(id, new Timestamp(t0 + offsetMin * 60000L), 7001L, "view", 1.0)
    // 35 min after 0 is past the gap, but the watermark (35 - 30 = 5
    // min) cannot close [0] before the event at 30 arrives on time
    val evs = Seq(ev(1, 0), ev(2, 35), ev(3, 30))
    val got = sessionizeTriggers("sess_bridge_sink", evs.map(Seq(_)))
    assert(got == Seq(s"[7001,1,3,${t0 * 1000L},${(t0 + 35 * 60000L) * 1000L}]"))
    assert(got == qSessionizeOver(evs))
  }

  test("sessionize equals q_sessionize under bounded disorder; rows behind the watermark are dropped") {
    // perfbench's session_stream shape: events 20 s apart, 10% of them
    // stamped up to 10 min early, so they can arrive after later
    // events of their own user, but never behind the 30-min watermark
    val r = new scala.util.Random(811)
    val t0 = 1767225600000L // ms
    val evs = (0 until 3000).map { i =>
      val earlyMs = if (r.nextDouble() < 0.1) (r.nextDouble() * 600000).toLong else 0L
      Ev(i.toLong, new Timestamp(t0 + i * 20000L - earlyMs), 1L + r.nextInt(40), "view", 1.0)
    }
    // one row far behind the watermark, for a user with closed
    // sessions: it must be dropped, so the batch mirror omits it
    val late = Ev(-2L, evs.head.ts, evs.head.user_id, "view", 1.0)
    val got = sessionizeTriggers("sess_disorder_sink", evs.grouped(100).toSeq :+ Seq(late))
    val want = qSessionizeOver(evs)
    assert(want.size > 100, s"too few sessions to exercise the gap: ${want.size}")
    assertSameSessions(got, want)
  }

  test("throughput harness returns sane metrics with a per-stage breakdown") {
    val evs = loadEvents().take(600)
    val r = StreamingPipelines.throughputBench(spark, evs, 200, "spec",
      StreamingPipelines.windowAgg)
    assert(r.rows_in == 600 && r.batches == 3)
    assert(r.rows_per_sec > 0 && r.rows_out > 0)
    // per-stage latency breakdown (the reference's per-stage service
    // time dump): phases nest inside the trigger wall-clock, and a
    // stateful pipeline must report state-store time
    assert(r.trigger_ms_p50 > 0)
    assert(r.exec_ms_p50 <= r.trigger_ms_p50)
    assert(r.plan_ms_p50 >= 0 && r.getbatch_ms_p50 >= 0)
    assert(r.state_update_ms_p50 >= 0 && r.state_commit_ms_p50 >= 0)
    // the r15 semantic gate: every feed row measured as ingested, and
    // the run verdict rides the row (r14 verdict #7)
    assert(r.ingested_rows == r.rows_in && r.rate_ok)
    // windowAgg is stateful: at least one batch paid a store commit
    val rows = spark.createDataFrame(Seq(r))
    Seq("getbatch_ms_p50", "trigger_ms_p50", "state_update_ms_p50",
      "state_commit_ms_p50").foreach(c => assert(rows.columns.contains(c)))
  }

  test("param sweep: one row per grid cell, all cells measured") {
    val res = StreamingOps.streamParamSweep(spark, sfDir).collect()
    // 2 batch sizes x 3 pipelines + 2 parallelism cells on sessionize
    assert(res.length == 8)
    assert(res.map(r => (r.getAs[String]("pipeline"), r.getAs[Int]("batch_size"),
      r.getAs[Int]("state_partitions"))).distinct.length == 8)
    res.foreach { r =>
      assert(r.getAs[Double]("rows_per_sec") > 0)
      assert(r.getAs[Long]("rows_in") > 0)
      assert(r.getAs[Long]("batches") > 0)
      assert(r.getAs[Int]("state_partitions") > 0)
      assert(r.getAs[Boolean]("rate_ok"), s"cell failed its harness gate: $r")
    }
    // the replica-count axis (reference -t knob): both swept cells
    // exist and processed the full feed
    val par = res.filter(r => r.getAs[String]("pipeline") == "sessionize" &&
      r.getAs[Int]("batch_size") == 2000)
    assert(par.map(_.getAs[Int]("state_partitions")).toSet.size >= 2)
  }

  test("stream_soak: rate-source soak samples per-trigger state, plateau forms") {
    // short spec-scale soak (~15 s): long enough for the first 5 s
    // windows to close and eviction to begin — the full-length run is
    // the stream_soak entry / the PLANS.md r11 evidence run
    val rows = StreamingPipelines.rateSoak(spark, soakSecs = 15,
      rowsPerSec = 5000, nKeys = 200)
    assert(rows.size >= 8, s"too few triggers sampled: ${rows.size}")
    assert(rows.forall(_.state_rows >= 0))
    assert(rows.exists(_.state_rows > 0), "state never materialized")
    assert(rows.exists(_.watermark_present), "watermark never advanced")
    // state is watermark-bounded: never more than live-window capacity
    // (ceil((window+delay)/window)+1 windows x keys, with slack for a
    // trigger observed mid-eviction)
    val cap = 4L * 200
    assert(rows.forall(_.state_rows <= cap),
      s"state exceeded the watermark bound: ${rows.map(_.state_rows).max} > $cap")
    // the curve must not grow monotonically to the end: the final
    // sample stays within the plateau band of the peak
    val peak = rows.map(_.state_rows).max
    assert(rows.last.state_rows <= peak,
      "state still growing at soak end")
  }

  test("stream_soak_ferret: the registered ferret soak samples dense, non-empty triggers") {
    // the registered key end to end at its default wall; flat_ok is
    // not asserted — the flatness gate depends on host load and is the
    // DuckDB oracle's check at bench SF
    val rows = SparkEntry.queries("stream_soak_ferret")(spark, sfDir)
      .orderBy("trigger_idx").collect()
    assert(rows.nonEmpty, "no trigger sampled")
    val idx = rows.map(_.getAs[Int]("trigger_idx")).toSeq
    assert(idx == rows.indices, s"trigger_idx not dense: $idx")
    assert(rows.forall(_.getAs[Long]("n_triggers") == rows.length.toLong),
      s"n_triggers != ${rows.length} sampled rows")
    assert(rows.forall(_.getAs[Long]("input_rows") > 0), "a sampled trigger had no input")
  }
}
