package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{Chunker, NativeVector}

/** The traced run: a second pass with the benchmark's listeners and
  * spans on, the rate sweep, and single-threaded kernel timings. */
object Layers {
  import Main.{median, pct}

  private def ms(xs: Iterable[Double]): Double = median(xs.toSeq)

  /** Union length of intervals, clipped to [a, b]. */
  def unionMs(iv: Seq[(Double, Double)], a: Double, b: Double): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter(t => t._2 > t._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Least-squares slope of y on x. */
  def slope(xy: Seq[(Double, Double)]): Double =
    if (xy.size < 3) 0.0
    else {
      val mx = xy.map(_._1).sum / xy.size; val my = xy.map(_._2).sum / xy.size
      val sxx = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (sxx == 0) 0.0 else xy.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  /** Repeat `body` until `minMs` have passed; returns work units per ms
    * and records the timed interval as a `functions` span. */
  def rate(name: String, minMs: Double, spans: collection.mutable.Buffer[Mark])(body: => Double): Double = {
    body // JIT warm-up
    val t0 = Clock.ms()
    var units = 0.0
    while (Clock.ms() - t0 < minMs) units += body
    val t1 = Clock.ms()
    spans += Mark(name, "functions", -1L, t0, t1)
    units / (t1 - t0)
  }

  /** Single-threaded timings of the chunk, digest and deflate kernels on
    * seeded documents shaped like dedup_stream's, and of the cosine and
    * multiprobe-LSH kernels over a one-partition frame of seeded
    * clustered vectors; the same inputs on every workload. */
  def kernels(spark: SparkSession, docs: Array[String], vecs: Array[Array[Float]],
              minMs: Double, spans: collection.mutable.Buffer[Mark]): Map[String, Double] = {
    val bytes = docs.map(_.getBytes("UTF-8"))
    val cuts = bytes.map(b => Chunker.boundaries(b, 32, 256, 6))
    val mb = bytes.map(_.length.toDouble).sum / 1e6
    def chunksOf(f: (Array[Byte], Int, Int) => Unit): Double = {
      var d = 0
      while (d < bytes.length) {
        var start = 0
        cuts(d).foreach { end => f(bytes(d), start, end - start); start = end }
        d += 1
      }
      mb
    }
    val cdc = rate("Chunker.boundaries", minMs, spans) { bytes.foreach(b => Chunker.boundaries(b, 32, 256, 6)); mb }
    val digest = rate("Chunker.digest", minMs, spans)(chunksOf((b, o, l) => Chunker.digest(b, o, l, "SHA-256"): Unit))
    val deflate = rate("Chunker.deflatedLen", minMs, spans)(chunksOf((b, o, l) => Chunker.deflatedLen(b, o, l): Unit))
    import spark.implicits._
    val n = vecs.length
    val frame = spark.sparkContext.parallelize(vecs.indices.map(i => (vecs(i), vecs((i + 1) % n))), 1)
      .toDF("v", "q").localCheckpoint(true)
    val cos = rate("NativeVector.cosine", minMs, spans) {
      frame.select(sum(NativeVector.cosine(col("v"), col("q")))).collect(); n.toDouble
    }
    val probe = rate("NativeVector.lshProbeBuckets", minMs, spans) {
      frame.select(sum(size(NativeVector.lshProbeBuckets(col("v"), 7L, 4, 8, 64, 20)))).collect()
      n.toDouble
    }
    Workload.release(frame)
    Map("functions.cdc_mb_s" -> cdc * 1000.0, "functions.digest_mb_s" -> digest * 1000.0,
      "functions.deflate_mb_s" -> deflate * 1000.0,
      "functions.cosine_mpairs_s" -> cos * 1000.0 / 1e6,
      "functions.lsh_probe_kvec_s" -> probe * 1000.0 / 1e3)
  }

  def traced(spark: SparkSession, w: Workload, progress: ProgressLog, cfg: Config, cores: Int,
             root: String, openS: Double, a: Pass, facts: Map[String, Double],
             setup: Map[String, Double], setupSpans: Seq[Mark], spansPath: String,
             seed: Long): Map[String, Double] = {
    val jobs = new JobLog
    spark.sparkContext.addSparkListener(jobs)
    val probe = new Probe(true)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val cap = a.itemsPerS
    val dir = s"$root/traced"
    val b = Main.pass(spark, w, progress, cfg, cores, dir, probe, openS,
      Seq(0.5, 0.75, 1.0).map(_ * cap), cfg.long("backlog"))
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)

    // the measured window: catch-up and open loop, before the sweep
    val (r0, r1) = (b.rootStartMs, b.rootEndMs)
    val ps = b.progress.filter(p => Trace.triggerEndMs(p) <= r1 + 1.0)
    val inWindow = ps.map(_.batchId).toSet
    val qJobs = jobs.jobs.values.asScala.toSeq
      .filter(j => j.queryId == b.queryId.toString && inWindow.contains(j.batch))
    val stages = qJobs.flatMap(_.stages).toSet
    val tasks = jobs.tasks.asScala.toSeq.filter(t => stages.contains(t.stage))
    // the query's waits for input: from the end of a trigger to the due
    // time of the next trigger's first item, when that item was not yet
    // released
    val waits = ps.sortBy(Trace.triggerStartMs).sliding(2).collect {
      case Seq(p, n) if n.numInputRows > 0 =>
        (Trace.triggerEndMs(p), math.min(Trace.triggerStartMs(n),
          b.dueOf(Feed.offsetOf(n.sources.head.startOffset))))
    }.filter(w => w._2 > w._1).toSeq
    val spans = Trace.assemble(r0, r1, ps, waits, probe, qJobs)
    val self = Trace.selfTimeMs(spans)
    val wallMs = r1 - r0
    // self times of the traced layers and of input waits; the rest of the
    // wall is time no span explains
    val coverage = (self.values.sum - self.getOrElse("untraced", 0.0)) / wallMs
    val marks = probe.marks.asScala.toSeq.filter(m => inWindow.contains(m.batch))
    def markMs(name: String): Double = ms(marks.filter(_.name == name).map(m => m.endMs - m.startMs))
    val withInput = ps.filter(_.numInputRows > 0)
    def phase(k: String): Double = ms(withInput.map(Trace.durMs(_, k)))
    val openTriggers = withInput.filter(p => Feed.offsetOf(p.sources.head.startOffset) >= b.backlog)
    val states = ps.filter(_.stateOperators.nonEmpty)
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      states.map(_.stateOperators.map(f).sum)
    val jobIv = qJobs.map(j => (j.startMs, if (j.endMs.isNaN) j.startMs else j.endMs))
    val taskRunS = tasks.map(_.runMs).sum / 1000.0
    val taskCpuS = tasks.map(_.cpuNs).sum / 1e9
    val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => t.finishMs - t.launchMs).toArray
      pct(d, 100.0) / math.max(1.0, pct(d, 50.0))
    }
    val sustained = b.sweep.filter(_.sustained).map(_.rate)
    b.sweep.foreach(s => Main.log(f"sweep ${s.rate}%.1f items/s: p${s.tailPct} ${s.tailMs}%.1f ms, " +
      f"backlog at end ${s.backlogEnd}, sustained=${s.sustained}"))
    val layers = Seq("untraced", "wait", "streaming", "sources", "operators", "sinks", "spark")
    layers.foreach(l => Main.log(f"self time $l: ${self.getOrElse(l, 0.0) / 1000.0}%.3f s"))
    Main.log(f"traced self times and input waits cover ${coverage * 100}%.2f%% of the ${wallMs / 1000}%.3f s pass wall; " +
      f"tracing overhead ${a.itemsPerS - b.itemsPerS}%.1f items/s, ${b.p50 - a.p50}%.1f ms p50")

    val kernelDocs = Gen.documents(seed, Main.KernelDocs, 0.15, 0.4).texts
    val kernelVecs = Gen.vectors(seed, Main.KernelVectors, 50, 40, 64, 0.5, 0.15)
    val kernelSpans = collection.mutable.Buffer.empty[Mark]
    val kernelRates = kernels(spark, kernelDocs, kernelVecs, Main.KernelMinMs, kernelSpans)
    // set-up, generator and kernel spans sit outside the pass tree, as roots of their own
    val others = (setupSpans ++ Seq(Mark("open_loop", "gen", -1L, b.openStartMs, b.openEndMs)) ++
      kernelSpans).zipWithIndex.map { case (m, i) =>
        Span(spans.size + 1L + i, 0L, m.name, m.layer, m.layer, m.startMs, m.endMs)
      }
    Trace.export(spans ++ others, spansPath)
    Map("streaming.timeouts" -> 0.0, "operators.five_stage_growth" -> 0.0) ++
      w.traceFacts(spark, dir, ps, marks) ++ setup ++ kernelRates ++
      layers.map(l => s"selftime.${l}_s" -> self.getOrElse(l, 0.0) / 1000.0) ++ Map(
      "trace.self_time_coverage" -> coverage,
      "trace.overhead_items_per_s" -> (a.itemsPerS - b.itemsPerS),
      "trace.overhead_p50_ms" -> (b.p50 - a.p50),
      "sources.lag_ms" -> ms(openTriggers.map(p =>
        Trace.triggerStartMs(p) - b.dueOf(Feed.offsetOf(p.sources.head.startOffset)))),
      "sources.get_batch_ms" -> phase("getBatch"),
      "sources.latest_offset_ms" -> phase("latestOffset"),
      "streaming.triggers" -> ps.size.toDouble,
      "streaming.items_per_trigger" -> ms(withInput.map(_.numInputRows.toDouble)),
      "streaming.trigger_ms" -> phase("triggerExecution"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.plan_ms" -> phase("queryPlanning"),
      "streaming.commit_ms" -> phase("commitOffsets"),
      "streaming.overhead_ms" -> ms(withInput.map(p =>
        Trace.durMs(p, "triggerExecution") - Trace.durMs(p, "addBatch"))),
      "streaming.state_rows" -> stateSum(_.numRowsTotal.toDouble).lastOption.getOrElse(0.0),
      "streaming.state_mem_mb" -> stateSum(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max) / 1e6,
      "streaming.state_update_ms" -> ms(stateSum(o => (o.allUpdatesTimeMs + o.allRemovalsTimeMs).toDouble)),
      "streaming.state_commit_ms" -> ms(stateSum(_.commitTimeMs.toDouble)),
      "streaming.max_sustained_items_s" -> sustained.foldLeft(0.0)(math.max),
      "operators.five_stage_call_ms" -> markMs("five_stage_call"),
      "operators.five_stage_emit_ms" -> markMs("five_stage_emit"),
      "operators.digest_store_rows" -> facts.getOrElse("digest_store_rows", 0.0),
      "operators.dedup_first_frac" -> facts.getOrElse("dedup_first_frac", 0.0),
      "operators.sessionize_ms" -> markMs("sessionize"),
      "operators.ferret_search_ms" -> markMs("ferret_search"),
      "sinks.write_ms" -> markMs("sink_write"),
      "sinks.mb_written" -> dirBytes(new java.io.File(s"$dir/sink")) / 1e6,
      "spark.jobs" -> qJobs.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.driver_gap_s" -> (wallMs - unionMs(jobIv, r0, r1)) / 1000.0,
      "spark.task_run_s" -> taskRunS,
      "spark.task_cpu_s" -> taskCpuS,
      "spark.cpu_frac" -> (if (taskRunS > 0) taskCpuS / taskRunS else 0.0),
      "spark.slot_busy_frac" -> tasks.map(t => t.finishMs - t.launchMs).sum / (wallMs * cores),
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1e6,
      "spark.spill_mb" -> tasks.map(_.spill).sum / 1e6,
      "spark.task_skew" -> ms(skew),
      "spark.gc_s" -> gcS,
      "spark.heap_peak_mb" -> heapPeakMb,
      "gen.late_ms" -> b.genLateMs)
  }
}
