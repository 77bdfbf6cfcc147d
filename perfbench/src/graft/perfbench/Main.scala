package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{EnvTelemetry, Sessions}

/** Workload parameters from perfbench/workloads.json. */
final class Config(m: Map[String, String]) {
  def str(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing config '$k'"))
  def int(k: String): Int = str(k).toDouble.toInt
  def long(k: String): Long = str(k).toDouble.toLong
  def double(k: String): Double = str(k).toDouble
}

/** Open-loop generator: releases item `from + k` at `t0 + k / rate`,
  * whatever the query does, and records how late it ran. [[run]]
  * blocks the calling thread, which is the generator, until `end`. */
final class OpenLoop(feed: Feed, val from: Long, rate: Double, seconds: Double) {
  val end: Long = math.min(feed.rows.length.toLong - 1, from + math.round(rate * seconds))
  var t0Ms: Double = Double.NaN
  var t1Ms: Double = Double.NaN
  var lateMs: Double = 0.0
  def due(i: Long): Double = t0Ms + (i - from) * 1000.0 / rate

  def run(): Unit = {
    t0Ms = Clock.ms()
    var next = from
    while (next < end) {
      val now = Clock.ms()
      val target = math.min(end, from + ((now - t0Ms) * rate / 1000.0).toLong + 1)
      if (target > next) {
        lateMs = math.max(lateMs, now - due(next))
        feed.release(target)
        next = target
      }
      java.util.concurrent.locks.LockSupport.parkNanos(200000L)
    }
    t1Ms = Clock.ms()
  }
}

/** One stream pass: a catch-up phase over the backlog, an open-loop
  * phase, and optionally rate-sweep segments after it. */
final case class Pass(queryId: java.util.UUID, backlog: Long, itemsPerS: Double,
                      latMs: Array[Double], genLateMs: Double, released: Long, committed: Long,
                      progress: Seq[StreamingQueryProgress], rootStartMs: Double, rootEndMs: Double,
                      backlogS: Double, dueOf: Long => Double,
                      openStartMs: Double, openEndMs: Double,
                      sweep: Seq[Main.Segment], env: EnvTelemetry.PassEnv, retainedMb: Double) {
  def p50: Double = Main.pct(latMs, 50.0)
}

object Main {
  /** Share of `--seconds` spent in the open-loop phase. */
  val OpenLoopFrac = 0.7
  /** How long a phase may take to commit its last item. */
  val DrainTimeoutMs = 30000L
  /** How long the warm-up may take: its first triggers run cold. */
  val WarmTimeoutMs = 90000L
  /** Length of each rate-sweep segment of the traced run. */
  val SweepS = 2.0
  /** A pass whose generator released an item later than this is invalid. */
  val GenLateLimitMs = 250.0
  /** Inputs and minimum timed length of the traced run's kernel timings. */
  val KernelDocs = 300
  val KernelVectors = 100000
  val KernelMinMs = 300.0

  final case class Segment(rate: Double, tailPct: Double, tailMs: Double, backlogEnd: Long,
                           sustained: Boolean)

  def log(msg: String): Unit = println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = pct(xs.toArray, 50.0)

  /** Nearest-rank percentile. */
  def pct(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.min(s.length - 1, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }

  /** The highest of the usual percentiles with at least ten samples beyond it. */
  def tailPct(n: Int): Double =
    Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.5, 99.9, 99.95, 99.99)
      .filter(p => n * (100.0 - p) / 100.0 >= 10.0).lastOption.getOrElse(50.0)

  /** Heap in use after a full collection: what the program retains. The
    * least of three collections 200 ms apart, so that blocks Spark frees
    * asynchronously (unpersisted frames, broadcasts its cleaner removes
    * once a collection has found them unreachable) are not counted. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val used = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    log(used.map(u => f"$u%.1f").mkString("heap after full collections: ", ", ", " MB"))
    used.min
  }

  private def gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
  def gcCount(): Long = gcBeans.map(_.getCollectionCount).sum

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def session(cores: Int, root: String, name: String): SparkSession = {
    val s = Sessions.contract(s"local[$cores]", cores.toString, name, Map(
      "spark.local.dir" -> s"$root/spark-local",
      "spark.sql.warehouse.dir" -> s"$root/warehouse",
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def streamOf(spark: SparkSession, feed: Feed) =
    spark.readStream.format(classOf[FeedProvider].getName).option("feed", feed.id).load()

  /** Run the workload's query over `rows` until all are committed (warm-up). */
  def warm(spark: SparkSession, w: Workload, progress: ProgressLog, cfg: Config, cores: Int,
           dir: String, items: Int): Unit = {
    val feed = Feed.register(w.schema, w.warmRows, cfg.long("max_items_per_trigger"), cores)
    feed.release(items.toLong)
    val q = w.start(spark, streamOf(spark, feed), dir, new Probe(false))
    try require(progress.awaitCommitted(q.id, feed.released.get, WarmTimeoutMs),
      "warm-up did not finish")
    finally { q.stop(); Feed.unregister(feed) }
  }

  /** One measured pass; see [[Pass]]. `openS` = 0 runs the catch-up only. */
  def pass(spark: SparkSession, w: Workload, progress: ProgressLog, cfg: Config, cores: Int,
           dir: String, probe: Probe, openS: Double, sweepRates: Seq[Double],
           backlog: Long): Pass = {
    val t0 = Clock.ms()
    val feed = Feed.register(w.schema, w.rows, cfg.long("max_items_per_trigger"), cores)
    feed.release(backlog)
    val q = w.start(spark, streamOf(spark, feed), dir, probe)
    try {
      val gen = new OpenLoop(feed, backlog, cfg.double("rate"), openS)
      val (caughtUp, env) = EnvTelemetry.measured {
        val caught = progress.awaitCommitted(q.id, backlog, DrainTimeoutMs)
        if (caught && openS > 0) {
          gen.run()
          progress.awaitCommitted(q.id, gen.end, DrainTimeoutMs)
        }
        caught
      }
      val rootEnd = Clock.ms()
      // with the query still running and its state loaded
      val retainedMb = retainedHeapMb()
      // rate sweep: continue the query at fixed rates after the measured window
      val sweep = sweepRates.map { r =>
        val g = new OpenLoop(feed, feed.released.get, r, SweepS)
        g.run()
        val backlogEnd = g.end - progress.committedOf(q.id)
        progress.awaitCommitted(q.id, g.end, DrainTimeoutMs)
        (r, g, backlogEnd)
      }
      val released = feed.released.get
      val committed = progress.committedOf(q.id)
      w.flush(spark, q, feed)
      q.stop()
      val ps = progress.of(q.id)
      val withInput = ps.filter(_.numInputRows > 0)
      val firstStart = withInput.headOption.map(Trace.triggerStartMs).getOrElse(t0)
      def endOf(i: Long): Double = ps.find(p => Feed.offsetOf(p.sources.head.endOffset) > i)
        .map(Trace.triggerEndMs).getOrElse(Double.NaN)
      // catch-up throughput: the median over backlog triggers of items
      // per second of trigger time, robust to one slow trigger
      val catchUp = withInput.filter(p => Feed.offsetOf(p.sources.head.endOffset) <= backlog)
      val ips = if (!caughtUp) 0.0 else median(catchUp.map(p =>
        p.numInputRows * 1000.0 / math.max(1.0, Trace.durMs(p, "triggerExecution"))))
      def lat(g: OpenLoop): Array[Double] = (g.from until math.min(g.end, committed))
        .map(i => endOf(i) - g.due(i)).filterNot(_.isNaN).toArray
      val segments = sweep.map { case (rate, g, backlogEnd) =>
        val l = lat(g)
        val tp = tailPct(l.length)
        val tail = pct(l, tp)
        Segment(rate, tp, tail, backlogEnd,
          tail <= cfg.double("tail_limit_ms") && backlogEnd <= rate * cfg.double("tail_limit_ms") / 1000.0)
      }
      Pass(q.id, backlog, ips, if (openS > 0) lat(gen) else Array.empty, gen.lateMs,
        released, committed, ps, firstStart, rootEnd, (firstStart - t0) / 1000.0,
        i => gen.due(i), gen.t0Ms, gen.t1Ms, segments, env, retainedMb)
    } finally {
      if (q.isActive) q.stop()
      Feed.unregister(feed)
    }
  }

  def main(args: Array[String]): Unit = {
    // "--name value" options, then workload parameters as "key=value"
    val opts = args.indices.collect {
      case i if args(i).startsWith("--") && i + 1 < args.length => args(i).drop(2) -> args(i + 1)
    }.toMap
    val params = args.filter(a => !a.startsWith("--") && a.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    // feed length: backlog, open loop and the traced run's rate sweep up
    // to a catch-up rate of about five times the open-loop rate, plus one
    // spare slot; the same with and without tracing, so both index the
    // same vectors on ferret_stream
    val cfg = {
      val c = new Config(params)
      val sweep = 12.0 * c.double("rate") * SweepS
      new Config(params + ("items" -> (c.long("backlog") +
        math.ceil(c.double("rate") * seconds * OpenLoopFrac + sweep).toLong + 2).toString))
    }
    val root = opts("root")
    val cores = opts("cores").toInt
    val launchMs = opts("launch-ms").toDouble
    val jvmS = (Clock.ms() - launchMs) / 1000.0

    // inputs are generated before the session starts, outside every timed region
    val openS = seconds * OpenLoopFrac
    val w = Workload(name, cfg, seed)
    log(s"workload $name seed $seed: ${w.rows.length} items generated, trace=${if (traced) 1 else 0}")

    val tS = Clock.ms()
    var spark = session(cores, root, s"perfbench-$name")
    val tS1 = Clock.ms()
    val sessionS = jvmS + (tS1 - tS) / 1000.0
    var progress = new ProgressLog
    spark.streams.addListener(progress)

    val tP = Clock.ms()
    w.prepare(spark)
    val tP1 = Clock.ms()
    val prepS = (tP1 - tP) / 1000.0

    val tW = Clock.ms()
    warm(spark, w, progress, cfg, cores, s"$root/warm", w.warmRows.length)
    val tW1 = Clock.ms()
    val warmS = (tW1 - tW) / 1000.0

    // the measured pass; one whose generator ran late is invalid, left
    // out and run once more
    var attempt = 0
    var a: Pass = null
    while (a == null || (a.genLateMs > GenLateLimitMs && attempt < 2)) {
      if (a != null) log(f"pass $attempt invalid: generator ${a.genLateMs}%.1f ms late; running it again")
      attempt += 1
      a = pass(spark, w, progress, cfg, cores, s"$root/pass$attempt", new Probe(false), openS, Nil,
        cfg.long("backlog"))
    }
    val passDir = s"$root/pass$attempt"
    val setupS = sessionS + prepS + warmS + a.backlogS
    val tC = Clock.ms()
    val (checks, facts) = w.check(spark, passDir, a.committed.toInt)
    log(f"checks took ${(Clock.ms() - tC) / 1000}%.2f s")
    val rssMb = vmHwmMb()
    log(f"memory: heap retained ${a.retainedMb}%.1f MB, VmHWM $rssMb%.1f MB")

    val attempted = a.released + checks.length
    val failed = (a.released - a.committed) + checks.count(!_.ok)
    val tp = tailPct(a.latMs.length)
    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> a.itemsPerS,
      "latency_p50_ms" -> a.p50,
      "latency_tail_ms" -> pct(a.latMs, tp),
      "heap_retained_mb" -> a.retainedMb,
      "archive_ratio" -> facts.getOrElse("archive_ratio", 1.0),
      "recall_at_k" -> facts.getOrElse("recall_at_k", 1.0))
    checks.foreach(c => log(s"check ${c.name}: ${if (c.ok) "PASS" else "FAIL"} (${c.detail})"))
    log(f"items: ${a.released} released, ${a.committed} committed; backlog ${a.backlog}, " +
      f"open loop ${a.latMs.length} timed items; generator late ${a.genLateMs}%.2f ms")
    log("trigger ms: " + a.progress.filter(_.numInputRows > 0).map(p =>
      s"${p.numInputRows}:${Trace.durMs(p, "triggerExecution").toInt}").mkString(" "))
    log(f"latency tail is p$tp over ${a.latMs.length} samples; failed_frac ${failed.toDouble / attempted}%.6f")
    log(f"env: other-process cpu ${a.env.otherCpuSec}%.2f s, steal ${a.env.stealSec}%.2f s, " +
      f"load ${a.env.load}%.2f; this JVM: cpu ${a.env.ourCpuSec}%.2f s, " +
      f"gc ${gcMs() / 1000.0}%.2f s in ${gcCount()} collections since launch")
    log(f"setup: session ${sessionS}%.3f s, prepare ${prepS}%.3f s, warm-up ${warmS}%.3f s, backlog ${a.backlogS}%.3f s")

    val metrics: Map[String, Double] = if (!traced) e2e else {
      val layer = Layers.traced(spark, w, progress, cfg, cores, root, openS, a, facts,
        Map("setup.session_s" -> sessionS, "setup.warmup_s" -> warmS, "setup.backlog_s" -> a.backlogS,
          "operators.ferret_index_build_s" -> (if (name == "ferret_stream") prepS else 0.0),
          "env.other_cpu_s" -> a.env.otherCpuSec, "env.steal_s" -> a.env.stealSec,
          "spark.peak_rss_mb" -> rssMb),
        Seq(Mark("session", "setup", -1L, launchMs, tS1), Mark("prepare", "setup", -1L, tP, tP1),
          Mark("warm-up", "setup", -1L, tW, tW1)),
        opts("spans"), seed)
      // the single-core baseline runs last: it replaces the session
      spark.stop()
      spark = session(1, root, s"perfbench-$name-1core")
      progress = new ProgressLog
      spark.streams.addListener(progress)
      w.prepare(spark)
      // the JVM's code is warm already; one trigger warms the new session
      warm(spark, w, progress, cfg, 1, s"$root/warm1", cfg.int("max_items_per_trigger"))
      val one = pass(spark, w, progress, cfg, 1, s"$root/pass1core", new Probe(false), 0.0, Nil,
        cfg.long("backlog") / 4)
      log(f"single core: ${one.itemsPerS}%.1f items/s vs ${a.itemsPerS}%.1f at $cores cores")
      layer + ("spark.speedup_vs_1core" -> (if (one.itemsPerS > 0) a.itemsPerS / one.itemsPerS else 0.0))
    }
    spark.stop()

    val ok = checks.forall(_.ok) && a.committed == a.released
    val json = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      "\"" + k + "\":" + java.lang.Double.toString(x)
    }.mkString("{", ",", "}")
    val out = s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":$json}"""
    val f = new java.io.PrintWriter(opts("result"), "UTF-8")
    try f.println(out) finally f.close()
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => log(f"metric $k = $v%.6f") }
  }
}
