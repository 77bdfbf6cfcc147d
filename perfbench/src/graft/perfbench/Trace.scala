package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * comparable with the millisecond stamps Spark puts on its events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `group` ties together the spans of one trigger
  * ("b<batchId>"); `parent` is the id of the enclosing span (0 = none). */
final case class Span(id: Long, parent: Long, name: String, layer: String, group: String,
                      startMs: Double, endMs: Double)

final case class Mark(name: String, layer: String, batch: Long, startMs: Double, endMs: Double)

/** Spans the benchmark records around its own calls into the program
  * (operator call, emission, sink write), kept in memory. A disabled
  * probe records nothing. */
final class Probe(enabled: Boolean) {
  val marks = new ConcurrentLinkedQueue[Mark]()
  def span[A](name: String, layer: String, batch: Long)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = Clock.ms()
      try body finally marks.add(Mark(name, layer, batch, t0, Clock.ms())): Unit
    }
}

/** Every progress event of every query, in arrival order, plus the
  * highest committed source offset per query — the item-to-trigger
  * map. Always registered: it is how items are timed. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val committed = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(p)
    if (p.sources.nonEmpty) {
      val end = Feed.offsetOf(p.sources.head.endOffset)
      committed.merge(p.id, end, (a: java.lang.Long, b: java.lang.Long) => math.max(a, b))
    }
    synchronized(notifyAll())
  }

  def committedOf(id: java.util.UUID): Long = Option(committed.get(id)).map(_.longValue).getOrElse(0L)

  /** Block until query `id` has committed offset `n`; false on timeout. */
  def awaitCommitted(id: java.util.UUID, n: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (committedOf(id) < n && System.currentTimeMillis() < deadline)
        wait(math.max(1L, math.min(50L, deadline - System.currentTimeMillis())))
    }
    committedOf(id) >= n
  }

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
}

object JobLog {
  final case class Job(id: Int, queryId: String, batch: Long, startMs: Double,
                       var endMs: Double, stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Double, finishMs: Double, runMs: Long,
                        cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
}

/** Spark jobs, stages and tasks, recorded only in the traced run. */
final class JobLog extends SparkListener {
  import JobLog._
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId, prop("sql.streaming.queryId").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), e.time.toDouble,
      Double.NaN, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime.toDouble,
      e.taskInfo.finishTime.toDouble, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.diskBytesSpilled))
  }
}

object Trace {
  /** Trigger phases in the order MicroBatchExecution runs them, with
    * the layer each belongs to. Progress reports only their durations,
    * so they are laid out back to back from the trigger's start. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
    "queryPlanning" -> "streaming", "addBatch" -> "streaming", "commitOffsets" -> "streaming")

  def triggerStartMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def triggerEndMs(p: StreamingQueryProgress): Double =
    triggerStartMs(p) + durMs(p, "triggerExecution")

  /** The span tree of one measured pass: pass → trigger → phase →
    * benchmark call → Spark job, plus the pass's `waits` for input as
    * `wait` spans under the pass. */
  def assemble(rootStartMs: Double, rootEndMs: Double, progress: Seq[StreamingQueryProgress],
               waits: Seq[(Double, Double)], probe: Probe, jobs: Seq[JobLog.Job]): Seq[Span] = {
    var next = 0L
    def id(): Long = { next += 1; next }
    val out = Seq.newBuilder[Span]
    val root = Span(id(), 0L, "pass", "untraced", "pass", rootStartMs, rootEndMs)
    out += root
    waits.foreach { case (a, b) => out += Span(id(), root.id, "input_wait", "wait", "pass", a, b) }
    val addBatchOf = scala.collection.mutable.Map.empty[Long, Span]
    progress.foreach { p =>
      val g = s"b${p.batchId}"
      val t0 = triggerStartMs(p)
      val trig = Span(id(), root.id, "trigger", "streaming", g, t0, triggerEndMs(p))
      out += trig
      var t = t0
      Phases.foreach { case (name, layer) =>
        val d = durMs(p, name)
        val sp = Span(id(), trig.id, name, layer, g, t, t + d)
        if (name == "addBatch") addBatchOf(p.batchId) = sp
        out += sp
        t += d
      }
    }
    val marks = probe.marks.asScala.toSeq.filter(m => addBatchOf.contains(m.batch)).sortBy(_.startMs)
      .map(m => Span(id(), addBatchOf(m.batch).id, m.name, m.layer, s"b${m.batch}", m.startMs, m.endMs))
    out ++= marks
    val marksByGroup = marks.groupBy(_.group)
    jobs.sortBy(_.startMs).foreach { j =>
      val g = s"b${j.batch}"
      val parent = marksByGroup.getOrElse(g, Nil)
        .find(m => m.startMs <= j.startMs + 1.0 && j.startMs <= m.endMs)
        .map(_.id).orElse(addBatchOf.get(j.batch).map(_.id)).getOrElse(root.id)
      val end = if (j.endMs.isNaN) j.startMs else j.endMs
      out += Span(id(), parent, s"job${j.id}", "spark", g, j.startMs, end)
    }
    out.result()
  }

  /** Self time per layer of a tree from [[assemble]] (root first):
    * every instant of the root span goes to the deepest span covering it
    * (spans are clipped to the root), so the layers' self times add up
    * to the root's duration; the root's own share is `untraced`. */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val depth = scala.collection.mutable.Map.empty[Long, Int]
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent == 0L) 0 else depthOf(byId(s.parent)) + 1)
    val root = spans.head
    val clipped = spans.flatMap { s =>
      val a = math.max(s.startMs, root.startMs); val b = math.min(s.endMs, root.endMs)
      if (b > a) Some((s, a, b)) else None
    }
    // boundary events: (time, isStart, span)
    val evs = clipped.flatMap { case (s, a, b) => Seq((a, 1, s), (b, 0, s)) }
      .sortBy { case (t, isStart, _) => (t, isStart) }
    val active = new java.util.TreeMap[(Int, Long), Span](Ordering[(Int, Long)])
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var prev = root.startMs
    evs.foreach { case (t, isStart, s) =>
      if (!active.isEmpty && t > prev) acc(active.lastEntry.getValue.layer) += t - prev
      prev = t
      if (isStart == 1) active.put((depthOf(s), s.id), s) else active.remove((depthOf(s), s.id))
    }
    acc.toMap
  }

  /** Spans as JSON lines: id, parent, name, layer, group, start, end (epoch ms). */
  def export(spans: Seq[Span], path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""group":"${s.group}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }
}
