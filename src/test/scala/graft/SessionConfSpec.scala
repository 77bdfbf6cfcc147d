package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.streaming.StreamingPipelines
import graft.streaming.StreamingPipelines.Ev

/** A harness that needs its own SQL settings runs on its own session
  * copy ([[Sessions.withSettings]]); only [[Sessions]] writes a
  * session's conf, so concurrent legs cannot race on it. */
class SessionConfSpec extends SparkSpec {

  private val ConfWrite = """\.conf\s*\.\s*(?:set|unset)\s*\(""".r

  test("only Sessions.scala writes a session's conf in src/main") {
    val writers = ReachabilitySpec.sources(Seq(Paths.get("src/main/scala"))).flatMap { p =>
      val c = ReachabilitySpec.code(new String(Files.readAllBytes(p), "UTF-8"), strings = false)
      ConfWrite.findAllMatchIn(c).map(m =>
        s"$p:${c.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(writers.nonEmpty && writers.forall(_.contains("/graft/Sessions.scala:")),
      writers.mkString("\n", "\n", ""))
  }

  test("concurrent throughputBench runs keep their own state partitions and leave the shared conf alone") {
    import spark.implicits._
    val evs = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id)).take(600).toSeq
    val key = "spark.sql.shuffle.partitions"
    val shared = spark.conf.get(key)
    // the two runs feed different event counts, so a query's total
    // input rows name its run: 600 events ran with 2 state
    // partitions, 450 with 8
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(java.util.UUID, Long, Seq[Int])]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent if p.progress.numInputRows > 0 =>
          progress.add((p.progress.runId, p.progress.numInputRows,
            p.progress.stateOperators.map(_.numShufflePartitions.toInt).toSeq))
        case _ => ()
      }
    }
    def byRun: Map[Long, Set[Int]] = progress.asScala.toSeq.groupBy(_._1).values
      .map(ps => ps.map(_._2).sum -> ps.flatMap(_._3).toSet).toMap
    spark.sparkContext.addSparkListener(listener)
    val confSeen = ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val poller = new Thread(() => while (running) {
      confSeen.add(spark.conf.get(key))
      Thread.sleep(1)
    })
    try {
      poller.start()
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val runs = Seq(600 -> 2, 450 -> 8).map { case (n, parts) =>
        Future(StreamingPipelines.throughputBench(spark, evs.take(n), 150, s"p$parts",
          StreamingPipelines.windowAgg, statePartsOverride = Some(parts)))
      }
      Await.result(Future.sequence(runs), Duration.Inf).foreach(r => assert(r.rate_ok))
      running = false
      poller.join()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (byRun.keySet != Set(600L, 450L) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally {
      running = false
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(confSeen.asScala.toSet == Set(shared),
      s"the shared session's $key was written during the runs")
    assert(byRun == Map(600L -> Set(2), 450L -> Set(8)))
  }
}
