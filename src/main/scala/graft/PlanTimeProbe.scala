package graft

/** Dev diagnostic (r18 optimization, guide §7.3): planning time IS
  * part of a query's per-pass cost — for several keys it dominated
  * (text_langid spent 1.7 s of a 1.9 s pass in Catalyst on an
  * exponentially grown expression tree). For every key, time
  * DataFrame construction + analysis/optimization/physical planning
  * (force executedPlan, never execute), twice (second number is the
  * warm planning cost a bench pass pays). Large plan STRINGS are the
  * usual culprit, so the size is printed too.
  *   sbt "runMain graft.PlanTimeProbe /root/testdata/sf0.1 [minMs]"
  */
object PlanTimeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val minMs = if (args.length > 1) args(1).toInt else 100
    val spark = Sessions.contractLocal("graft-plantime")
    spark.sparkContext.setLogLevel("ERROR")
    val rows = Catalog.keys.sortBy(_.name)
      // the stream keys that run their whole drain at construction
      // time — nothing to learn about planning, and they'd dominate
      // the probe's wall
      .filterNot(_.kind.drainsAtBuild)
      .flatMap { key =>
      try {
        def once(): (Double, Int) = {
          val t0 = System.nanoTime()
          val df = key.build(spark, dir)
          val plan = df.queryExecution.executedPlan
          ((System.nanoTime() - t0) / 1e9, plan.toString.length)
        }
        val (cold, _) = once()
        val (warm, size) = once()
        Some((key.name, cold, warm, size))
      } catch {
        case e: Throwable =>
          // keys whose CONSTRUCTION already executes jobs (harnesses,
          // store builders) can fail or be slow here; report and move on
          System.err.println(s"[plantime] ${key.name}: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(80)}")
          None
      }
    }
    println(f"${"key"}%-28s ${"cold_s"}%8s ${"warm_s"}%8s planChars")
    rows.sortBy(-_._3).takeWhile(_._3 * 1000 >= minMs).foreach { case (n, c, w, sz) =>
      println(f"$n%-28s $c%8.2f $w%8.2f $sz%9d")
    }
    spark.stop()
  }
}
