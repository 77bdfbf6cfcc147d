package graft

/** Suite-wide physical-plan hygiene: every driver-contract query is
  * built at sf0.001 and its plan swept for the two scale-killers the
  * per-operator specs guard locally — a true cartesian product
  * (CartesianProductExec; the BroadcastNestedLoopJoin scalar/constant
  * attaches the suite uses deliberately are NOT flagged) and an
  * UNPARTITIONED window (single-task global sort — every global
  * rank/cumsum in the suite must ride the PrefixSum machinery
  * instead). This codifies the r10 verdict's perf audit as a
  * regression gate: a future operator that sneaks either shape in
  * fails here by name.
  *
  * The sweep runs TWICE (r16 verdict #6): once with AQE fully on —
  * what a 1000-executor deployment actually runs, where coalesced
  * exchanges / skew-join splits rewrite the plan at runtime — and
  * once with AQE off (the static planner's output). The properties
  * must hold both ways; [[PlanAudit]] is the same contract executed
  * to completion at certification SF, where the ADAPTIVE rewrites
  * have really fired.
  *
  * The self-measuring harness keys are skipped (their "plan" is a
  * fixed-duration run, not a query); iterative operators execute
  * during construction, which at sf0.001 is cheap.
  */
class PlanHygieneSpec extends SparkSpec {

  private def sweep(aqe: Boolean): Seq[String] = {
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      Catalog.keys.sortBy(_.name).filterNot(_.kind.harness).foreach { key =>
        val all = PlanAudit.nodes(key.build(spark, sfDir).queryExecution.executedPlan)
        offenders ++= PlanAudit.offendersIn(key.name, all)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    offenders.toSeq
  }

  test("no query plan contains a cartesian product or an unpartitioned window (AQE on)") {
    val offenders = sweep(aqe = true)
    assert(offenders.isEmpty,
      s"plan hygiene violations under AQE:\n${offenders.mkString("\n")}")
  }

  test("no query plan contains a cartesian product or an unpartitioned window (AQE off)") {
    val offenders = sweep(aqe = false)
    assert(offenders.isEmpty,
      s"plan hygiene violations without AQE:\n${offenders.mkString("\n")}")
  }

  test("PlanDump renders the same plan byte-identically within a session") {
    // a plain-SQL key and a store-backed ANN key (its second build
    // reuses the session's stores)
    Seq("q1_agg", "ann_pq_rotated").foreach { name =>
      val first = PlanDump.render(spark, sfDir, name)
      val second = PlanDump.render(spark, sfDir, name)
      assert(first == second, s"$name: two renderings differ")
      assert(!first.contains(Stores.root(spark)), s"$name: the store root is not masked")
      assert("#\\d".r.findFirstIn(first).isEmpty, s"$name: an expression id is not masked")
    }
  }
}
