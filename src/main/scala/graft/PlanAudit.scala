package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Post-execution plan-property audit under AQE (r16 verdict #6).
  *
  * PlanHygieneSpec checks every driver-contract query's plan at
  * sf0.001, AQE on and off — but before execution an
  * AdaptiveSparkPlanExec still shows its INITIAL plan, and the
  * rewrites a 1000-executor deployment actually runs under (coalesced
  * exchanges, skew-join splits, local shuffle readers, runtime
  * broadcast demotion/promotion) only exist in the FINAL plan after
  * the stages have run. This main executes every key to completion at
  * the given SF dir under the contract session (AQE fully on — the
  * skew-join and coalescing rewrites at their defaults), then sweeps
  * the post-execution adaptive plan for the same two scale-killer
  * properties the spec pins: a true cartesian product and an
  * unpartitioned window. One JSON line out; exit 1 on any offender.
  *
  * Usage: runMain graft.PlanAudit <sfDir>   (GRAFT_AUDIT_ONLY=k1,k2
  * filters keys for iteration, and an unknown name fails; the harness
  * keys ([[Catalog.Kind]]) are skipped — their "plan" is a
  * fixed-duration run, not a query.)
  */
object PlanAudit {

  /** Every node of the FINAL plan, through adaptive query stages and
    * scalar/IN subqueries (neither may hide an offending shape). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = ((p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  }) ++ p.subqueries.flatMap(nodes)) :+ p

  /** The two hygiene properties, named per offending key (shared with
    * PlanHygieneSpec so the in-suite gate and this executed audit can
    * never drift on what "hygiene" means). */
  def offendersIn(name: String, all: Seq[SparkPlan]): Seq[String] =
    all.flatMap {
      case _: CartesianProductExec => Seq(s"$name: CartesianProductExec")
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(s"$name: unpartitioned WindowExec")
      case _ => Nil
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val selected = Catalog.selection("GRAFT_AUDIT_ONLY", sys.env.get("GRAFT_AUDIT_ONLY"))
    val spark = Sessions.contractLocal("graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val offenders = scala.collection.mutable.ListBuffer[String]()
    var nAudited = 0
    var nFailed = 0
    selected.filterNot(_.kind.harness).foreach { key =>
      val name = key.name
      val t0 = System.nanoTime()
      try {
        val df = key.build(spark, sfDir)
        // execute to completion so the adaptive plan is FINAL —
        // noop sink materializes every row executor-side
        df.write.format("noop").mode("overwrite").save()
        val found = offendersIn(name, nodes(df.queryExecution.executedPlan))
        offenders ++= found
        nAudited += 1
        System.err.println(f"[plan-audit] $name%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s" +
          (if (found.nonEmpty) s"  OFFENDERS: ${found.mkString("; ")}" else ""))
      } catch {
        case e: Throwable =>
          nFailed += 1
          System.err.println(s"[plan-audit] $name FAILED: ${e.getMessage}")
      }
      // free per-key residue (checkpoint blocks) between keys, the
      // Bench discipline — an audit run visits every key in one JVM
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    println(s"""{"audit":"plan_hygiene_aqe","sf_dir":${q(sfDir)},""" +
      s""""n_audited":$nAudited,"n_failed":$nFailed,""" +
      s""""offenders":[${offenders.map(q).mkString(",")}]}""")
    spark.stop()
    if (offenders.nonEmpty || nFailed > 0) sys.exit(1)
  }
}
