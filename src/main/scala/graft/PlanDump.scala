package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool behind PLANS.md: prints the formatted physical plan of
  * named driver-contract queries (all of them if no names given),
  * with the tokens that differ between renderings of the same plan
  * masked, so two dumps of unchanged code diff clean.
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.01 q1_agg shard_pack"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // same contract session builder as Bench/Verify — snapshots must
    // show the plans shipped runs actually execute (incl. injected
    // optimizer rules like LevenshteinBound)
    val spark = Sessions.contract("local[4]", "4", "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"===== $name =====")
      println(render(spark, sfDir, name))
    }
    spark.stop()
  }

  /** The formatted physical plan of query `name`, normalised. */
  def render(spark: SparkSession, sfDir: String, name: String): String = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    normalise(fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted")),
      Stores.root(spark))
  }

  /** Counters of the session or the JVM, not of the plan: what each
    * matches and what it becomes. */
  private val counters = Seq(
    "#\\d+" -> "#n", // expression ids
    "plan_id=\\d+" -> "plan_id=n",
    "(\\w*RDD)\\[\\d+\\]" -> "$1[n]",
    "\\.scala:\\d+" -> ".scala:n", // call sites
    "(lambda \\w+?)_\\d+" -> "$1_n") // lambda variables, e.g. x_66

  /** `plan` with the session's store root and the counters masked. */
  def normalise(plan: String, storesRoot: String): String =
    counters.foldLeft(plan.replace(storesRoot, "<stores>")) { case (p, (re, to)) =>
      p.replaceAll(re, to)
    }
}
