package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional key filter for local iteration (comma-separated names;
    // an unknown name fails before the session starts); unset → the
    // full driver-contract dump. The requested set is auto-EXPANDED
    // (to fixpoint) with every query referenced through a
    // {VERIFY_OUT} value oracle: a filtered run into a reused outDir
    // would otherwise leave the referenced dumps stale, silently
    // comparing an included query against a PREVIOUS run's data
    // (e.g. file_dedup's oracle reads file_chunks/*.parquet).
    val requested = Catalog.selection("GRAFT_VERIFY_ONLY", sys.env.get("GRAFT_VERIFY_ONLY"))
      .map(_.name).toSet
    val verifyRef = """\{VERIFY_OUT\}/([A-Za-z0-9_]+)/""".r
    def expandRefs(names: Set[String]): Set[String] = {
      val refs = names.flatMap(n => verifyRef.findAllMatchIn(SparkEntry.oracleSql(n))
        .map(_.group(1)))
      if (refs.subsetOf(names)) names else expandRefs(names ++ refs)
    }
    val only = expandRefs(requested)
    val added = only -- requested
    if (added.nonEmpty) System.err.println(
      s"[verify] also regenerating {VERIFY_OUT} dependencies: ${added.toSeq.sorted.mkString(", ")}")
    // contract session (same builder as Bench/PlanDump): correctness
    // runs through the shipped plans
    val spark = Sessions.contractLocal("graft-verify")
    new java.io.File(outDir).mkdirs()
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRec))
      f.delete(): Unit
    }
    // dump-file fan-in: the driver contract is 1 (single file per
    // query, cheap at sf0.01); large-SF certification runs (GenScale
    // sf1) raise it so multi-million-row dumps don't serialize
    // through one write task — every consumer of the dump (driver
    // compare, local_verify, {VERIFY_OUT} oracles) globs *.parquet,
    // so the file count is not part of the contract
    val co = sys.env.get("GRAFT_VERIFY_COALESCE").map(_.toInt).getOrElse(1)
    SparkEntry.queries
      .filter { case (name, _) => only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(co).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must leave NO dump: {VERIFY_OUT} value
        // oracles would otherwise silently compare against a stale
        // dir from an earlier run into the same outDir
        deleteRec(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {VERIFY_OUT} lets an oracle re-read THIS dump's own emitted
    // parquet (e.g. the LSH pair lists, whose membership is seeded and
    // not SQL-expressible) and recompute the VALUE columns from the
    // raw tables — a cross-engine check of the arithmetic even where
    // the candidate set itself can't be oracled. Substituted with the
    // absolute dump path at dump time, so DuckDB resolves it wherever
    // the driver runs the compare.
    // {SF_DIR} resolves to the INPUT dataset dir the dump was built
    // from, for oracles that re-read raw source bytes (read_blob only
    // accepts constant globs in DuckDB 1.0, so the path is baked in
    // here rather than parameterized at compare time).
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val sfAbs = new java.io.File(sfDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(
        v.replace("{VERIFY_OUT}", outAbs).replace("{SF_DIR}", sfAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
