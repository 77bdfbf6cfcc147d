package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.Catalog.{Kind, Store}

/** The key catalog: one declaration per key, kinds that callers read,
  * and the pre-warm hooks Bench derives from the selected keys. */
class CatalogSpec extends AnyFunSuite {

  test("a name declared twice is rejected") {
    val k = Catalog.keys.head
    val e = intercept[IllegalArgumentException](
      Catalog.of(Catalog.keys :+ k.copy(oracle = "SELECT 1")))
    assert(e.getMessage.contains(k.name))
    assert(Catalog.keys.map(_.name).distinct.size == Catalog.keys.size)
  }

  test("every kind value has a reader") {
    // kinds differ in what callers do with them ...
    val flags = Kind.all.map(k => (k.drainsAtBuild, k.harness, k.warmUp))
    assert(flags.distinct.size == Kind.all.size)
    // ... every kind is some key's ...
    assert(Kind.all.toSet == Catalog.keys.map(_.kind).toSet)
    // ... and every flag is read by program code outside the catalog
    val read = """\.kind\.(\w+)""".r
    val readers = ReachabilitySpec.sources(Seq(Paths.get("src/main/scala")))
      .filterNot(_.getFileName.toString == "Catalog.scala")
      .flatMap(p => read.findAllMatchIn(ReachabilitySpec.code(
        new String(Files.readAllBytes(p), "UTF-8"), strings = false)).map(_.group(1)))
      .toSet
    assert(readers == Set("drainsAtBuild", "harness", "warmUp"))
  }

  test("an unfiltered selection warms the five hooks in bench order") {
    val all = Catalog.selection("GRAFT_BENCH_ONLY", None)
    assert(all.size == Catalog.keys.size)
    assert(Catalog.storesOf(all) == Store.all)
    assert(Store.all.map(_.tag) ==
      Seq("dedup", "multimodal", "storage-layout", "similarity", "curation"))
    // a filtered run warms only what its keys read
    val plain = Catalog.selection("GRAFT_BENCH_ONLY", Some("q1_agg"))
    assert(plain.map(_.name) == Seq("q1_agg"))
    assert(Catalog.storesOf(plain).isEmpty)
  }

  test("a filter naming an unknown key fails and names it") {
    val e = intercept[IllegalArgumentException](
      Catalog.selection("GRAFT_BENCH_ONLY", Some("q1_agg, q1_agg_typo")))
    assert(e.getMessage.contains("GRAFT_BENCH_ONLY") && e.getMessage.contains("q1_agg_typo"))
    intercept[IllegalArgumentException](Catalog.selection("GRAFT_AUDIT_ONLY", Some(" , ")))
  }
}
