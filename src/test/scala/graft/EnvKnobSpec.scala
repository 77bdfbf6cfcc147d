package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The program's environment knobs are one reviewed list: every
  * environment variable `src/main/scala` reads (`sys.env…("NAME"` or
  * `getenv("NAME"`, comments excluded) is named below, and every name
  * below is read. A change that adds or retires a knob edits this list.
  */
class EnvKnobSpec extends AnyFunSuite {

  private val Knobs = Set(
    "GRAFT_AUDIT_ONLY",
    "GRAFT_BENCH_NOWARM",
    "GRAFT_BENCH_ONLY",
    "GRAFT_FERRET_STAGETIME",
    "GRAFT_SOAK_FERRET_SECONDS",
    "GRAFT_SOAK_PHASES",
    "GRAFT_SOAK_RATE",
    "GRAFT_SOAK_SECONDS",
    "GRAFT_SOAK_STATE_PARTS",
    "GRAFT_VERIFY_COALESCE",
    "GRAFT_VERIFY_ONLY",
    "SPARK_GRAFT_BENCH_MAX_RERUNS",
    "SPARK_GRAFT_BENCH_PASSES",
    "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_WARM_DIR")

  private val Read = """\b(?:sys\.env|getenv)\b""".r
  private val ReadLiteral = """\b(?:sys\.env(?:\.\w+)?|getenv)\(\s*"(\w+)"""".r

  private def programText: Seq[(String, String)] =
    ReachabilitySpec.sources(Seq(Paths.get("src/main/scala"))).map { p =>
      p.toString -> ReachabilitySpec.code(
        new String(Files.readAllBytes(p), "UTF-8"), strings = true)
    }

  test("the environment variables src/main reads are exactly the reviewed knob list") {
    val read = programText.flatMap { case (_, c) =>
      ReadLiteral.findAllMatchIn(c).map(_.group(1))
    }.toSet
    assert(read -- Knobs == Set.empty, "knobs read but not in the list")
    assert(Knobs -- read == Set.empty, "knobs in the list but read nowhere")
  }

  test("every environment read in src/main names its variable as a literal") {
    // a read through a computed name would hide a knob from the list
    val unnamed = programText.flatMap { case (path, c) =>
      val all = Read.findAllMatchIn(c).map(_.start).toSet
      val named = ReadLiteral.findAllMatchIn(c).map(_.start).toSet
      (all -- named).toSeq.sorted.map(at =>
        s"$path:${c.substring(0, at).count(_ == '\n') + 1}")
    }
    assert(unnamed.isEmpty, unnamed.mkString("\n", "\n", ""))
  }
}
