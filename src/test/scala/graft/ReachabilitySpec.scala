package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every program definition is reached from program code: a `def` in
  * `src/main/scala` or `perfbench/src` whose name occurs nowhere else
  * in those sources — comments do not count — is run only by specs or
  * by nothing. Exempt are `override def` (members Spark and Hadoop
  * call), `main`, and a def whose scaladoc has a line beginning
  * `Differential anchor:` or `Test seam:`. That marker is the one list
  * of the rule's exceptions; its line names the spec that uses the
  * def, and the spec must exist and mention the def.
  *
  * The scan is textual: two defs that share a name count as reaching
  * each other only through a third occurrence, and a name used by any
  * program file counts for every def of that name.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec.{code, sources}

  private val Roots = Seq("src/main/scala", "perfbench/src").map(Paths.get(_))
  private val Marker = """^\s*(?:/\*\*|\*)?\s*(Differential anchor|Test seam):""".r
  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val Def =
    """((?:(?:override|private|protected|final|implicit|lazy)(?:\[[\w.]+\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val Annotations = """(?s)\s*(?:@[\w.]+(?:\([^)]*\))?\s*)*""".r

  /** The scaladoc right above `defStart` (annotations and modifiers
    * may sit between), if any. */
  private def docAbove(text: String, defStart: Int): Option[String] = {
    val before = text.substring(0, defStart)
    val end = before.lastIndexOf("*/")
    val start = if (end < 0) -1 else before.lastIndexOf("/**", end)
    if (start >= 0 && Annotations.pattern.matcher(before.substring(end + 2)).matches)
      Some(before.substring(start, end))
    else None
  }

  /** One offender line per unreached def, and one per marker that
    * names no spec using its def. */
  private def scan(roots: Seq[Path], specRoot: Path): Seq[String] = {
    val files = sources(roots).map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    val uses = files.flatMap { case (_, t) => Ident.findAllIn(code(t, strings = true)) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val codes = files.map { case (_, t) => code(t, strings = false) }
    val defSites = codes.flatMap(c => Def.findAllMatchIn(c).map(_.group(2)))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val specs = sources(Seq(specRoot))
      .map(p => p.getFileName.toString.stripSuffix(".scala") -> p).toMap
    files.zip(codes).flatMap { case ((path, text), c) =>
      Def.findAllMatchIn(c).flatMap { m =>
        val name = m.group(2)
        val where = s"$path:${text.substring(0, m.start).count(_ == '\n') + 1} $name"
        val marker = docAbove(text, m.start).toSeq
          .flatMap(_.linesIterator).find(Marker.findFirstIn(_).isDefined)
        if (m.group(1).contains("override") || name == "main") None
        else marker match {
          case Some(line) =>
            val used = """\b\w+Spec\b""".r.findAllIn(line).flatMap(specs.get)
              .exists(p => new String(Files.readAllBytes(p), "UTF-8").contains(name))
            if (used) None
            else Some(s"$where: marker names no spec that uses it: '${line.trim}'")
          case None =>
            if (uses(name) > defSites(name)) None
            else Some(s"$where: referenced by no program file")
        }
      }
    }
  }

  test("every def in src/main and perfbench is reached, or marked as an anchor or seam") {
    val offenders = scan(Roots, Paths.get("src/test/scala"))
    if (offenders.nonEmpty)
      fail(s"${offenders.size} defs neither reached nor marked:" +
        offenders.mkString("\n", "\n", ""))
  }

  test("the scan ignores comments and exempts only override, main and a marker naming a user") {
    val dir = Files.createTempDirectory("reachability")
    try {
      val main = Files.createDirectories(dir.resolve("main"))
      val spec = Files.createDirectories(dir.resolve("test"))
      Files.writeString(main.resolve("A.scala"),
        """object A {
          |  def used(): Int = 1
          |  def caller(): Int = used() // commentOnly() is mentioned here only
          |  def commentOnly(): Int = 2
          |  override def toString: String = "A"
          |  def main(args: Array[String]): Unit = println(caller())
          |  /** Doc.
          |    * Test seam: USpec calls it. */
          |  @inline private[graft] def seam(): Int = 3
          |  /** Differential anchor: NoSuchSpec. */
          |  def staleMarker(): Int = 4
          |  val s = "def inString"
          |}
          |""".stripMargin)
      Files.writeString(spec.resolve("USpec.scala"), "class USpec { A.seam() }")
      val offenders = scan(Seq(main), spec).map(_.split(" ", 2)(1))
      assert(offenders == Seq(
        "commentOnly: referenced by no program file",
        "staleMarker: marker names no spec that uses it: '/** Differential anchor: NoSuchSpec.'"))
    } finally {
      val walk = Files.walk(dir)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
    }
  }
}

/** The source walk and comment blanking shared by the specs that scan
  * program text. */
object ReachabilitySpec {
  def sources(roots: Seq[Path]): Seq[Path] = roots.flatMap { r =>
    val walk = Files.walk(r)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }.sorted

  /** `text` with every comment blanked to spaces (newlines kept, so
    * offsets match), and string literals too when `strings` is false.
    * References are counted with the strings kept, since codegen
    * calls program code from inside them; defs are found without. */
  def code(text: String, strings: Boolean): String = {
    val out = new StringBuilder(text)
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(k => if (out(k) != '\n') out(k) = ' ')
    val n = text.length
    var i = 0
    while (i < n) {
      if (text.startsWith("//", i)) {
        val end = text.indexOf('\n', i)
        val j = if (end < 0) n else end
        blank(i, j); i = j
      } else if (text.startsWith("/*", i)) {
        var depth = 1; var j = i + 2
        while (j < n && depth > 0) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (text.startsWith("\"\"\"", i)) {
        val end = text.indexOf("\"\"\"", i + 3)
        var j = if (end < 0) n else end + 3
        while (j < n && text(j) == '"') j += 1
        if (!strings) blank(i, j)
        i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        j = math.min(n, j + 1)
        if (!strings) blank(i, j)
        i = j
      } else if (text(i) == '\'' && i + 2 < n && text(i + 1) == '\\') {
        val end = text.indexOf('\'', i + 3)
        i = if (end < 0) n else end + 1
      } else if (text(i) == '\'' && i + 2 < n && text(i + 2) == '\'') {
        i += 3
      } else i += 1
    }
    out.toString
  }
}
