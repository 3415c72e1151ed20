package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every file under `src/main/scala` must be reachable from a runtime
  * surface, so a module that only its own spec calls cannot come back.
  *
  * The graph is file-level and by name: after comments and string
  * literals are blanked out (the code of `${...}` and `$name`
  * interpolations stays, since `OraclePq` is reached only through one),
  * file A reaches file B when an identifier in A equals a name B
  * declares at top level. Roots are the mains and the session factory
  * ([[Roots]]), the providers listed in `META-INF/services`, and the
  * benchmark program under `perfbench/src` (the only caller of
  * `StockApi` and `HttpPoller`). Matching by simple name can only
  * over-approximate what is reached, so the gate never calls used code
  * dead; a name shared by two packages keeps both files.
  */
class ReachabilitySpec extends AnyFunSuite with Matchers {
  import ReachabilitySpec._

  test("every src/main file is reachable from a runtime surface, or on the keep-list") {
    val dead = unreached(
      Paths.get("src/main/scala"),
      Paths.get("src/main/resources/META-INF/services"),
      scalaFiles(Paths.get("perfbench/src")))
    val unexpected = (dead -- Keep.keySet).toSeq.sorted
    val stale = (Keep.keySet -- dead).toSeq.sorted
    if (unexpected.nonEmpty)
      fail(s"${unexpected.size} main files are reached from no root; delete " +
        "them with their specs or reach them from a runtime surface:\n" +
        unexpected.mkString("\n"))
    if (stale.nonEmpty)
      fail(s"keep-list entries that are reached (or gone): ${stale.mkString(", ")}")
  }

  test("references are code tokens: comments and plain strings drop, interpolations stay") {
    val code = strip(Seq(
      "val a = B.f // C",
      "/* D /* nested E */ F */ val g = \"H\" + s\"${I.j(\"K\")} $L $$M\" + '\"' + N",
      "val t = raw\"\"\"O \" P\"\"\"\" + Q").mkString("\n"))
    val tokens = identifiers(code)
    tokens should contain allOf ("B", "I", "L", "N", "Q")
    tokens should contain noneOf ("C", "D", "E", "F", "H", "K", "M", "O", "P")
    topLevelNames(strip("package x\nobject A { class B }\ncase class C(d: D)")) shouldBe
      Set("A", "C")
  }
}

object ReachabilitySpec {

  /** The two mains, the query registry and the session factory. */
  val Roots: Seq[String] = Seq(
    "graft/Bench.scala", "graft/Verify.scala", "graft/SparkEntry.scala",
    "graft/GraftExtensions.scala")

  /** Main files no root reaches, kept on purpose (path -> reason). */
  val Keep: Map[String, String] = Map(
    "graft/sources/JdbcSink.scala" ->
      "the reference's QuestDB insert (docker/consumer.py:223); pinned by JdbcSinkSpec and EndToEndSpec",
    "graft/sources/CandleReplay.scala" ->
      "the reference's per-symbol Kafka wire shape (ingest.py:99-105); pinned by KafkaContractSpec and EndToEndSpec")

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val TopDecl = "\\b(?:class|object|trait)\\s+([A-Za-z_][A-Za-z0-9_]*)".r

  def identifiers(code: String): Set[String] = Ident.findAllIn(code).toSet

  /** Source text with comments and string literals blanked out; the code
    * inside `${...}` and the name of `$name` interpolations is kept.
    */
  def strip(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'

    def comment(): Unit = {
      var depth = 0
      do {
        if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else i += 1
      } while (depth > 0 && i < n)
      out += ' '
    }

    def string(interpolated: Boolean): Unit = {
      val triple = src.startsWith("\"\"\"", i)
      i += (if (triple) 3 else 1)
      var open = true
      while (open && i < n) {
        if (triple && src.startsWith("\"\"\"", i)) {
          while (src.startsWith("\"\"\"\"", i)) i += 1
          i += 3; open = false
        } else if (!triple && src(i) == '"') { i += 1; open = false }
        else if (!triple && src(i) == '\\') i += 2
        else if (interpolated && src.startsWith("$$", i)) i += 2
        else if (interpolated && src.startsWith("${", i)) {
          i += 2; out += ' '; code(nested = true); out += ' '
        } else if (interpolated && src(i) == '$' && i + 1 < n &&
            (src(i + 1).isLetter || src(i + 1) == '_')) {
          val start = i + 1
          i = start
          while (i < n && isIdent(src(i))) i += 1
          out ++= " " ++= src.substring(start, i) += ' '
        } else i += 1
      }
      out += ' '
    }

    // Scans code to the end of input or, when `nested`, past the `}`
    // that closes an interpolation.
    def code(nested: Boolean): Unit = {
      var depth = 0
      while (i < n) {
        val c = src(i)
        if (src.startsWith("//", i)) { while (i < n && src(i) != '\n') i += 1 }
        else if (src.startsWith("/*", i)) comment()
        else if (c == '"') string(interpolated = i > 0 && isIdent(src(i - 1)))
        else if (c == '\'' && i + 2 < n && src(i + 1) == '\\') {
          i += 3
          while (i < n && src(i) != '\'') i += 1
          i += 1; out += ' '
        } else if (c == '\'' && i + 2 < n && src(i + 2) == '\'') { i += 3; out += ' ' }
        else if (nested && c == '}' && depth == 0) { i += 1; return }
        else {
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          out += c; i += 1
        }
      }
    }

    code(nested = false)
    out.result()
  }

  /** Names of the classes, objects and traits declared at brace depth 0. */
  def topLevelNames(code: String): Set[String] = {
    val top = new StringBuilder
    var depth = 0
    code.foreach {
      case '{' => depth += 1; top += ' '
      case '}' => depth -= 1; top += ' '
      case c => if (depth == 0) top += c
    }
    TopDecl.findAllMatchIn(top).map(_.group(1)).toSet
  }

  def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  /** Files under `mainDir` (relative paths) that no root reaches. */
  def unreached(mainDir: Path, servicesDir: Path, extraRoots: Seq[Path]): Set[String] = {
    val code = scalaFiles(mainDir)
      .map(p => mainDir.relativize(p).toString -> strip(read(p))).toMap
    val definedIn: Map[String, Seq[String]] =
      (for ((f, c) <- code.toSeq; name <- topLevelNames(c)) yield name -> f)
        .groupMap(_._1)(_._2)
    def refs(c: String): Set[String] = identifiers(c).flatMap(definedIn.getOrElse(_, Nil))

    val listing = Files.list(servicesDir)
    val serviceFiles = try listing.iterator.asScala.toList finally listing.close()
    val providerFiles = serviceFiles
      .flatMap(p => read(p).linesIterator.map(_.trim))
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { fqn =>
        val files = definedIn.getOrElse(fqn.split('.').last, Nil)
        require(files.nonEmpty, s"service provider $fqn is declared in no main file")
        files
      }
    Roots.foreach(r => require(code.contains(r), s"root $r is missing"))

    val seen = scala.collection.mutable.Set.empty[String]
    var todo = (Roots ++ providerFiles ++ extraRoots.flatMap(p => refs(strip(read(p))))).toList
    while (todo.nonEmpty) {
      val f = todo.head
      todo = todo.tail
      if (seen.add(f)) todo = refs(code(f)).filterNot(seen).toList ++ todo
    }
    code.keySet -- seen
  }
}
