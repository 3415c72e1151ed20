package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every class, trait and object member under `src/main/scala` must be
  * reachable from a runtime surface, so code that only its own spec
  * calls cannot come back.
  *
  * The graph is by name over [[Node]]s: a top-level class or trait is one
  * node; a top-level object is a header node plus one node per direct
  * member. Comments and string literals are blanked out (the code of
  * `${...}` and `$name` interpolations stays, since `OraclePq` is reached
  * only through one). A node reaches
  *   - a top-level class, trait or object whose simple name (or import
  *     alias) it uses;
  *   - member `m` of object `O` when it writes `O.m` (inside string
  *     literals too: `Md5Prefix60.hash60` is reached only through its
  *     codegen template), or uses `m` inside `O` (or its companion class)
  *     or in a file that imports `O._` or `O.m`.
  * A member makes its object's header reached, and the header reaches the
  * members that run with the object: `override`, `implicit`, `apply`,
  * `unapply` and `main`. Roots are the mains and the session factory
  * ([[Roots]]), the providers listed in `META-INF/services`, the
  * benchmark program under `perfbench/src` (the only caller of `StockApi`
  * and `HttpPoller`) and the [[Keep]] list. Member references resolve
  * through qualifiers and imports, so a common name such as `start`
  * elsewhere does not keep `AnnServe.start`; a call through a value of a
  * trait type names no object, and its target is a class (one node), so
  * that case cannot read as dead.
  */
class ReachabilitySpec extends AnyFunSuite with Matchers {
  import ReachabilitySpec._

  test("every top-level class and object member is reachable from a root") {
    val main = Paths.get("src/main/scala")
    val sources = scalaFiles(main).map(p => main.relativize(p).toString -> read(p)).toMap
    val providers = {
      val s = Files.list(Paths.get("src/main/resources/META-INF/services"))
      try s.iterator.asScala.toList.flatMap(p => read(p).linesIterator.map(_.trim))
        .filter(l => l.nonEmpty && !l.startsWith("#"))
      finally s.close()
    }
    val bench = scalaFiles(Paths.get("perfbench/src")).map(read)
    val g = Graph(sources)
    val dead = g.unreached(Roots ++ providers, bench)
    val unexpected = g.unreached(Roots ++ providers ++ Keep.keySet, bench).toSeq.sorted
    val stale = Keep.keySet.filter(k => g.nodesOf(k).forall(n => !dead(n.name))).toSeq.sorted
    if (unexpected.nonEmpty)
      fail(s"${unexpected.size} main classes or members are reached from no root; " +
        "delete them with their specs or reach them from a runtime surface:\n" +
        unexpected.mkString("\n"))
    if (stale.nonEmpty)
      fail(s"keep-list entries that are reached (or gone): ${stale.mkString(", ")}")
  }

  test("references are code tokens: comments and plain strings drop, interpolations stay") {
    val src = Seq(
      "val a = B.f // C",
      "/* D /* nested E */ F */ val g = \"H\" + s\"${I.j(\"K\")} $L $$M\" + '\"' + N",
      "val t = raw\"\"\"O \" P\"\"\"\" + Q").mkString("\n")
    val code = strip(src)
    code.length shouldBe src.length
    val tokens = identifiers(code)
    tokens should contain allOf ("B", "I", "L", "N", "Q")
    tokens should contain noneOf ("C", "D", "E", "F", "H", "K", "M", "O", "P")
    identifiers(strip(src, keepStrings = true)) should contain allOf ("H", "K", "O", "P")
    Graph(Map("x/A.scala" -> "package x\nobject A { class B(val e: Int); def c = 1 }\ncase class C(d: D)"))
      .nodes.map(_.name).toSet shouldBe Set("x.A", "x.A.B", "x.A.c", "x.C")
  }

  test("member edges: qualified, imported, same file, string literals, with the object, kept files") {
    val g = Graph(Map(
      "r/R.scala" -> """package r
        |import a.A.imported
        |import a.{Al => L}
        |object R { def main(args: Array[String]): Unit = { A.used(); imported(); L.aliased; T.start } }
        |""".stripMargin,
      "a/A.scala" -> """package a
        |object A {
        |  def used() = helper()
        |  private def helper() = 1
        |  def imported() = "a.A.inString(1)"
        |  def inString = 2
        |  def start = 3
        |  def dead = helper()
        |  implicit val enc: Int = 4
        |  override def toString = "A"
        |  def apply(i: Int) = i
        |}
        |object Al { def aliased = 5; def other = 6 }
        |object T { def start = 7 }
        |class Unused { def used() = 8 }
        |""".stripMargin,
      "k/K.scala" -> "package k\nobject K { def run = a.Al.other }\nobject K2 { def dead = 9 }"))
    g.unreached(Seq("r/R.scala"), Nil) shouldBe
      Set("a.A.start", "a.A.dead", "a.Al.other", "a.Unused", "k.K", "k.K.run", "k.K2", "k.K2.dead")
    g.unreached(Seq("r/R.scala", "k/K.scala"), Nil) shouldBe Set("a.A.start", "a.A.dead", "a.Unused")
    g.unreached(Seq("r/R.scala", "k.K2.dead"), Seq("object B { a.A.start }")) shouldBe
      Set("a.A.dead", "a.Al.other", "a.Unused", "k.K", "k.K.run")
  }
}

object ReachabilitySpec {

  /** The two mains, the query registry and the session factory. */
  val Roots: Seq[String] = Seq(
    "graft/Bench.scala", "graft/Verify.scala", "graft/SparkEntry.scala",
    "graft/GraftExtensions.scala")

  /** Files and nodes no root reaches, kept on purpose (name -> reason). A
    * kept file or node is a root too: what it calls stays.
    */
  val Keep: Map[String, String] = Map(
    "graft/sources/JdbcSink.scala" ->
      "the reference's QuestDB insert (docker/consumer.py:223); pinned by JdbcSinkSpec and EndToEndSpec",
    "graft/sources/CandleReplay.scala" ->
      "the reference's per-symbol Kafka wire shape (ingest.py:99-105); pinned by KafkaContractSpec and EndToEndSpec",
    "graft.streaming.StreamingIndicators.enrichStream" ->
      "the dedup-free fold that the fold-equivalence and golden specs compare the pipeline against",
    "graft.streaming.StreamingIndicators.toKafkaFrame" ->
      "the reference's output_topic record shape (consumer.py:211-219); pinned by KafkaContractSpec",
    "graft.ops.LocalTail.scoped" ->
      "test hook: forces the local or distributed branch of every size-gated tail",
    "graft.ops.Dtw.reference" -> "DtwSpec's serial reference for the banded SQL recursion",
    "graft.ops.Hilbert.xy2d" -> "HilbertSpec's serial reference for the SQL lateral chain",
    "graft.sources.JsonlFeedPoller" ->
      "the file-tailing Poller of PollSource's documented usage, loaded by class name; pinned by PollSourceSpec")

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Qualified = "(?<![A-Za-z0-9_])([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*(?=([A-Za-z_][A-Za-z0-9_]*))".r
  private val Package = "\\bpackage\\s+([A-Za-z_][A-Za-z0-9_.]*)".r
  private val Import = "\\bimport\\s+([^;\\n{]*(?:\\{[^}]*\\})?)".r
  private val Modifiers =
    "(?:(?:private|protected)(?:\\[[A-Za-z0-9_]+\\])?|override|implicit|final|lazy|sealed|abstract|case)"
  private val Decl =
    s"\\b((?:$Modifiers\\s+)*)(def|val|var|class|object|trait|type)\\s+([A-Za-z_][A-Za-z0-9_]*)".r
  private val WithObject = Set("apply", "unapply", "main")

  def identifiers(code: String): Set[String] = Ident.findAllIn(code).toSet

  /** Source text with comments and (unless `keepStrings`) string literals
    * blanked out, position for position; the code inside `${...}` and the
    * name of `$name` interpolations is kept.
    */
  def strip(src: String, keepStrings: Boolean = false): String = {
    val out = src.toCharArray
    val n = src.length
    var i = 0
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    def blank(from: Int, to: Int): Unit =
      for (k <- from until math.min(to, n) if out(k) != '\n') out(k) = ' '
    def blankString(from: Int, to: Int): Unit = if (!keepStrings) blank(from, to)

    def comment(): Unit = {
      val start = i
      var depth = 0
      do {
        if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else i += 1
      } while (depth > 0 && i < n)
      blank(start, i)
    }

    def string(interpolated: Boolean): Unit = {
      var start = i
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
          blankString(start, i + 2)
          i += 2; code(nested = true)
          blankString(i - 1, i); start = i
        } else if (interpolated && src(i) == '$' && i + 1 < n &&
            (src(i + 1).isLetter || src(i + 1) == '_')) {
          blankString(start, i + 1)
          i += 1
          while (i < n && isIdent(src(i))) i += 1
          start = i
        } else i += 1
      }
      blankString(start, i)
    }

    // Scans code to the end of input or, when `nested`, past the `}`
    // that closes an interpolation.
    def code(nested: Boolean): Unit = {
      var depth = 0
      while (i < n) {
        val c = src(i)
        if (src.startsWith("//", i)) {
          val start = i
          while (i < n && src(i) != '\n') i += 1
          blank(start, i)
        } else if (src.startsWith("/*", i)) comment()
        else if (c == '"') string(interpolated = i > 0 && isIdent(src(i - 1)))
        else if (c == '\'' && i + 2 < n && src(i + 1) == '\\') {
          val start = i
          i += 3
          while (i < n && src(i) != '\'') i += 1
          i += 1; blank(start, i)
        } else if (c == '\'' && i + 2 < n && src(i + 2) == '\'') { blank(i, i + 3); i += 3 }
        else if (nested && c == '}' && depth == 0) { i += 1; return }
        else {
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          i += 1
        }
      }
    }

    code(nested = false)
    new String(out)
  }

  /** A top-level class or trait (`owner` empty), the header of a top-level
    * object (`owner` empty; its members blanked out), or one direct member
    * of a top-level object. `code` has strings blanked, `text` keeps them.
    */
  final case class Node(
      name: String, file: String, owner: String, simple: String,
      code: String, text: String, withObject: Boolean)

  /** Text of `code` between `from` and `to` at brace and parenthesis
    * depth `level` relative to `from`; deeper text, braces and parentheses
    * blanked (so a `val` class parameter is no member).
    */
  private def atLevel(code: String, from: Int, to: Int, level: Int): String = {
    val sb = new StringBuilder
    var d = 0
    for (k <- from until to) code(k) match {
      case '{' | '(' => d += 1; sb += ' '
      case '}' | ')' => d -= 1; sb += ' '
      case c => sb += (if (d == level || c == '\n') c else ' ')
    }
    sb.result()
  }

  /** Index of the `}` closing the `{` at `open`. */
  private def closing(code: String, open: Int): Int = {
    var d = 0
    var k = open
    do {
      if (code(k) == '{') d += 1 else if (code(k) == '}') d -= 1
      k += 1
    } while (d > 0 && k < code.length)
    k - 1
  }

  private def blankRanges(s: String, ranges: Seq[(Int, Int)]): String = {
    val out = s.toCharArray
    for ((a, b) <- ranges; k <- a until b if out(k) != '\n') out(k) = ' '
    new String(out)
  }

  /** Nodes of one main file. */
  def fileNodes(file: String, src: String): Seq[Node] = {
    val code = strip(src)
    val text = strip(src, keepStrings = true)
    val pkg = Package.findAllMatchIn(atLevel(code, 0, code.length, 0)).map(_.group(1)).mkString(".")
    def qual(names: String*) = (pkg +: names).filter(_.nonEmpty).mkString(".")
    val top = Decl.findAllMatchIn(atLevel(code, 0, code.length, 0))
      .filter(m => Set("class", "object", "trait")(m.group(2))).toSeq
    top.zipWithIndex.flatMap { case (m, i) =>
      val (start, end) = (m.start, if (i + 1 < top.size) top(i + 1).start else code.length)
      val name = m.group(3)
      val open = code.indexOf('{', m.end)
      if (m.group(2) != "object" || open < 0 || open >= end)
        Seq(Node(qual(name), file, "", name, code.substring(start, end), text.substring(start, end), false))
      else {
        val close = closing(code, open)
        val decls = Decl.findAllMatchIn(atLevel(code, open + 1, close, 0)).toSeq
        val spans = decls.zipWithIndex.map { case (d, j) =>
          (open + 1 + d.start, if (j + 1 < decls.size) open + 1 + decls(j + 1).start else close)
        }
        val members = decls.zip(spans).map { case (d, (a, b)) =>
          val mods = d.group(1).split("\\s+").toSet
          Node(qual(name, d.group(3)), file, name, d.group(3), code.substring(a, b), text.substring(a, b),
            mods("override") || mods("implicit") || WithObject(d.group(3)))
        }
        val rel = spans.map { case (a, b) => (a - start, b - start) }
        Node(qual(name), file, "", name, blankRanges(code.substring(start, end), rel),
          blankRanges(text.substring(start, end), rel), false) +: members
      }
    }
  }

  /** What a file imports: members by object, whole objects, aliases. */
  private final case class Imports(members: Set[(String, String)], wildcards: Set[String],
      aliases: Map[String, String])

  private def importsOf(code: String): Imports = {
    val clauses = Import.findAllMatchIn(code).map(_.group(1).replaceAll("\\s+", "")).toSeq
    val parsed = clauses.flatMap { c =>
      val brace = c.indexOf('{')
      val (path, selectors) =
        if (brace >= 0)
          (c.substring(0, brace).stripSuffix("."), c.substring(brace + 1).stripSuffix("}").split(',').toSeq)
        else (c.substring(0, math.max(c.lastIndexOf('.'), 0)), Seq(c.substring(c.lastIndexOf('.') + 1)))
      val owner = path.split('.').last
      selectors.filter(_.nonEmpty).map { s =>
        val parts = s.split("=>")
        (owner, parts.head, parts.lift(1))
      }
    }
    Imports(
      parsed.collect { case (o, m, _) if m != "_" => o -> m }.toSet,
      parsed.collect { case (o, "_", None) => o }.toSet,
      parsed.collect { case (_, m, Some(alias)) if alias != "_" => alias -> m }.toMap)
  }

  /** The node graph of `main` (path -> source). */
  final case class Graph(main: Map[String, String]) {
    val nodes: Seq[Node] = main.toSeq.sortBy(_._1).flatMap { case (f, s) => fileNodes(f, s) }
    private val imports: Map[String, Imports] = main.map { case (f, s) => f -> importsOf(strip(s)) }
    private val (topLevel, memberNodes) = nodes.partition(_.owner.isEmpty)
    private val tops = topLevel.groupBy(_.simple)
    private val headers = topLevel.groupBy(n => (n.file, n.simple))
    private val members = memberNodes.groupBy(_.simple)
    private val withObject = memberNodes.filter(_.withObject).groupBy(n => (n.file, n.owner))

    /** Nodes a kept or root name stands for: a file's every node, or one node. */
    def nodesOf(name: String): Seq[Node] =
      if (name.endsWith(".scala")) nodes.filter(_.file == name) else nodes.filter(_.name == name)

    /** Nodes that `code` (`text` with its strings) uses: in `file` (None
      * outside main), inside the object or beside the class `inObject`.
      */
    private def refs(file: Option[String], inObject: Option[String], code: String,
        text: String): Seq[Node] = {
      val imp = file.fold(importsOf(code))(imports)
      def real(q: String) = imp.aliases.getOrElse(q, q)
      val ids = identifiers(code)
      val qualified = Qualified.findAllMatchIn(text).map(m => (real(m.group(1)), m.group(2))).toSet
      val topRefs = ids.toSeq.flatMap(id => tops.getOrElse(real(id), Nil))
      val memberRefs = (ids ++ qualified.map(_._2)).toSeq.flatMap(members.getOrElse(_, Nil)).filter { m =>
        qualified((m.owner, m.simple)) || (ids(m.simple) &&
          (file.contains(m.file) && inObject.contains(m.owner) ||
            imp.wildcards(m.owner) || imp.members((m.owner, m.simple))))
      }
      topRefs ++ memberRefs
    }

    private lazy val edges: Map[Node, Seq[Node]] = nodes.map { n =>
      val up = if (n.owner.isEmpty) Nil else headers.getOrElse((n.file, n.owner), Nil)
      val down = if (n.owner.isEmpty) withObject.getOrElse((n.file, n.simple), Nil) else Nil
      val inObject = if (n.owner.nonEmpty) n.owner else n.simple
      n -> (refs(Some(n.file), Some(inObject), n.code, n.text) ++ up ++ down)
    }.toMap

    /** Names of the nodes no root reaches. `roots` are main file paths and
      * qualified node names or provider classes; `extra` is source outside
      * main (the benchmark program) whose references are roots too.
      */
    def unreached(roots: Seq[String], extra: Seq[String]): Set[String] = {
      val start = roots.flatMap { r =>
        val ns = nodesOf(r)
        require(ns.nonEmpty, s"root or kept name $r names no main file or node")
        ns
      } ++ extra.flatMap { s => refs(None, None, strip(s), strip(s, keepStrings = true)) }
      val seen = scala.collection.mutable.Set.empty[Node]
      var todo = start.toList
      while (todo.nonEmpty) {
        val n = todo.head
        todo = todo.tail
        if (seen.add(n)) todo = edges(n).filterNot(seen).toList ++ todo
      }
      nodes.filterNot(seen).map(_.name).toSet -- nodes.filter(seen).map(_.name)
    }
  }

  def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)
}
