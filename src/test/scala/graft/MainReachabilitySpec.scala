package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A plain text scan for main code that nothing in main code calls. It
  * covers every top-level object and every member declared at the top of
  * an object (two-space indent). Each one must be a `main`, an `override`,
  * or referenced:
  *  - a member by its bare name in its own file, outside the lines that
  *    declare that name; in any other file as `Owner.name`, through an
  *    import selector `Owner.{…name…}`, or by its bare name under a
  *    wildcard `Owner._` import;
  *  - an object by its name in any other file, or in its own file outside
  *    its body and its companion's.
  * Comments are stripped and string literals kept, so an interpolated
  * `$ChunkBudget` counts. The qualified rule exists because common names
  * (`stream`, `records`) appear bare all over the code.
  */
object MainReachability {

  final case class Source(path: String, text: String) {
    lazy val lines: IndexedSeq[String] = stripComments(text).split("\n", -1).toIndexedSeq
    lazy val code: String = lines.mkString("\n")
    /** Per line, the kind and name of the column-0 declaration it sits in. */
    lazy val owners: IndexedSeq[(String, String)] = lines.scanLeft(("", "")) {
      case (_, TopLevel(kind, name)) => (kind, name)
      case (owner, _)                => owner
    }.tail
    lazy val decls: Seq[Decl] = declarations(this)
  }

  /** A top-level object (`owner` empty) or a member at the top of one. */
  final case class Decl(path: String, owner: String, name: String, line: Int) {
    def id: String = if (owner.isEmpty) name else s"$owner.$name"
  }

  private val Mods =
    """(?:@\w+\s+)*(?:(?:(?:private|protected)(?:\[\w+\])?|final|sealed|abstract|case|implicit|lazy|override)\s+)*"""
  private val TopLevel = s"""^$Mods(object|class|trait)\\s+(\\w+).*""".r
  private val Member = s"""^  ($Mods)(?:def|val|var|object|class|trait|type)\\s+(\\w+).*""".r

  /** `text` with `//` and (nested) `/* */` comments blanked; string and
    * char literals, interpolations and line breaks are kept.
    */
  def stripComments(text: String): String = {
    val out = new StringBuilder(text.length)
    var i = 0
    def at(s: String) = text.startsWith(s, i)
    def copy(n: Int): Unit = { out.append(text.substring(i, i + n)); i += n }
    // code up to an unmatched `}` when `nested`, else to the end
    def code(nested: Boolean): Unit = {
      var depth = 0
      while (i < text.length && !(nested && depth == 0 && text(i) == '}')) {
        if (at("//")) while (i < text.length && text(i) != '\n') i += 1
        else if (at("/*")) {
          var d = 0
          while (i < text.length && (d > 0 || at("/*"))) {
            if (at("/*")) { d += 1; i += 2 }
            else if (at("*/")) { d -= 1; i += 2 }
            else { if (text(i) == '\n') out += '\n'; i += 1 }
          }
        } else if (at("\"\"\"")) { copy(3); string("\"\"\"") }
        else if (text(i) == '"') { copy(1); string("\"") }
        else if (at("'\\")) copy(text.indexOf('\'', i + 3) + 1 - i)
        else if (text(i) == '\'' && text.startsWith("'", i + 2)) copy(3)
        else {
          if (text(i) == '{') depth += 1 else if (text(i) == '}') depth -= 1
          copy(1)
        }
      }
    }
    // a string body and its closing quote; `${…}` recurses into code
    def string(close: String): Unit = {
      while (i < text.length && !at(close)) {
        if (close == "\"" && text(i) == '\\') copy(2)
        else if (at("${")) { copy(2); code(nested = true); if (i < text.length) copy(1) }
        else copy(1)
      }
      if (close == "\"\"\"") while (text.startsWith("\"\"\"\"", i)) copy(1)
      if (i < text.length) copy(close.length)
    }
    code(nested = false)
    out.toString
  }

  private def declarations(src: Source): Seq[Decl] = {
    val members = src.lines.indices.flatMap { i =>
      (src.lines(i), src.owners(i)) match {
        case (Member(mods, name), ("object", owner)) => Some((owner, mods, name, i))
        case _                                       => None
      }
    }
    val entries = members.collect { case (owner, _, "main", _) => owner }.toSet
    src.lines.zipWithIndex.collect {
      case (TopLevel("object", name), i) if !entries(name) => Decl(src.path, "", name, i)
    } ++ members.collect {
      case (owner, mods, name, i) if name != "main" && !mods.contains("override") =>
        Decl(src.path, owner, name, i)
    }
  }

  private def word(s: String) = s"\\b${java.util.regex.Pattern.quote(s)}\\b".r

  private def referenced(d: Decl, sources: Seq[Source]): Boolean = {
    val bare = word(d.name)
    val o = java.util.regex.Pattern.quote(d.owner)
    val n = java.util.regex.Pattern.quote(d.name)
    val apply = if (d.name == "apply") s"|\\b$o\\s*\\(" else ""
    val qualified = s"\\b$o\\s*\\.\\s*$n\\b|import\\s+[\\w.]*\\b$o\\.\\{[^}]*\\b$n\\b$apply".r
    val wildcard = s"import\\s+[\\w.]*\\b$o\\.(?:_|\\{[^}]*\\b_\\s*\\})".r
    def found(src: Source, skip: Int => Boolean) =
      src.lines.indices.exists(i => !skip(i) && bare.findFirstIn(src.lines(i)).isDefined)
    sources.exists { src =>
      if (src.path != d.path)
        if (d.owner.isEmpty) found(src, _ => false)
        else qualified.findFirstIn(src.code).isDefined ||
          (wildcard.findFirstIn(src.code).isDefined && bare.findFirstIn(src.code).isDefined)
      else if (d.owner.isEmpty) found(src, src.owners(_)._2 == d.name)
      else found(src, i => src.decls.exists(x => x.line == i && x.name == d.name))
    }
  }

  /** Every declaration in `scanned` that no source in `referencing` reaches. */
  def unreferenced(scanned: Seq[Source], referencing: Seq[Source]): Seq[Decl] =
    scanned.flatMap(_.decls).filterNot(referenced(_, referencing))

  def scalaSources(root: Path): Seq[Source] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(f => Source(f.toString, new String(Files.readAllBytes(f), "UTF-8")))
}

class MainReachabilitySpec extends AnyFunSuite {
  import MainReachability._

  /** Names that only specs call, each with why it stays in main code. The
    * test fails when a seam gains a main-code caller or disappears.
    */
  private val TestSeams: Map[String, String] = Map(
    "JvmCache.clearAll" ->
      "specs empty every per-JVM cache between cases; main code builds each cache once per JVM",
  )

  test("every src/main object and object member has a main-code caller") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root: ${main.toAbsolutePath} missing")
    val scanned = scalaSources(main)
    val ids = scanned.flatMap(_.decls).map(_.id).toSet
    assert(Set("TxGen", "TxGen.generate", "FraudStream.parse", "JvmCache.clearAll").subsetOf(ids), ids)
    val flagged = unreferenced(scanned, scanned ++ scalaSources(Paths.get("perfbench/src")))
    val uncalled = flagged.filterNot(d => TestSeams.contains(d.id))
    assert(uncalled.isEmpty,
      s"${uncalled.size} names without a main, an override or a main-code caller: " +
        uncalled.map(d => s"${d.id} (${Paths.get(d.path).getFileName}:${d.line + 1})").mkString(", "))
    val stale = TestSeams.keySet -- flagged.map(_.id)
    assert(stale.isEmpty, s"TestSeams entries that gained a main-code caller or are gone: $stale")
  }

  test("Owner.name, not a same-named identifier, is a caller from another file") {
    val gen = Source("gen/Gen.scala",
      """package x
        |
        |/** Also `stream` and Gen.stream here: comments are not callers. */
        |object Gen {
        |  def stream(n: Int): Int = n // Gen.stream
        |  def batch(n: Int): Int = n
        |}
        |""".stripMargin)
    val user = Source("app/App.scala",
      """package x
        |
        |object App {
        |  def main(args: Array[String]): Unit = {
        |    val stream = Gen.batch(1)
        |    println(s"${stream + 1}")
        |  }
        |}
        |""".stripMargin)
    assert(unreferenced(Seq(gen, user), Seq(gen, user)).map(_.id) == Seq("Gen.stream"))
  }

  test("comment stripping keeps strings, interpolations and line breaks") {
    val src = "val a = \"file://x\" // gone\n/* gone\n /* nested */ gone */ val b = s\"${f(\"//\")} $$c\" + '\"'\n"
    assert(stripComments(src) == "val a = \"file://x\" \n\n val b = s\"${f(\"//\")} $$c\" + '\"'\n")
  }
}
