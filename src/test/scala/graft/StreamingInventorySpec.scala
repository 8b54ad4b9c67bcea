package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every top-level object under `streaming/` is either a runnable main or
  * is called from main code outside its own body. An operator that only
  * its own spec runs is dead weight: it gets an entry point or is deleted.
  * "Outside its own body" rather than "in another file" because
  * `FraudScoring` lives in FraudStream.scala, whose `FraudStream` calls it.
  */
class StreamingInventorySpec extends AnyFunSuite {

  private val MainRoot = Paths.get("src/main/scala")
  private val StreamingDir = MainRoot.resolve("graft/streaming")

  /** A top-level declaration: it starts at column 0. */
  private val TopLevelDecl =
    """^(?:(?:private\[\w+\]|final|sealed|abstract|case|implicit)\s+)*(object|class|trait)\s+(\w+).*""".r

  /** A line with its comment text removed: doc/block comment lines drop
    * whole, a trailing `//` comment is cut.
    */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i  => line.substring(0, i)
    }
  }

  private def scalaFiles(root: Path): List[Path] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)

  /** Per line of `lines`, the name of the top-level declaration it sits
    * in: the nearest one starting at or above it ("" before the first).
    */
  private def owners(lines: IndexedSeq[String]): IndexedSeq[String] =
    lines.scanLeft("") {
      case (_, TopLevelDecl(_, name)) => name
      case (owner, _)                 => owner
    }.tail

  test("every top-level object in streaming/ has a main or a main-code caller") {
    assert(Files.isDirectory(StreamingDir),
      s"run from the repository root: ${StreamingDir.toAbsolutePath} missing")
    // (file, code lines, owner per line) for all of src/main
    val sources = scalaFiles(MainRoot).map { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      (f, lines.map(code), owners(lines))
    }
    val objects = sources.filter(_._1.startsWith(StreamingDir)).flatMap { case (f, ls, _) =>
      ls.collect { case TopLevelDecl("object", name) => f -> name }
    }
    assert(objects.map(_._2).contains("FraudStream"), objects)
    val uncalled = objects.filterNot { case (file, name) =>
      val ref = s"\\b$name\\b".r
      val hasMain = sources.exists { case (f, ls, own) =>
        f == file && ls.indices.exists(i => own(i) == name && ls(i).contains("def main("))
      }
      // a companion class or the object itself does not count as a caller
      val called = sources.exists { case (f, ls, own) =>
        ls.indices.exists(i => (f != file || own(i) != name) && ref.findFirstIn(ls(i)).isDefined)
      }
      hasMain || called
    }
    assert(uncalled.isEmpty,
      s"${uncalled.size} streaming objects without a main or a caller: " +
        uncalled.map { case (f, n) => s"$n (${f.getFileName})" }.mkString(", "))
  }
}
