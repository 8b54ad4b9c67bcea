package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The `graft.*` system properties and the environment variables main
  * code reads are closed lists. A `graft.*` property keeps a non-default
  * plan arm alive, so adding one is an explicit edit here; so is a new
  * environment switch. The property list is empty: every router decides
  * from its input, and specs pin an arm through a parameter. Test code
  * sets no `graft.*` property either: all suites share one forked JVM, so
  * a property one suite sets leaks into every suite after it.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val ExpectedProps = Set.empty[String]

  private val ExpectedEnv = Set(
    "GRAFT_BENCH_DETAIL",
    "GRAFT_BENCH_RUNS",
    "GRAFT_WARMSERVE_DETAIL",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_SKIP_RECURSIVE",
    "SPARK_MASTER")

  private val PropRead =
    """(?:sys\.props(?:\.get|\.getOrElse|\.contains)?|System\.getProperty)\(\s*"(graft\.[A-Za-z0-9_.]+)"""".r

  // `Bench.writeDetail(name, ...)` reads its output path from the named
  // variable, so its literal first argument is an env read too
  private val EnvRead =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv|writeDetail)\(\s*"([A-Z][A-Z0-9_]*)"""".r

  // a system-property write; group 1 is the key argument's source text
  private val PropSet =
    """(?:sys\.props\s*\(([^)]*)\)\s*=(?!=)|sys\.props\s*\.\s*(?:put|update|getOrElseUpdate|addOne)\s*\(([^,)]*)|System\.setProperty\s*\(([^,)]*))""".r

  /** Keys of the system-property writes in `src` that set, or may set, a
    * `graft.*` property: a literal `graft.*` key, or a key that is not a
    * literal at all.
    */
  private def graftPropertySets(src: String): Seq[String] =
    PropSet.findAllMatchIn(src).map { m =>
      (1 to 3).map(i => m.group(i)).find(_ != null).get.trim
    }.filter(k => !k.startsWith("\"") || k.startsWith("\"graft.")).toSeq

  private def scalaFiles(dir: String): List[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath} missing")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
  }

  private def readInMain(pattern: Regex): Set[String] =
    scalaFiles("src/main/scala").flatMap { (f: Path) =>
      pattern.findAllMatchIn(Files.readString(f)).map(_.group(1))
    }.toSet

  test("main code reads exactly the inventoried graft.* system properties") {
    val read = readInMain(PropRead)
    assert(read === ExpectedProps,
      s"added: ${(read -- ExpectedProps).toSeq.sorted}, removed: ${(ExpectedProps -- read).toSeq.sorted}")
  }

  test("main code reads exactly the inventoried environment variables") {
    val read = readInMain(EnvRead)
    assert(read === ExpectedEnv,
      s"added: ${(read -- ExpectedEnv).toSeq.sorted}, removed: ${(ExpectedEnv -- read).toSeq.sorted}")
  }

  test("no test code sets a graft.* system property") {
    val found = scalaFiles("src/test/scala").flatMap { (f: Path) =>
      graftPropertySets(Files.readString(f)).map(k => s"${f.getFileName}: $k")
    }
    assert(found.isEmpty, s"test code sets a graft.* system property: $found")
  }

  test("the property-write scan flags graft.* and non-literal keys only") {
    // spelled in pieces, so this file's own samples are not writes
    val (props, set) = ("sys." + "props", "System." + "setProperty")
    val src = Seq(
      s"""$props("graft.cc.sigdedup") = "on"""",
      s"""arm.foreach($props("graft.x") = _)""",
      s"""$props(k) = v""",
      s"""$set("graft.y", "1")""",
      s"""$props.put(key, "1")""",
      s"""$props("spark.ui.enabled") = "false"""",
      s"""if ($props("graft.z") == "1") ()""",
      s"""$props.get("graft.w")""").mkString("\n")
    assert(graftPropertySets(src) ===
      Seq("\"graft.cc.sigdedup\"", "\"graft.x\"", "k", "\"graft.y\"", "key"))
  }
}
