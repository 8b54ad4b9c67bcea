package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The `graft.*` system properties and the environment variables main
  * code reads are closed lists. A `graft.*` property keeps a non-default
  * plan arm alive, so adding one (or keeping one after its A/B decision
  * is recorded) is an explicit edit here; so is a new environment switch.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val ExpectedProps = Set(
    "graft.ann.cos.floor",
    "graft.ann.prod.arm",
    "graft.ann.prod.bound",
    "graft.banded.probe",
    "graft.bm.probe",
    "graft.cc.sigdedup",
    "graft.jaccard.prefix.ratio")

  private val ExpectedEnv = Set(
    "GRAFT_BENCH_DETAIL",
    "GRAFT_BENCH_RUNS",
    "GRAFT_CC_DRIVER_MAX_EDGES",
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

  private def readInMain(pattern: Regex): Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath} missing")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { (f: Path) =>
      pattern.findAllMatchIn(Files.readString(f)).map(_.group(1))
    }.toSet
  }

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
}
