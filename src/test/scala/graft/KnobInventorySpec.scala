package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `graft.*` system properties main code reads are a closed list.
  * Each one keeps a non-default plan arm alive, so adding one (or keeping
  * one after its A/B decision is recorded) is an explicit edit here.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val Expected = Set(
    "graft.ann.cos.floor",
    "graft.ann.prod.arm",
    "graft.ann.prod.bound",
    "graft.banded.probe",
    "graft.banded.verify",
    "graft.bm.probe",
    "graft.bm.serve.plan",
    "graft.bm.serve.precheck",
    "graft.cc.frontier",
    "graft.cc.shape",
    "graft.cc.sigdedup",
    "graft.exact.ckpt",
    "graft.jaccard.prefix.ratio",
    "graft.sem.assign",
    "graft.sem.pairs")

  private val PropRead =
    """(?:sys\.props(?:\.get|\.getOrElse|\.contains)?|System\.getProperty)\(\s*"(graft\.[A-Za-z0-9_.]+)"""".r

  test("main code reads exactly the inventoried graft.* system properties") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath} missing")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val read = files.flatMap { (f: Path) =>
      PropRead.findAllMatchIn(Files.readString(f)).map(_.group(1))
    }.toSet
    assert(read === Expected,
      s"added: ${(read -- Expected).toSeq.sorted}, removed: ${(Expected -- read).toSeq.sorted}")
  }
}
