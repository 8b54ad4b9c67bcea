package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every plain parquet read in the engine goes through `Tables.parquet`,
  * which infers each file version's schema once; a direct
  * `.read.parquet(` elsewhere pays a schema-inference Spark job on every
  * call. `Writers`' `mergeSchema` and `basePath` reads are not plain reads
  * (their schema depends on the directory layout) and do not match.
  */
class ReadSiteInventorySpec extends AnyFunSuite {

  private val Roots = Seq("operators", "sources", "streaming")
    .map(d => Paths.get("src/main/scala/graft", d))

  /** (file, line number) of every code line containing `.read.parquet(`. */
  private def readSites: Seq[(String, Int)] = {
    Roots.foreach(r =>
      assert(Files.isDirectory(r), s"run from the repository root: ${r.toAbsolutePath} missing"))
    Roots.flatMap(r => Files.walk(r).iterator().asScala.toList)
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if l.contains(".read.parquet(") &&
              !l.trim.startsWith("*") && !l.trim.startsWith("//") =>
            (f.getFileName.toString, i + 1)
        }
      }
  }

  test("operators/, sources/ and streaming/ read plain parquet only through Tables") {
    val outside = readSites.filterNot(_._1 == "Tables.scala")
    assert(outside.isEmpty,
      s"${outside.size} direct reads: ${outside.map { case (f, l) => s"$f:$l" }.mkString(", ")}")
  }

  test("Tables keeps one plain read: the schema inference on a cache miss") {
    assert(readSites.count(_._1 == "Tables.scala") == 1)
  }
}
