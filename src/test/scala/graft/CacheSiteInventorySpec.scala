package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every per-JVM cache is a `graft.JvmCache`, and every dataset dir
  * becomes a cache key or a store root through `sources/Datasets`. A
  * hand-rolled `TrieMap`, a second `getCanonicalPath` or a private MD5
  * key helper would bring back the unbounded, drifting copies this
  * replaces. `functions/` keeps its UDF hashing and is not scanned.
  */
class CacheSiteInventorySpec extends AnyFunSuite {

  private val Roots = Seq("operators", "sources", "streaming")
    .map(d => Paths.get("src/main/scala/graft", d))

  private val KeyModule = "Datasets.scala"

  /** (file, line number) of every code line containing `token`. */
  private def sites(token: String): Seq[(String, Int)] = {
    Roots.foreach(r =>
      assert(Files.isDirectory(r), s"run from the repository root: ${r.toAbsolutePath} missing"))
    Roots.flatMap(r => Files.walk(r).iterator().asScala.toList)
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if l.contains(token) &&
              !l.trim.startsWith("*") && !l.trim.startsWith("//") =>
            (f.getFileName.toString, i + 1)
        }
      }
  }

  private def show(s: Seq[(String, Int)]): String =
    s.map { case (f, l) => s"$f:$l" }.mkString(", ")

  test("no TrieMap cache in operators/, sources/ or streaming/") {
    val found = sites("TrieMap")
    assert(found.isEmpty, show(found))
  }

  for (token <- Seq("getCanonicalPath", "MessageDigest")) {
    test(s"$token appears only in the dataset-key module") {
      val all = sites(token)
      val outside = all.filterNot(_._1 == KeyModule)
      assert(outside.isEmpty, show(outside))
      assert(all.count(_._1 == KeyModule) == 1)
    }
  }
}
