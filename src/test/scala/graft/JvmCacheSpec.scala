package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dsir
import graft.sources.Datasets

/** The one per-JVM cache and the one dataset key every model cache and
  * store root resolves through.
  */
class JvmCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("evicts at its bound, least recently used first") {
    val c = new JvmCache[String, Int](2)
    c.put("a", 1)
    c.put("b", 2)
    assert(c.get("a").contains(1)) // b is now the least recently used
    c.put("c", 3)
    assert(c.size == 2)
    assert(c.get("b").isEmpty)
    assert(c.get("a").contains(1) && c.get("c").contains(3))
    c.getOrElseUpdate("d")(4) // evicts a, touched before c
    assert(c.get("a").isEmpty && c.get("c").contains(3) && c.get("d").contains(4))
  }

  test("a nested getOrBuild inside a build completes; the first value stored wins") {
    val c = new JvmCache[String, Int]
    assert(c.getOrElseUpdate("outer")(c.getOrElseUpdate("inner")(1) + 1) == 2)
    assert(c.get("inner").contains(1) && c.get("outer").contains(2))
    // a build that stores its own key first keeps that value
    assert(c.getOrElseUpdate("k") { c.put("k", 7); 8 } == 7)
    assert(c.get("k").contains(7))
  }

  test("another key is served while a slow build runs: the lock is not held across build") {
    val c = new JvmCache[String, Int]
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val slow = Future(c.getOrElseUpdate("slow") {
      started.countDown()
      release.await(30, TimeUnit.SECONDS)
      1
    })
    try {
      assert(started.await(30, TimeUnit.SECONDS), "slow build never started")
      val fast = Future(c.getOrElseUpdate("fast")(2))
      assert(Await.result(fast, 10.seconds) == 2)
      assert(!slow.isCompleted)
    } finally release.countDown()
    assert(Await.result(slow, 30.seconds) == 1)
  }

  test("each miss records its cold-build tag exactly once; hits and untagged builds record none") {
    val c = new JvmCache[String, Int]
    val tag = "jvm_cache_spec_build"
    val m = ColdBuilds.mark()
    c.getOrBuild("a", tag)(1)
    c.getOrBuild("a", tag)(1)
    c.getOrBuild("b", tag)(2)
    c.getOrElseUpdate("c")(3)
    assert(ColdBuilds.since(m).filter(_.startsWith("jvm_cache_spec")) == Seq(tag, tag))
  }

  test("clearAll empties every cache") {
    val a = new JvmCache[String, Int]
    val b = new JvmCache[Int, String]
    a.put("x", 1)
    b.put(1, "x")
    JvmCache.clearAll()
    assert(a.size == 0 && b.size == 0)
  }

  test("one key for the absolute, file: and relative spellings of a dir; remote URIs stay qualified") {
    val dir = java.nio.file.Files.createTempDirectory("jvmcache_ds").toFile
    try {
      val abs = dir.getCanonicalPath
      val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(dir.toPath).toString
      val keys = Seq(abs, s"file:$abs", s"file://$abs", rel, abs + "/")
        .map(Datasets.key(spark, _, "documents"))
      assert(keys.distinct.size == 1, keys.mkString(", "))
      assert(keys.head.startsWith(abs + "@"))
    } finally dir.delete(): Unit
    // no FileSystem is touched for a remote dir's canonical spelling
    assert(Datasets.canonical("hdfs://nn/x") == "hdfs://nn/x")
    assert(Datasets.canonical("hdfs://nn/x/") == "hdfs://nn/x")
    assert(Datasets.canonical("s3a://bucket/a/sf") == "s3a://bucket/a/sf")
  }

  test("two spellings of one dataset dir build the dsir model once") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val abs = new java.io.File(TestSpark.sf0001).getCanonicalPath
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(abs)).toString
    JvmCache.clearAll()
    val m = ColdBuilds.mark()
    val viaAbs = Dsir.queries("dsir_logratio")(spark, abs).collect().toSeq
    val viaRel = Dsir.queries("dsir_logratio")(spark, rel).collect().toSeq
    val cold = ColdBuilds.since(m)
    assert(cold.count(_ == "dsir_model") == 1, s"cold builds: $cold")
    assert(viaAbs == viaRel)
  }
}
