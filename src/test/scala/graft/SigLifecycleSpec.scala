package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SigStore

/** Long-horizon store lifecycle (r19, VERDICT r18 #6): the flat-remap
  * invariant and the size override are each unit-pinned, but nothing
  * drove them TOGETHER over a long absorb horizon. This drives 50
  * micro-batch absorbs (and a replay of the last) and asserts, at the
  * end: a flat remap (ran ∩ dom = ∅), label+size identity vs a
  * from-scratch build over the same corpus, and the size of the cluster
  * a mid-horizon doc bridged.
  */
class SigLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val vocab = Seq(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliett", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "one", "two", "three",
    "four", "five", "six", "seven", "eight", "nine", "ten", "eleven",
    "twelve", "thirteen", "zero")

  // the verified bridge trio from SigStoreSpec: tE is within hamming 6
  // of both tB and tC, which are NOT within 6 of each other
  private val tB = "hotel charlie kilo alpha sierra romeo zulu victor tango whiskey hotel lima"
  private val tC = "charlie charlie kilo alpha sierra romeo zulu victor tango whiskey yankee lima"
  private val tE = "hotel charlie kilo alpha sierra romeo zulu victor tango whiskey yankee lima"

  private def singleton(rng: scala.util.Random): String =
    Seq.fill(12)(vocab(rng.nextInt(vocab.size))).mkString(" ")

  private def docsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "crawl", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def served(root: String): Set[(Long, Long, Long, Boolean)] =
    SigStore.serveComponentsStored(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet

  test("50-batch absorb horizon: flat remap, identity vs from-scratch") {
    val rng = new scala.util.Random(19L)
    val root = java.nio.file.Files.createTempDirectory("cc_life").toString + "/store"

    val base = Seq(1L -> tB, 2L -> tB, 3L -> tC, 5L -> singleton(rng))
    SigStore.buildFrom(spark, root, docsOf(base))
    SigStore.buildLabels(spark, root)

    val all = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    all ++= base
    var lastBatch: Seq[(Long, String)] = Nil
    for (b <- 1 to 50) {
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      docs += ((1000L * b + 1, tB)) // touches cluster B every batch
      if (b % 3 == 0) docs += ((1000L * b + 2, tC))
      if (b == 25) docs += ((1000L * b + 3, tE)) // the mid-horizon MERGE
      for (i <- 0 until 1 + rng.nextInt(2)) // 1-2 fresh singletons
        docs += ((1000L * b + 10 + i, singleton(rng)))
      SigStore.absorbComponents(spark, root, docsOf(docs.toSeq), batchId = b.toLong)
      all ++= docs
      lastBatch = docs.toSeq
    }
    // structured-streaming recovery: the LAST batch replays verbatim
    SigStore.absorbComponents(spark, root, docsOf(lastBatch), batchId = 50L)

    // flat remap: ran ∩ dom = ∅ (one hop resolves any label); the
    // mid-horizon merge guarantees the remap is non-empty
    val remap = spark.read.parquet(s"$root/label_remap.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dom = remap.map(_._1).toSet
    val ran = remap.map(_._2).toSet
    assert(remap.nonEmpty && (dom & ran).isEmpty, s"remap not flat: ${dom & ran}")

    // label identity + size identity vs a from-scratch build over the
    // identical corpus — the maintained store IS the one-shot clustering
    val fresh = java.nio.file.Files.createTempDirectory("cc_life_ref").toString + "/store"
    SigStore.buildFrom(spark, fresh, docsOf(all.toSeq))
    SigStore.buildLabels(spark, fresh)
    val maintained = served(root)
    val oneShot = served(fresh)
    assert(maintained == oneShot,
      s"maintained store diverged from from-scratch clustering:\n" +
        s"only-maintained: ${maintained -- oneShot}\nonly-fresh: ${oneShot -- maintained}")
    // the mid-horizon merge actually happened: B and C families share a
    // label with everyone's size = |B family| + |C family| + bridge
    val bSize = maintained.find(_._1 == 1L).get._3
    assert(bSize == all.count(d => d._2 == tB || d._2 == tC || d._2 == tE),
      s"bridged mega-cluster size wrong: $bSize")
  }
}
