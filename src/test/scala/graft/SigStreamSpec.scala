package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.SigStore

/** One newly ingested base document. */
final case class DocInsert(doc_id: Long, text: String)

/** Stream-grown signature store ≡ one-shot build over the same corpus,
  * and a replayed append is a no-op on the served answers. The stream
  * commits each micro-batch with `StoreFixtures.appendSigBatch` (or
  * `absorbComponents`) under its micro-batch id.
  */
class SigStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def maintain(docs: Dataset[DocInsert], root: String,
      checkpointDir: String, trigger: Trigger,
      components: Boolean = false): StreamingQuery =
    StreamDrive.foreachBatch(docs, Some(checkpointDir), trigger) { (batch, batchId) =>
      if (components) SigStore.absorbComponents(spark, root, batch.toDF(), batchId)
      else StoreFixtures.appendSigBatch(spark, root, batch.toDF(), batchId)
    }

  // deterministic doc text: dup pairs share a body, novel docs are unique
  private def docText(i: Long, dupOf: Option[Long]): String = {
    val seed = dupOf.getOrElse(i)
    (0 until 16).map(k => s"w${seed}t$k").mkString(" ")
  }

  test("streamed growth == one-shot build; replayed append changes nothing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val baseA = (0L until 30L).map(i => DocInsert(i, docText(i, None)))
    val lateB = (30L until 60L).map(i =>
      DocInsert(i, docText(i, if (i % 3 == 0) Some(i - 30) else None)))
    val delta = (100L until 120L).map(i =>
      DocInsert(i, docText(i, if (i % 2 == 0) Some(i - 70) else None)))
    val deltaDf = spark.createDataset(delta).toDF()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3))).toSet

    // streamed: base A published, late B arrives as two micro-batches
    val grownRoot = Files.createTempDirectory("sig_grown").toString + "/store"
    SigStore.buildFrom(spark, grownRoot, spark.createDataset(baseA).toDF())
    val ms = MemoryStream[DocInsert]
    val ckpt = Files.createTempDirectory("sig_ckpt").toString
    val q = maintain(ms.toDS(), grownRoot, ckpt, Trigger.ProcessingTime(0))
    try {
      ms.addData(lateB.take(15)); q.processAllAvailable()
      ms.addData(lateB.drop(15)); q.processAllAvailable()
    } finally q.stop()
    val streamed = canon(SigStore.serveAgainst(spark, grownRoot, deltaDf))

    // one-shot: the same corpus built in a single pass
    val oneShotRoot = Files.createTempDirectory("sig_oneshot").toString + "/store"
    SigStore.buildFrom(spark, oneShotRoot,
      spark.createDataset(baseA ++ lateB).toDF())
    val oneShot = canon(SigStore.serveAgainst(spark, oneShotRoot, deltaDf))

    assert(streamed == oneShot && streamed.nonEmpty)
    assert(streamed.exists(!_._4) && streamed.exists(_._4),
      "the constructed delta has both dups and novel docs")

    // replay: same data, fresh checkpoint → same batch ids → dynamic
    // overwrite rewrites exactly the same dirs; answers unchanged
    val ms2 = MemoryStream[DocInsert]
    val ckpt2 = Files.createTempDirectory("sig_ckpt2").toString
    val q2 = maintain(ms2.toDS(), grownRoot, ckpt2, Trigger.ProcessingTime(0))
    try {
      ms2.addData(lateB.take(15)); q2.processAllAvailable()
      ms2.addData(lateB.drop(15)); q2.processAllAvailable()
    } finally q2.stop()
    assert(canon(SigStore.serveAgainst(spark, grownRoot, deltaDf)) == streamed)
  }

  test("streamed component absorption == one-shot clustering; replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val baseA = (0L until 30L).map(i => DocInsert(i, docText(i, None)))
    // streamed epoch: i%3==0 duplicates base doc i-30 (identical text →
    // hamming 0 → same cluster); the rest are novel singletons
    val lateB = (30L until 60L).map(i =>
      DocInsert(i, docText(i, if (i % 3 == 0) Some(i - 30) else None)))

    def canonLabels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

    val grownRoot = Files.createTempDirectory("cc_grown").toString + "/store"
    SigStore.buildFrom(spark, grownRoot, spark.createDataset(baseA).toDF())
    SigStore.buildLabels(spark, grownRoot)
    val ms = MemoryStream[DocInsert]
    val ckpt = Files.createTempDirectory("cc_ckpt").toString
    val q = maintain(ms.toDS(), grownRoot, ckpt, Trigger.ProcessingTime(0),
      components = true)
    try {
      ms.addData(lateB.take(15)); q.processAllAvailable()
      ms.addData(lateB.drop(15)); q.processAllAvailable()
    } finally q.stop()
    val streamed = canonLabels(SigStore.serveComponentsStored(spark, grownRoot))

    // one-shot twin: single build over the full corpus, labels from scratch
    val oneShotRoot = Files.createTempDirectory("cc_oneshot").toString + "/store"
    SigStore.buildFrom(spark, oneShotRoot, spark.createDataset(baseA ++ lateB).toDF())
    SigStore.buildLabels(spark, oneShotRoot)
    val oneShot = canonLabels(SigStore.serveComponentsStored(spark, oneShotRoot))

    assert(streamed == oneShot && streamed.nonEmpty)
    assert(streamed.exists(_._3 == 2L) && streamed.exists(_._3 == 1L),
      "fixture must produce both 2-doc clusters and singletons")

    // replay with a fresh checkpoint: same batch ids, same rows — labels
    // must come out byte-identical in content
    val ms2 = MemoryStream[DocInsert]
    val ckpt2 = Files.createTempDirectory("cc_ckpt2").toString
    val q2 = maintain(ms2.toDS(), grownRoot, ckpt2, Trigger.ProcessingTime(0),
      components = true)
    try {
      ms2.addData(lateB.take(15)); q2.processAllAvailable()
      ms2.addData(lateB.drop(15)); q2.processAllAvailable()
    } finally q2.stop()
    assert(canonLabels(SigStore.serveComponentsStored(spark, grownRoot)) == streamed,
      "replayed absorption must not change the stored clustering")
  }

  test("maintain recovers from its checkpoint: restart appends only the unprocessed batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsA = (0L until 20L).map(i => DocInsert(i, docText(i, None)))
    val docsB = (20L until 40L).map(i => DocInsert(i, docText(i, None)))
    val probe = Seq(DocInsert(500L, docText(500L, Some(7L))),   // dup of A
      DocInsert(501L, docText(501L, Some(27L))),                // dup of B
      DocInsert(502L, docText(502L, None))).toDF()              // novel

    val root = Files.createTempDirectory("sig_recover").toString + "/store"
    SigStore.buildFrom(spark, root, spark.createDataset(Seq.empty[DocInsert]).toDF())
    val ckpt = Files.createTempDirectory("sig_recover_ckpt").toString
    val ms = MemoryStream[DocInsert]

    def runOnce(): Unit = {
      val q = maintain(ms.toDS(), root, ckpt, Trigger.Once())
      q.awaitTermination(120000); q.stop()
    }
    ms.addData(docsA); runOnce()  // run 1 commits batch 0, then "crashes"
    ms.addData(docsB); runOnce()  // fresh query, same checkpoint

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3))).toSet
    val served = canon(SigStore.serveAgainst(spark, root, probe))
    // both epochs visible exactly once: the A-dup and B-dup each hit 1
    assert(served == Set((500L, 1L, 0, false), (501L, 1L, 0, false),
      (502L, 0L, -1, true)), served.toString)
  }
}
