package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BmStore, Retrieval}

/** Online BM25 serving from the persisted postings store must agree
  * exactly with the batch ranker: a corpus-member query doc streamed as
  * query text, frozen per micro-batch with `StoreFixtures.frozenStatsForQueries`
  * and answered by `BmStore.serveDisplay`, returns its text_bm25_topk
  * rows bit-for-bit, and an out-of-vocabulary query returns nothing
  * (unknown terms score nothing).
  */
class BmServeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  /** Serve a stream of (query_id, text) requests from the store at `root`;
    * each non-empty micro-batch's answer goes to `sink`.
    */
  private def serve(in: MemoryStream[(Long, String)], root: String)(
      sink: DataFrame => Unit) =
    StreamDrive.foreachBatch(in.toDS()) { (batch, _) =>
      val qs = batch.collect().map { case (id, t) => (id, t.split(" ", -1).toSeq) }.toSeq
      if (qs.nonEmpty) {
        val frozen = StoreFixtures.frozenStatsForQueries(spark, root, qs)
        sink(BmStore.serveDisplay(spark, root, frozen, Retrieval.BmTopK))
      }
    }

  test("streamed corpus-member queries == batch text_bm25_topk rows") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = BmStore.ensureFullBuilt(spark, sf)
    // serve a subset of the standing query docs (ids 25, 100, 250) by
    // replaying their TEXT as serving requests
    val qids = Seq(25L, 100L, 250L)
    val reqs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id").isin(qids: _*))
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(reqs.size == qids.size)

    val answers = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val in = MemoryStream[(Long, String)]
    in.addData(reqs)
    val q = serve(in, root)(df =>
      answers.synchronized { answers ++= df.collect().map(_.toSeq) })
    try q.processAllAvailable() finally q.stop()

    val want = Retrieval.queries("text_bm25_topk")(spark, sf)
      .filter(col("query_id").isin(qids: _*))
      .collect().map(_.toSeq)
    assert(want.nonEmpty)
    assert(answers.sortBy(_.toString).toSeq === want.sortBy(_.toString).toSeq)
  }

  test("out-of-vocabulary queries answer empty; the serve plan reads no documents") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = BmStore.ensureFullBuilt(spark, sf)
    var rows = -1L
    var scans: Seq[String] = Seq("unset")
    val in = MemoryStream[(Long, String)]
    in.addData(Seq(900001L -> "zzzunknown qqqterms onlyhere"))
    val q = serve(in, root) { df =>
      rows = df.count()
      scans = TestSpark.executedScans(df)
        .map(_.relation.location.rootPaths.mkString(","))
    }
    try q.processAllAvailable() finally q.stop()
    assert(rows === 0L)
    // all frozen terms dropped -> the serve short-circuits before any scan
    // OR scans only store files; either way documents is never read
    assert(scans.forall(!_.contains("documents.parquet")))
  }
}
