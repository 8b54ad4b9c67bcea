package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IncrementalStats

/** The incremental-view-maintenance contract: merging partials batch by
  * batch equals the one-pass recompute, the serving plan never
  * re-aggregates the base corpus, and a torn state publish recovers.
  */
class IncrementalStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf0001

  private def docs(rows: (Long, String, String, String, Long)*) =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  private def finalized(df: org.apache.spark.sql.DataFrame): Set[String] =
    IncrementalStats.finalizeStats(df).collect().map(_.toString).toSet

  test("mergePartials, either order, == one-pass partials over the union") {
    val base = docs(
      (1L, "the quick brown fox jumps over the lazy dog today", "en", "s1", 49L),
      (2L, "ein kleiner text mit ein paar worten drin heute", "de", "s1", 47L))
    val d1 = docs(
      (3L, "another english document with some more words in it", "en", "s2", 51L))
    val d2 = docs(
      (4L, "yet another english text that arrives much later on", "en", "s3", 51L),
      (5L, "noch ein deutscher text der viel spaeter ankommt hier", "de", "s3", 53L))
    val Seq(pb, p1, p2) = Seq(base, d1, d2).map(IncrementalStats.partials)
    val onePass = finalized(IncrementalStats.partials(
      base.unionByName(d1).unionByName(d2)))
    import IncrementalStats.mergePartials
    for (merged <- Seq(mergePartials(mergePartials(pb, p1), p2),
        mergePartials(p2, mergePartials(p1, pb)))) {
      assert(finalized(merged) == onePass)
      // extrema and counts really folded across batches
      val en = merged.filter(col("lang") === "en").head()
      assert(en.getAs[Long]("n_docs") == 3L)
      assert(en.getAs[Long]("min_chars") == 49L && en.getAs[Long]("max_chars") == 51L)
    }
  }

  test("serving plan reads state + delta only — exactly one documents scan") {
    StoreFixtures.deleteIncrementalState(spark, sf)
    IncrementalStats.ensureBuilt(spark, sf)
    val plan = IncrementalStats.serveIncremental(spark, sf)
      .queryExecution.executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    val stateScans = "state\\.parquet".r.findAllIn(plan).size
    assert(docScans == 1, s"base must not be re-aggregated:\n$plan")
    assert(stateScans == 1, s"state must come from the store:\n$plan")
  }

  test("incremental mixture serves from state + delta — exactly one documents scan") {
    StoreFixtures.deleteIncrementalState(spark, sf)
    IncrementalStats.ensureBuilt(spark, sf)
    val df = IncrementalStats.queries("corpus_mixture_incremental")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"base must not be re-counted for the mixture:\n$plan")
    // output equals the full-scan mixture bit-for-bit
    val full = graft.operators.SamplingOps.queries("corpus_mixture")(spark, sf)
      .collect().map(_.toString).toSet
    assert(df.collect().map(_.toString).toSet == full)
  }

  test("a torn publish (no _STATE_READY) is rebuilt, not served") {
    val root = IncrementalStats.stateRoot(spark, sf)
    StoreFixtures.deleteIncrementalState(spark, sf)
    // torn state: dir exists, marker missing
    new java.io.File(root).mkdirs()
    IncrementalStats.ensureBuilt(spark, sf)
    assert(new java.io.File(root, "_STATE_READY").exists())
    assert(IncrementalStats.readState(spark, root).count() > 0)
  }
}
