package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextOps}

/** Physical-plan checks that the 100 TB contract holds at the scan: a
  * parquet read that drags unreferenced columns (the 500-char text
  * payload, the embedding arrays) through a 2-column pipeline is wrong
  * regardless of wall time at test scale. Asserts the `ReadSchema` of
  * every parquet scan in representative queries is a subset of the
  * columns the operator actually consumes.
  */
class PlanPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def scanSchemas(df: org.apache.spark.sql.DataFrame): List[Set[String]] = {
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(s).map(_.group(1)).toList
      .map(_.split(",").map(_.split(":")(0).trim).filter(_.nonEmpty).toSet)
  }

  private def readSchemas(df: org.apache.spark.sql.DataFrame): List[Set[String]] = {
    val schemas = scanSchemas(df)
    assert(schemas.nonEmpty, "no parquet scan found in plan")
    schemas
  }

  test("text_tokens scans documents with only (doc_id, text)") {
    readSchemas(TextOps.queries("text_tokens")(spark, sf))
      .foreach(cols => assert(cols.subsetOf(Set("doc_id", "text")), cols))
  }

  test("text_entropy scans documents with only (doc_id, text)") {
    readSchemas(TextOps.queries("text_entropy")(spark, sf))
      .foreach(cols => assert(cols.subsetOf(Set("doc_id", "text")), cols))
  }

  // dedup_substring / the pair queries localCheckpoint their narrow scan
  // (the checkpoint's own plan prunes, but it executes eagerly and leaves
  // no scan in the final df) — assert the un-checkpointed signature query
  test("dedup_minhash_sig scans documents with only (doc_id, text)") {
    readSchemas(Dedup.queries("dedup_minhash_sig")(spark, sf))
      .foreach(cols => assert(cols.subsetOf(Set("doc_id", "text")), cols))
  }

  // dedup_exact checkpoints its narrow (doc_id, text_hash) frame (r18:
  // one scan+hash feeding both the stats aggregate and the probe side),
  // which erases the scan from the final plan — assert the ReadSchema of
  // the exact frame the checkpoint executes
  test("dedup_exact never reads lang/source/n_chars") {
    readSchemas(Dedup.exactHashed(spark, sf))
      .foreach(cols => assert(cols.subsetOf(Set("doc_id", "text")), cols))
  }

  // the helper assert above can't see a future exactDedup edit that joins
  // extra document columns AFTER the hashed frame (ADVICE r18): assert
  // the SERVED query's plan too — every scan left in it (none while the
  // hashed frame is checkpointed) reads only (doc_id, text)
  test("dedup_exact served plan never reads lang/source/n_chars") {
    scanSchemas(Dedup.queries("dedup_exact")(spark, sf))
      .foreach(cols => assert(cols.subsetOf(Set("doc_id", "text")), cols))
  }

  // decontam_bloom builds its filter by hand; Spark can also INJECT one —
  // a bloom filter built from the selective build side, pushed onto the
  // probe side's scan so most rows die before the shuffle. The default
  // 10 GB probe-side threshold exists precisely because this only pays at
  // scale; the test lowers it to prove the optimizer path works.
  test("runtime bloom filter is injected on the probe side of a selective join") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = graft.sources.Tables.lineitem(spark, sf)
      val ord = graft.sources.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected runtime bloom filter:\n$optimized")
      // and it must not change the answer
      val expect = li.join(ord.hint("broadcast"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(j.collect().map(r => (r.getString(0), r.getLong(1))).toSet == expect
        && expect.nonEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
