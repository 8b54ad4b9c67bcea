package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Tables, Writers}

/** AQE splits a skewed join partition; the shard writer produces a
  * prunable hive layout; an add-only schema evolution merges on read.
  */
class SkewWritersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  // AQE skew-join is the skew lever the operators rely on
  // (dedup_components' label-skew residual). Prove it actually fires: a
  // 95%-one-key join, thresholds scaled to test data, and the FINAL
  // adaptive plan must show the skewed partition was split (skew=true).
  test("AQE splits the skewed partition of a sort-merge join (skew=true)") {
    import spark.implicits._
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 95% of the left shares key 7; every row matches exactly one dim row
      val left = spark.range(120000).select(
        when($"id" % 20 === 0, pmod($"id", lit(97L))).otherwise(lit(7L)).as("k"),
        concat(lit("payload-"), $"id").as("payload"))
      val right = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = left.join(right, "k")
      assert(joined.collect().length == 120000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the hot partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("shard writer: hive layout, pruned read matches, shard size capped") {
    val out = Files.createTempDirectory("shards").toString
    val orders = Tables.orders(spark, sf)
    Writers.writeShards(orders, out, Seq("o_orderpriority"),
      Seq("o_orderdate"), maxRecordsPerFile = 200L)
    val back = spark.read.parquet(out)
    assert(back.count() == orders.count())
    // partition pruning: a filter on the partition col reads one directory
    val one = back.filter(col("o_orderpriority") === "1-URGENT")
    assert(one.count() ==
      orders.filter(col("o_orderpriority") === "1-URGENT").count())
    val files = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(files.nonEmpty && files.forall(_.getName.startsWith("o_orderpriority=")))
  }

  test("schema evolution: add-only columns merge, old rows null, pruning intact") {
    import spark.implicits._
    val out = Files.createTempDirectory("evolve").toString + "/shards"
    // epoch 1: (doc_id, lang, score) — no quality column yet
    Seq((1L, "en", 0.5), (2L, "de", 0.7))
      .toDF("doc_id", "lang", "score")
      .write.partitionBy("lang").parquet(out)
    // epoch 2: the pipeline starts emitting a quality column
    Seq((3L, "en", 0.9, 0.88), (4L, "fr", 0.2, 0.11))
      .toDF("doc_id", "lang", "score", "quality")
      .write.mode("append").partitionBy("lang").parquet(out)

    def evolved() = spark.read.option("mergeSchema", "true").parquet(out)
    val back = evolved()
    assert(back.columns.toSet == Set("doc_id", "lang", "score", "quality"))
    val rows = back.select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(0.88), 4L -> Some(0.11)))

    // partition pruning still directory-driven after the merge
    val en = back.filter(col("lang") === "en")
    assert(en.count() == 2)
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang filter should prune directories:\n$plan")

    // the add-only contract: a RETYPED column fails loudly, not coerced
    Seq((5L, "en", "not-a-double", 0.5))
      .toDF("doc_id", "lang", "score", "quality")
      .write.mode("append").partitionBy("lang").parquet(out)
    intercept[Throwable] {
      evolved().collect()
    }
  }
}
