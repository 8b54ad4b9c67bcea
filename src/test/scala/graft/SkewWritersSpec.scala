package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew
import graft.sources.{Tables, Writers}

/** Skew utilities produce results identical to their naive forms; the
  * shard writer produces a prunable hive layout; the batch-dir compaction
  * protocol keeps rows, pruning and replay safety; the jdbc sinks
  * round-trip; AQE splits a skewed join partition.
  */
class SkewWritersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("salted join == plain join on an extreme-skew key (3 distinct values)") {
    val li = Tables.lineitem(spark, sf)
    val dim = Tables.lineitem(spark, sf)
      .select("l_returnflag").distinct()
      .withColumn("flag_code", expr("ascii(l_returnflag)"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("l_returnflag", "flag_code").count()
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val plain = canon(li.join(dim, Seq("l_returnflag")))
    val salted = canon(Skew.saltedJoin(li, dim, Seq("l_returnflag"), 8))
    assert(salted == plain && plain.nonEmpty)
  }

  // saltedJoin is the manual lever; AQE skew-join is the automatic one the
  // operator docs defer to ("otherwise prefer AQE skew-join",
  // dedup_components' label-skew residual). Prove it actually fires: a
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

  test("two-stage distinct count == countDistinct") {
    val li = Tables.lineitem(spark, sf)
    val naive = li.groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n_distinct"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val staged = Skew.twoStageDistinctCount(li, "l_returnflag", "l_partkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(staged == naive && naive.nonEmpty)
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

    val back = Writers.readShardsEvolved(spark, out)
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
      Writers.readShardsEvolved(spark, out).collect()
    }
  }

  private def parquetFilesUnder(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
  }

  /** Commit batch `i` under its own `batch_id=<i>` dirs below each lang
    * partition — dynamic overwrite, so replaying an id rewrites exactly
    * that batch: the layout the store appends write.
    */
  private def commitBatch(out: String, i: Int): Unit = {
    import spark.implicits._
    val batch = Seq(
      (i * 10L, s"alpha doc $i body", "en", "s1"),
      (i * 10L + 1, s"beta doc $i body", "en", "s2"),
      (i * 10L + 2, s"gamma doc $i body", "es", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    Writers.writeShards(batch.withColumn("batch_id", lit(i.toLong)), out,
      partitionCols = Seq("lang", "batch_id"), sortCols = Seq("doc_id"),
      mode = SaveMode.Overwrite,
      options = Map("partitionOverwriteMode" -> "dynamic"))
  }

  private def compact(out: String, lang: String,
      crashBeforeDelete: Boolean = false): Writers.CompactionStats =
    Writers.compactPartitionInternal(spark, out, s"lang=$lang",
      dropCols = Seq("lang", "batch_id"), targetFileBytes = 128L * 1024 * 1024,
      maxRecordsPerFile = 1000000L, sortCols = Seq("doc_id"), crashBeforeDelete)

  test("compaction: 20 batch dirs fold into one generation; rows and pruning kept") {
    val out = Files.createTempDirectory("compact").toString
    (0 until 20).foreach(commitBatch(out, _))
    def rows() = spark.read.parquet(out)
      .select("doc_id", "text", "lang", "source")
      .collect().map(_.toString).sorted.toSeq
    val before = rows()
    val filesBefore = parquetFilesUnder(out).size

    val statsEn = compact(out, "en")
    val statsEs = compact(out, "es")
    // the hot (highest) batch dir stays out of the merge; everything else
    // (19 dirs per lang) folds into one generation dir
    assert(statsEn.dirsCompacted == 19 && statsEs.dirsCompacted == 19)
    assert(statsEn.generation == -1L)
    assert(rows() == before, "compaction must not change the row set")
    val filesAfter = parquetFilesUnder(out).size
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    assert(new java.io.File(s"$out/lang=en/batch_id=-1").isDirectory)
    assert(new java.io.File(s"$out/lang=en/batch_id=19").isDirectory)

    // lang pruning survives: the physical scan's partition pruning (not
    // inputFiles, which reports the unpruned relation) selects only this
    // lang's dirs
    val pruned = spark.read.parquet(out).filter("lang = 'es'")
    assert(pruned.count() == 20)
    val scanned = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.toPartitionArray
          .map(_.filePath.toPath.toString).toSeq
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("lang=es")), scanned)

    // the protected hot batch replays idempotently post-compaction
    commitBatch(out, 19)
    assert(rows() == before)

    // a second compaction with no new batches is a no-op (the lone
    // generation is not re-rolled; the hot dir stays protected)
    assert(compact(out, "en").dirsCompacted == 0)

    // after one MORE batch, the old hot dir becomes compactable and folds
    // together with generation -1 into generation -2
    commitBatch(out, 20)
    val again = compact(out, "en")
    assert(again.dirsCompacted == 2 && again.generation == -2L)
    assert(spark.read.parquet(out).filter("lang = 'en'").count() == 42)
  }

  test("compaction heals a crash inside the swap window (no duplicate rows)") {
    val out = Files.createTempDirectory("compact_crash").toString
    (0 until 5).foreach(commitBatch(out, _))
    def enRows() = spark.read.parquet(out).filter("lang = 'en'")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val before = enRows()

    // crash simulation: generation -1 is published but the replaced dirs
    // were never deleted — rows exist TWICE on disk, manifest still present
    compact(out, "en", crashBeforeDelete = true)
    assert(new java.io.File(s"$out/lang=en/batch_id=-1").isDirectory)
    assert(new java.io.File(s"$out/lang=en/batch_id=0").isDirectory)
    assert(enRows() != before, "crash window should expose duplicates")

    // next regular run heals: replaced dirs deleted first, then a normal
    // compaction — the row set is exactly the original again
    val healed = compact(out, "en")
    assert(healed.partition == "lang=en")
    assert(enRows() == before)
    assert(!new java.io.File(s"$out/lang=en/batch_id=0").exists)
  }

  // The reference ships flink-connector-jdbc + postgresql jars (latent,
  // never wired). No DB server exists in this environment, so the spec
  // drives the sink against embedded Derby (on Spark's own classpath).
  private val jdbcUrl = "jdbc:derby:memory:graftjdbc;create=true"
  private def jdbcProps = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  test("jdbc sink: batch write + read-back round trip (embedded Derby)") {
    val scored = graft.operators.FraudRules
      .scoreTransactions(graft.gen.TxGen.dataset(spark, 300).toDF())
      .select(col("event_id"), col("card_id"), col("amount"), col("score"))
    Writers.writeJdbc(scored, jdbcUrl, "scored_batch", jdbcProps,
      numPartitions = 2)
    val back = spark.read.jdbc(jdbcUrl, "scored_batch", jdbcProps)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(canon(back) == canon(scored) && back.count() == 300)
  }

  test("jdbc sink: streaming foreachBatch append (embedded Derby)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    in.addData(("e1", 10.0), ("e2", 250.0), ("e3", 42.5))
    val ckpt = Files.createTempDirectory("jdbc_ckpt").toString
    val q = Writers.streamToJdbc(
      in.toDS().toDF("event_id", "amount"),
      jdbcUrl, "scored_stream", ckpt, jdbcProps, numPartitions = 1)
    q.processAllAvailable()
    q.stop()
    val back = spark.read.jdbc(jdbcUrl, "scored_stream", jdbcProps)
    assert(back.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set(("e1", 10.0), ("e2", 250.0), ("e3", 42.5)))
  }
}
