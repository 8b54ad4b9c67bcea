package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnnIndexIO

/** Persisted IVF×PQ index: build-once / serve-many correctness, the
  * zero-corpus-pass serving plan, static partition pruning on the
  * cell-partitioned code table, and idempotent incremental append.
  */
class AnnIndexIOSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))

  test("served top-k from the on-disk index equals the in-memory ivfpq pipeline") {
    AnnIndexIO.deleteIndex(spark, sf)
    JvmCache.clearAll()
    val expect = SparkEntry.queries("ann_ivfpq_topk")(spark, sf).collect().map(key).toSet
    // simulate a fresh serving JVM: in-memory train cache gone, index on disk
    JvmCache.clearAll()
    val got = SparkEntry.queries("ann_ivfpq_served_topk")(spark, sf).collect().map(key).toSet
    assert(got == expect)
    // sf0.001 carries 10 of the 50 fixed query ids; 5 ranks each
    assert(got.size == 50)
  }

  test("serving plan touches the source table only for the O(K) query side") {
    val root = AnnIndexIO.ensureFullBuilt(spark, sf)
    val df = SparkEntry.queries("ann_ivfpq_served_topk")(spark, sf)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // corpus flows from the persisted code table, not the source parquet
    assert(plan.contains("codes.parquet"), plan)
    assert(plan.contains(root.stripPrefix("/")), plan)
    // every scan of the source table is the O(K) query side: each carries
    // the vec_id IN (…) pushdown (never a full corpus read)
    val scanBlocks = "(?s)Scan parquet.*?ReadSchema".r.findAllIn(plan).toList
    val embBlocks = scanBlocks.filter(_.contains("embeddings.parquet"))
    assert(embBlocks.nonEmpty, plan)
    assert(embBlocks.forall(_.contains("In(vec_id")), plan)
  }

  test("single-query routing statically prunes the code table to nprobe cells") {
    val root = AnnIndexIO.ensureFullBuilt(spark, sf)
    val q = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>").as("emb"))
      .head().getSeq[Double](0).toArray
    val routed = AnnIndexIO.routeOne(spark, root, q, 2)
    val rows = routed.collect()
    assert(rows.length == 5)
    val scan = routed.queryExecution.executedPlan.collectFirst {
      case sc: FileSourceScanExec
        if sc.relation.location.rootPaths.exists(_.toString.contains("codes.parquet")) => sc
    }.get
    // 8 cells on disk; the literal IN filter leaves exactly 2 partitions
    val partitions = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters)
    assert(partitions.length == 2,
      s"expected nprobe=2 pruned partitions, got ${partitions.length}")
    // routed results really live in the probed cells
    val (cents, _) = AnnIndexIO.readModel(spark, root)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probed = cents.indices.sortBy(i => (-cos(q, cents(i)), -i)).take(2).toSet
    val cellOf = spark.read.parquet(s"$root/codes.parquet")
      .select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => probed.contains(cellOf(r.getLong(0)))))
  }

  test("incremental append is idempotent and leaves base codes untouched") {
    AnnIndexIO.deleteIndex(spark, sf)
    val root = AnnIndexIO.ensureIncrBuilt(spark, sf)
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def codeFiles = {
      val it = fsys.listFiles(new org.apache.hadoop.fs.Path(root, "codes.parquet"), true)
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          b += ((st.getPath.toString, st.getModificationTime))
      }
      b.result().toSet
    }
    val after1 = codeFiles
    // a replayed build/append must be a no-op
    val root2 = AnnIndexIO.ensureIncrBuilt(spark, sf)
    assert(root2 == root)
    assert(codeFiles == after1, "replay must not rewrite or duplicate code files")

    val codes = spark.read.parquet(s"$root/codes.parquet")
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(codes.count() == total, "base + delta covers the whole corpus once")
    assert(codes.select("vec_id").distinct().count() == total)

    val res = SparkEntry.queries("ann_ivfpq_incremental")(spark, sf).collect()
    val nq = res.map(_.getLong(0)).distinct.length
    assert(nq == 10) // query ids present at sf0.001
    assert(res.length == nq * 5)
    assert(res.map(r => r.getLong(0) -> r.getInt(1)).distinct.length == res.length)
  }

  test("streamed ANN serving equals the batch answer (stream==batch)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = AnnIndexIO.ensureFullBuilt(spark, sf)
    // three corpus-member query vectors -> streamed answers must equal the
    // ann_ivfpq_topk rows for those query ids
    val qids = Seq(0L, 50L, 100L)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val in = MemoryStream[(Long, Array[Double])]
    in.addData(qids.map(id => id -> vecs(id)))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val q = StreamDrive.foreachBatch(in.toDS()) { (batch, _) =>
      val qs = batch.collect().toSeq
      if (qs.nonEmpty) got ++= AnnIndexIO.serveVectors(spark, root, qs).collect().map(key)
    }
    try q.processAllAvailable() finally q.stop()
    val expect = SparkEntry.queries("ann_ivfpq_topk")(spark, sf)
      .filter(col("query_id").isin(qids: _*)).collect().map(key)
    assert(got.toSet == expect.toSet)
    assert(got.size == qids.size * 5)
    assert(got.map(_._1).toSet == qids.toSet, "every streamed query is answered")
  }

  test("stream-maintained index equals the batch incremental build") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    AnnIndexIO.deleteIndex(spark, sf)
    // batch reference: base build + delta appended in one batch
    val incrRoot = AnnIndexIO.ensureIncrBuilt(spark, sf)
    val expect = AnnIndexIO.serveAll(spark, sf, incrRoot).collect().map(key).toSet

    // stream variant: same base build, delta arrives as two micro-batches,
    // each appended under its own micro-batch id
    val streamRoot = AnnIndexIO.ensureBaseBuilt(spark, sf, "stream")
    val delta = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % AnnIndexIO.DeltaMod === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val (d1, d2) = delta.partition(_._1 % 2 == 0)
    val in = MemoryStream[(Long, Array[Double])]
    val cp = java.nio.file.Files.createTempDirectory("ann_maintain_cp").toString
    in.addData(d1.toSeq)
    val q = StreamDrive.foreachBatch(in.toDS(), Some(cp)) { (batch, batchId) =>
      AnnIndexIO.appendBatch(spark, streamRoot, batch.toDF("vec_id", "emb"), batchId)
    }
    try {
      q.processAllAvailable()
      in.addData(d2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // a replayed micro-batch id must rewrite its own dirs, not duplicate
    AnnIndexIO.appendBatch(spark, streamRoot, d2.toSeq.toDF("vec_id", "emb"), 1L)
    val codes = spark.read.parquet(s"$streamRoot/codes.parquet")
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(codes.count() == total)
    assert(codes.select("vec_id").distinct().count() == total)
    // base bulk build (batch_id=-1) + 2 streamed batches
    assert(codes.select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.sameElements(Array(-1L, 0L, 1L)))

    val got = AnnIndexIO.serveAll(spark, sf, streamRoot).collect().map(key).toSet
    assert(got == expect)
  }
}
