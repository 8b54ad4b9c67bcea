package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables.parquet` infers a parquet file version's schema once: a repeat
  * read runs no Spark job, keeps the plain read's plan, and a rewrite, a
  * different inference conf or eviction makes it infer again.
  */
class TablesReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  /** `body`'s result and the Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBusDrain.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def tmpTable(): String =
    Files.createTempDirectory("tables_reader").resolve("t.parquet").toString

  // expression ids differ between two reads of the same path
  private def planText(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#")

  test("a second frame over the same table runs no Spark job and keeps the plain read's plan") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    Tables(spark, sf, "documents")
    val (docs, jobs) = jobsDuring(Tables(spark, sf, "documents"))
    assert(jobs == 0)
    val plain = spark.read.parquet(Tables.path(sf, "documents"))
    assert(docs.schema == plain.schema)
    def q(df: org.apache.spark.sql.DataFrame) =
      df.filter(org.apache.spark.sql.functions.col("doc_id") > 5).select("doc_id", "lang")
    assert(planText(q(docs)) == planText(q(plain)))
    assert(q(docs).collect().toSeq == q(plain).collect().toSeq)
  }

  test("a path rewritten with a different schema reads its new schema") {
    val p = tmpTable()
    spark.range(3).toDF("a").write.parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq == Seq("a"))
    assert(jobsDuring(Tables.parquet(spark, p))._2 == 0)
    spark.range(3).selectExpr("id AS b", "CAST(id AS STRING) AS c")
      .write.mode("overwrite").parquet(p)
    val (df, jobs) = jobsDuring(Tables.parquet(spark, p))
    assert(jobs == 1)
    assert(df.columns.toSeq == Seq("b", "c"))
    assert(df.orderBy("b").collect().map(_.getString(1)).toSeq == Seq("0", "1", "2"))
  }

  test("each nanosAsLong setting keeps its own cache entry") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    val p = tmpTable()
    spark.range(2).toDF("a").write.parquet(p)
    def inferJobs(v: String): Int = {
      spark.conf.set(key, v)
      jobsDuring(Tables.parquet(spark, p))._2
    }
    try {
      assert(inferJobs("true") == 1)
      assert(inferJobs("true") == 0)
      assert(inferJobs("false") == 1)
      assert(inferJobs("false") == 0)
      assert(inferJobs("true") == 0)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("the cache evicts its least recently used schema past its bound") {
    val cache = new JvmCache[Tables.SchemaKey, org.apache.spark.sql.types.StructType](2)
    def read(p: String) = Tables.parquetVia(cache, spark, p)
    val paths = Seq.fill(3)(tmpTable())
    paths.zipWithIndex.foreach { case (p, i) => spark.range(i + 1).toDF("a").write.parquet(p) }
    paths.foreach(read)
    assert(cache.size == 2)
    assert(jobsDuring(read(paths(2)))._2 == 0)
    assert(jobsDuring(read(paths(0)))._2 == 1)
    assert(cache.size == 2)
    // paths(1) was the least recently used when paths(0) came back
    assert(jobsDuring(read(paths(2)))._2 == 0)
    assert(jobsDuring(read(paths(1)))._2 == 1)
  }
}
