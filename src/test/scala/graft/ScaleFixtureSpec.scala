package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.ScaleFixture

/** The sf1/sf10 expander: `replicas` copies of documents and embeddings
  * with disjoint ids, replica 0 equal to the input, and the same output
  * on every run.
  */
class ScaleFixtureSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** A tiny documents/embeddings pair with the fixture schema. */
  private lazy val base: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scale_base").toString
    val texts = Seq("the quick brown fox", "the quick brown fox jumps",
      "lorem ipsum dolor sit amet", "ein kleiner test", "a b c d e f")
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, if (i == 3) "de" else "en", s"src$i", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (0 until 4)
      .map(i => (i.toLong, Array.tabulate(8)(j => (i * 0.5 + j * 0.125).toFloat), i % 2))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def rows(dir: String, table: String, id: String): Seq[Row] =
    spark.read.parquet(s"$dir/$table.parquet").orderBy(id).collect().toSeq

  private def expand(): String = {
    val out = java.nio.file.Files.createTempDirectory("scale_out").toString
    ScaleFixture.generate(spark, base, out, 3)
    out
  }

  test("three replicas: 3x rows, unique ids, replica 0 is the input, deterministic") {
    val a = expand()
    val b = expand()
    for ((table, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val in = spark.read.parquet(s"$base/$table.parquet")
      val out = spark.read.parquet(s"$a/$table.parquet")
      assert(out.schema.simpleString == in.schema.simpleString, table)
      val inRows = rows(base, table, id)
      val outRows = rows(a, table, id)
      assert(outRows.size == 3 * inRows.size, table)
      assert(outRows.map(_.getAs[Long](id)).distinct.size == outRows.size, table)
      // ids shift by r × rowCount, so replica 0 is the first block
      assert(outRows.take(inRows.size) == inRows, table)
      assert(rows(b, table, id) == outRows, table)
    }
    // later replicas rewrite text, so n_chars follows the new text
    spark.read.parquet(s"$a/documents.parquet").collect().foreach { r =>
      assert(r.getAs[Long]("n_chars") == r.getAs[String]("text").length)
    }
  }
}
