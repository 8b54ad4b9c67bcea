package graft.gen

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a fixture's `documents`/`embeddings` tables:
  * `replicas` copies of each table, every byte a pure function of the ids
  * (no Random, no time), so an sf1 (10 replicas of sf0.1) or sf10 (100
  * replicas) directory is the same on every machine.
  *
  * Replica 0 is the input, row for row. Replica r > 0 shifts every id by
  * `r × rowCount` and rewrites about half of each document's words via a
  * hash of (word, r), so replicas are NOT near-dups of their original
  * (Jaccard « 0.1) while each replica keeps the planted near-dup pairs
  * (the same rewrite hits both members of a pair). Duplicate DENSITY
  * therefore stays at the base fixture's level while the corpus grows —
  * pair volume scales about linearly like a real crawl, not
  * quadratically like naive replication. Embedding replicas add small
  * deterministic per-component noise, preserving cluster geometry.
  *
  * `sbt "runMain graft.gen.ScaleFixture <baseDir> <outDir> <replicas>"`;
  * the output directory feeds `graft.TieProbe` and any query run against
  * an sf ≥ 1 corpus.
  */
object ScaleFixture {

  def generate(spark: SparkSession, base: String, outDir: String,
      replicas: Int): Unit = {
    require(replicas >= 1, s"replicas must be >= 1, got $replicas")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val nDocs = docs.count()
    val nVecs = emb.count()
    val reps = broadcast(spark.range(replicas).select(col("id").as("r")))
    val copy = col("r") === 0

    docs.crossJoin(reps)
      .withColumn("text", when(copy, col("text")).otherwise(expr(
        """array_join(transform(split(text, ' '),
          |  w -> CASE WHEN pmod(xxhash64(concat(w, ':', r)), 2) = 0
          |            THEN w ELSE concat(w, '_', r) END), ' ')""".stripMargin)))
      .withColumn("n_chars", when(copy, col("n_chars"))
        .otherwise(length(col("text")).cast(docs.schema("n_chars").dataType)))
      .withColumn("doc_id", col("doc_id") + col("r") * lit(nDocs))
      .select(docs.columns.map(col): _*)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    emb.crossJoin(reps)
      .withColumn("embedding", when(copy, col("embedding")).otherwise(expr(
        """transform(embedding, (x, i) ->
          |  cast(x + (pmod(xxhash64(vec_id * 64 + i + r * 131), 1000) - 500)
          |           / 100000.0 as float))""".stripMargin)))
      .withColumn("vec_id", col("vec_id") + col("r") * lit(nVecs))
      .select(emb.columns.map(col): _*)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleFixture <baseDir> <outDir> <replicas>")
    val spark = graft.Session.local()
    try generate(spark, args(0), args(1), args(2).toInt)
    finally spark.stop()
  }
}
