package graft

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Writers

/** Contract of the copy-on-write MERGE (sources/Writers.mergeUpsert):
  *  - delta rows replace base rows by key, inserts land, survivors stay —
  *    and partitions ABSENT from the delta are not even touched on disk
  *    (same file names + mtimes), the property that makes a small upsert
  *    O(delta) against a 100 TB base;
  *  - a crash anywhere in the publish is healed: roll FORWARD once the
  *    commit marker exists, roll BACK before it — never a half-applied
  *    merge, never lost live data.
  */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String, String, String, Long)*) =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  /** (relative file path → mtime) for every data file under dir. */
  private def fileState(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir))
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath.stripPrefix(dir) -> f.lastModified())
      .toMap
  }

  private def freshBase(): String = {
    val dir = java.nio.file.Files.createTempDirectory("upsert_base").toString
    val base = docs(
      (1L, "alpha", "en", "crawl", 5L), (2L, "beta", "en", "crawl", 4L),
      (3L, "gamma", "de", "crawl", 5L), (4L, "delta", "de", "crawl", 5L),
      (5L, "eps", "fr", "crawl", 3L))
    Writers.writeShards(base, dir, Seq("lang"), Seq("doc_id"))
    dir
  }

  test("upsert rewrites only touched partitions; updates win, survivors stay") {
    val dir = freshBase()
    val before = fileState(dir)
    // delta touches en (update id=2, insert id=10) — de and fr must not move
    val delta = docs((2L, "beta2", "en", "fix", 9L), (10L, "new", "en", "fix", 3L))
    val stats = Writers.mergeUpsert(spark, dir, delta,
      keyCols = Seq("doc_id"), partitionCol = "lang", sortCols = Seq("doc_id"))

    assert(stats == Writers.MergeStats(1, 1L, 1L, 1L))
    val got = spark.read.parquet(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "alpha", "en", "crawl", 5L), (2L, "beta2", "en", "fix", 9L),
      (10L, "new", "en", "fix", 3L), (3L, "gamma", "de", "crawl", 5L),
      (4L, "delta", "de", "crawl", 5L), (5L, "eps", "fr", "crawl", 3L)))

    val after = fileState(dir)
    val untouchedBefore = before.filter { case (p, _) => !p.contains("lang=en") }
    val untouchedAfter = after.filter { case (p, _) => !p.contains("lang=en") }
    assert(untouchedAfter == untouchedBefore,
      "untouched partitions must keep identical files and mtimes")
    assert(after.keySet.filter(_.contains("lang=en")) !=
      before.keySet.filter(_.contains("lang=en")))
    // no protocol litter
    assert(!new File(dir).listFiles().exists(_.getName.startsWith(".upsert")))
  }

  test("delta introducing a NEW partition value creates its dir") {
    val dir = freshBase()
    val delta = docs((20L, "nuevo", "es", "crawl", 5L))
    val stats = Writers.mergeUpsert(spark, dir, delta,
      keyCols = Seq("doc_id"), partitionCol = "lang")
    assert(stats.partitionsTouched == 1 && stats.inserted == 1L &&
      stats.updated == 0L)
    assert(new File(dir, "lang=es").isDirectory)
    assert(spark.read.parquet(dir).count() == 6)
  }

  test("heal rolls FORWARD a crash after the commit marker") {
    val dir = freshBase()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hand-build the exact crash state: staging complete (marker present),
    // first partition mid-swap (live already retired, staged not yet
    // published), second staged partition untouched
    val staged = docs(
      (2L, "beta2", "en", "fix", 9L), (1L, "alpha", "en", "crawl", 5L),
      (3L, "gamma2", "de", "fix", 7L), (4L, "delta", "de", "crawl", 5L))
    staged.write.mode(SaveMode.Overwrite).partitionBy("lang")
      .parquet(s"$dir/.upsert_stage")
    fs.create(new Path(s"$dir/.upsert_stage/_graft_upsert_commit"), true).close()
    assert(fs.rename(new Path(s"$dir/lang=en"),
      new Path(s"$dir/.upsert_retire_lang=en")))

    Writers.healUpserts(spark, dir)

    val got = spark.read.parquet(dir)
      .select("doc_id", "text", "source").as[(Long, String, String)]
      .collect().toSet
    assert(got == Set((1L, "alpha", "crawl"), (2L, "beta2", "fix"),
      (3L, "gamma2", "fix"), (4L, "delta", "crawl"), (5L, "eps", "crawl")))
    assert(!new File(dir).listFiles().exists(_.getName.startsWith(".upsert")))
  }

  test("heal rolls BACK a crash before the commit marker") {
    val dir = freshBase()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = spark.read.parquet(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSet
    // torn staging: partial stage dir, NO marker; plus a stray retire with
    // its live dir missing (worst pre-commit state)
    docs((2L, "halfway", "en", "fix", 9L)).write.mode(SaveMode.Overwrite)
      .partitionBy("lang").parquet(s"$dir/.upsert_stage")
    assert(fs.rename(new Path(s"$dir/lang=fr"),
      new Path(s"$dir/.upsert_retire_lang=fr")))

    Writers.healUpserts(spark, dir)

    val got = spark.read.parquet(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(got == before, "roll-back must restore the pre-merge table")
    assert(!new File(dir).listFiles().exists(_.getName.startsWith(".upsert")))
  }

  test("partition values needing hive-escaping keep their survivors") {
    // Spark's writer escapes ':' in partition dir names (lang=pt%3Abr);
    // the live-dir probe must use the same escaping or base survivors in
    // that partition are silently dropped by the merge
    val dir = java.nio.file.Files.createTempDirectory("upsert_esc").toString
    val base = docs(
      (1L, "um", "pt:br", "crawl", 2L), (2L, "dois", "pt:br", "crawl", 4L),
      (3L, "drei", "de", "crawl", 4L))
    Writers.writeShards(base, dir, Seq("lang"), Seq("doc_id"))
    assert(new File(dir).listFiles().exists(_.getName == "lang=pt%3Abr"),
      "fixture expects the writer to hive-escape the dir name")
    val delta = docs((2L, "dois2", "pt:br", "fix", 5L))
    val stats = Writers.mergeUpsert(spark, dir, delta, Seq("doc_id"), "lang")
    assert(stats == Writers.MergeStats(1, 1L, 0L, 1L))
    val got = spark.read.parquet(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "um", "pt:br", "crawl", 2L), (2L, "dois2", "pt:br", "fix", 5L),
      (3L, "drei", "de", "crawl", 4L)),
      "survivor rows in the escaped partition must not be lost")
  }

  test("a delta with duplicate keys or a null partition value is rejected") {
    val dir = freshBase()
    val dup = docs((2L, "a", "en", "fix", 1L), (2L, "b", "en", "fix", 2L))
    intercept[IllegalArgumentException] {
      Writers.mergeUpsert(spark, dir, dup, Seq("doc_id"), "lang")
    }
    val withNull = Seq((2L, "a", null.asInstanceOf[String], "fix", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    intercept[IllegalArgumentException] {
      Writers.mergeUpsert(spark, dir, withNull, Seq("doc_id"), "lang")
    }
    // the rejected merges must not have touched the live layout
    assert(spark.read.parquet(dir).count() == 5)
  }

  test("q_merge_upsert builds its base layout once per dataset digest") {
    val sf = TestSpark.sf0001
    val root = graft.operators.Upsert.layoutRoot(spark, sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    val q = graft.operators.Upsert.queries("q_merge_upsert")
    val first = q(spark, sf).collect().map(_.toString).sorted
    val baseState = fileState(s"$root/base")
    assert(baseState.nonEmpty && new File(s"$root/base/_READY").exists())
    val second = q(spark, sf).collect().map(_.toString).sorted
    assert(second.sameElements(first))
    assert(fileState(s"$root/base") == baseState,
      "second invocation must reuse the published base (same files + mtimes)")
  }

  test("a second identical upsert is a no-op rewrite (idempotent result)") {
    val dir = freshBase()
    val delta = docs((2L, "beta2", "en", "fix", 9L))
    Writers.mergeUpsert(spark, dir, delta, Seq("doc_id"), "lang")
    val afterFirst = spark.read.parquet(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSet
    val stats2 = Writers.mergeUpsert(spark, dir, delta, Seq("doc_id"), "lang")
    val afterSecond = spark.read.parquet(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(afterSecond == afterFirst)
    assert(stats2.updated == 1L && stats2.inserted == 0L)
  }
}
