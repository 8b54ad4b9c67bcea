package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Datasets, Tables, Writers}

/** Registered surface for the copy-on-write MERGE primitive
  * ([[graft.sources.Writers.mergeUpsert]]) — the lakehouse maintenance
  * operator a slowly-changing 100 TB corpus needs (document re-crawls,
  * label fixes, late batches) when no transaction-log table format is in
  * play. The PyFlink reference has no table-maintenance surface at all;
  * this adds the upsert leg beside the shard writer.
  *
  * The query materializes `documents` as a lang-partitioned layout, merges
  * a deterministic delta (updates to every 7th doc, inserts cloned from
  * every 11th), reads the layout back and aggregates — so the oracle
  * re-derives the exact post-merge table in SQL (delta ∪ base-anti-delta).
  * UpsertSpec separately proves the scale contract: un-touched partition
  * dirs keep their files byte-for-byte (mtimes included), and crash
  * recovery rolls forward/back around the commit marker.
  */
object Upsert {

  /** Layout version folded into the root digest — bump on layout change. */
  private val LayoutVersion = 2

  /** Base-layout root under tmpdir keyed by canonical dataset dir: stable
    * within a round, disposable across rounds (AnnIndexIO convention).
    */
  private[graft] def layoutRoot(d: String): String =
    Datasets.storeRoot("graft_merge", "", d, LayoutVersion)

  /** Deterministic delta against `documents`: every 7th doc updated
    * (source re-stamped, n_chars + 1), every 11th cloned as an insert
    * under a shifted id. Mirrored literally in the oracle.
    */
  private[graft] def deltaOf(docs: DataFrame): DataFrame = {
    val updates = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("source", lit("merged_update"))
      .withColumn("n_chars", col("n_chars") + 1L)
    val inserts = docs.filter(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
      .withColumn("source", lit("merged_insert"))
    updates.unionByName(inserts)
  }

  /** Build the immutable base layout ONCE per dataset digest (the
    * `_READY`-marker idiom every sibling lifecycle module uses —
    * AnnIndexIO, SigStore, IncrementalStats): stage under `base.tmp`,
    * marker inside, atomic rename. A crash mid-build leaves no marker →
    * next call rebuilds; a published base is never mutated.
    */
  private[graft] def ensureBase(s: SparkSession, d: String): String = synchronized {
    // object-level synchronized, same as SigStore.ensureBuilt /
    // IncrementalStats.ensureBuilt (ADVICE r8): two concurrent
    // q_merge_upsert calls in one JVM would otherwise race on the shared
    // base.tmp stage dir and the rename, failing one publish spuriously.
    val base = new Path(layoutRoot(d), "base")
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(base, "_READY"))) {
      fs.delete(base, true)
      val tmp = new Path(layoutRoot(d), "base.tmp")
      fs.delete(tmp, true)
      Writers.writeShards(Tables.documents(s, d), tmp.toString,
        Seq("lang"), Seq("doc_id"))
      fs.create(new Path(tmp, "_READY")).close()
      require(fs.rename(tmp, base), s"base publish failed: $base")
    }
    base.toString
  }

  /** Clone the read-only base into a disposable work dir by HARDLINK —
    * O(#files) metadata ops, zero data bytes moved (both live in the same
    * tmp filesystem). Safe because mergeUpsert never modifies a data file
    * in place: it renames whole partition dirs and unlinks retired files,
    * which cannot reach the base copy through a hardlink.
    */
  private def cloneByLink(baseDir: String, workDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    def rec(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(c => rec(c, new java.io.File(dst, c.getName)))
      } else if (src.getName != "_READY") {
        // a refused link on Linux surfaces as FileSystemException (EXDEV,
        // fs.protected_hardlinks, overlayfs), not UnsupportedOperation —
        // fall back to a byte copy on either
        try Files.createLink(Paths.get(dst.getPath), Paths.get(src.getPath))
        catch {
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            Files.copy(Paths.get(src.getPath), Paths.get(dst.getPath))
        }
      }
    }
    rec(new java.io.File(baseDir), new java.io.File(workDir))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_merge_upsert" -> ((s, d) => {
      val base = ensureBase(s, d)
      val work = new Path(layoutRoot(d), "work").toString
      val fs = new Path(work).getFileSystem(s.sparkContext.hadoopConfiguration)
      // merge into a fresh clone so the query stays a pure function of the
      // dataset dir without paying a second full-corpus Spark write
      fs.delete(new Path(work), true)
      cloneByLink(base, work)
      val docs = Tables.documents(s, d)
      Writers.mergeUpsert(s, work, deltaOf(docs),
        keyCols = Seq("doc_id"), partitionCol = "lang", sortCols = Seq("doc_id"))
      Tables.parquet(s, work)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_merge_upsert" ->
      """WITH delta AS (
        |  SELECT doc_id, text, lang, 'merged_update' AS source, n_chars + 1 AS n_chars
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, lang, 'merged_insert', n_chars
        |  FROM documents WHERE doc_id % 11 = 0
        |), merged AS (
        |  SELECT * FROM delta
        |  UNION ALL
        |  SELECT d.* FROM documents d
        |  WHERE NOT EXISTS (SELECT 1 FROM delta WHERE delta.doc_id = d.doc_id)
        |)
        |SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM merged GROUP BY lang, source""".stripMargin
  )
}
