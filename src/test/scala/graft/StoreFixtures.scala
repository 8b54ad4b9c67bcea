package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnnIndexIO, BmStore, IncrementalStats, Materialize, Retrieval, SigStore, Similarity}
import graft.operators.Retrieval.FrozenIndexStats
import graft.sources.Tables

/** Store fixtures the specs build on: arbitrary standing-query sets frozen
  * against a BM25 store, documents appended to a signature store, store
  * roots deleted between cases, and the full-recompute references the
  * stores are compared with.
  */
object StoreFixtures {

  private def deleteRoots(s: SparkSession, roots: String*): Unit =
    roots.map(new Path(_)).foreach { p =>
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** Delete a dataset's signature store and its absorbed-label twin. */
  def deleteSigStore(s: SparkSession, d: String): Unit =
    deleteRoots(s, SigStore.storeRoot(s, d), SigStore.storeRoot(s, d) + "_absorbed")

  def deleteIncrementalState(s: SparkSession, d: String): Unit =
    deleteRoots(s, IncrementalStats.stateRoot(s, d))

  /** Delete a dataset's three ANN index variants, and every per-JVM
    * cache with them (the loaded models are keyed by root).
    */
  def deleteAnnIndex(s: SparkSession, d: String): Unit = {
    deleteRoots(s, Seq("full", "incr", "stream").map(AnnIndexIO.indexRoot(s, d, _)): _*)
    JvmCache.clearAll()
  }

  /** The standing queries' frozen statistics recomputed from the whole
    * documents table — the reference [[BmStore.frozenStats]] must equal.
    * df is the SAME df [[Retrieval.bmScored]] computes (distinct docs
    * containing the token).
    */
  def frozenStats(s: SparkSession, d: String): FrozenIndexStats = {
    val docs = Tables.documents(s, d)
    val qtRows = Retrieval.standingQt(s, d)
    val st = docs
      .select(Retrieval.docLen(col("text")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .head()
    if (qtRows.isEmpty) return Retrieval.assembleFrozen(Array.empty, st.getLong(0), st.getLong(1))
    // a term's df = #docs whose tf against the union vocabulary is positive
    val union = qtRows.map(_._2).distinct.sorted.toSeq
    val tfFn = graft.functions.GraftFunctions.registerStandingTf(s, union)
    val dfByIdx = Materialize.spreadScan(docs)
      .select(posexplode(expr(s"$tfFn(split(text, ' '))")))
      .filter(col("col") > 0)
      .groupBy("pos").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val idxOf = union.zipWithIndex.toMap
    // a query term absent from every doc (df 0) is dropped
    val rows = qtRows.flatMap { case (qid, term) =>
      dfByIdx.get(idxOf(term)).map(df => (qid, term, df))
    }
    Retrieval.assembleFrozen(rows, st.getLong(0), st.getLong(1))
  }

  /** dedup_semantic's intra-cluster pairs enumerated in-plan from the
    * assignment, materialized once for both self-join sides — the
    * reference the persisted pair head must equal.
    */
  def semanticPairs(s: SparkSession, d: String): DataFrame =
    Similarity.pairsFromAssigned(s,
      Similarity.assignedFrame(s, d).transform(Materialize.once),
      Similarity.embCount(s, d), Similarity.embDim(s, d))

  /** Freeze statistics for an ARBITRARY standing-query set (query_id →
    * term list) against the store — the prospective-search registration
    * path: user-authored standing queries, not corpus docs. Terms absent
    * from the index vocabulary are dropped (unknown terms score nothing,
    * the percolator convention). One O(standing-vocab) df lookup; no
    * corpus access at all.
    */
  def frozenStatsForQueries(s: SparkSession, root: String,
      queries: Seq[(Long, Seq[String])]): FrozenIndexStats = {
    import s.implicits._
    val qdf = queries
      .flatMap { case (id, ts) => ts.distinct.map(t => (id, t)) }
      .toDF("query_id", "token")
    val dfT = Tables.parquet(s, new Path(root, "df.parquet").toString)
      .select("token", "df")
    val rows = qdf.join(dfT, "token")
      .select("query_id", "token", "df").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val (nDocs, sumDl) = BmStore.storeMeta(s, root)
    Retrieval.assembleFrozen(rows, nDocs, sumDl)
  }

  /** Deterministic synthetic standing queries drawn from the store's
    * vocabulary — a fixture for the WAND gate.
    * floorMod, not abs: abs(Int.MinValue) is negative.
    */
  def syntheticStandingQueries(s: SparkSession, root: String,
      prefix: String, n: Int, termsPerQuery: Int = 8,
      idBase: Long = 1000000L): Seq[(Long, Seq[String])] = {
    val vocab = Tables.parquet(s, new Path(root, "df.parquet").toString)
      .select("token").collect().map(_.getString(0)).sorted
    (0 until n).map { qid =>
      val terms = (0 until termsPerQuery).map(j => vocab(
        math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s"$prefix$qid:$j"),
          vocab.length)))
      (idBase + qid, terms.distinct.toSeq)
    }
  }

  /** Grow a published signature store by one batch of NEW base documents
    * under `batch_id=<batchId>`: one simhash pass over the batch,
    * O(|batch|), never O(|store|).
    */
  def appendSigBatch(root: String, docsBatch: DataFrame, batchId: Long): Unit =
    SigStore.appendSigRows(root, SigStore.bandedSigs(docsBatch), batchId)
}
