package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{BmStore, Retrieval, SigStore}
import graft.operators.Retrieval.FrozenIndexStats
import graft.sources.Tables

/** Store fixtures the specs build on: arbitrary standing-query sets frozen
  * against a BM25 store, and documents appended to a signature store.
  */
object StoreFixtures {

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
  def appendSigBatch(s: SparkSession, root: String,
      docsBatch: DataFrame, batchId: Long): Unit =
    SigStore.appendSigRows(s, root, SigStore.bandedSigs(docsBatch), batchId)
}
