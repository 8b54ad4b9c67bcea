package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Datasets, Tables}

/** Full-text retrieval over the `documents` table: BM25 top-k and a
  * hybrid lexical+vector ranker fused with reciprocal-rank fusion — the
  * two query shapes a training-data curation stack runs constantly
  * (near-duplicate triage, "more like this" corpus exploration, and
  * retrieval-based decontamination all reduce to scoring a small query
  * set against the whole corpus).
  *
  * Not a reference operator (the reference is a streaming fraud demo,
  * SURVEY §0) — this extends the LLM-pipeline surface the build brief
  * lists as first-class alongside §2.
  *
  * == BM25 (Robertson/Spärck Jones, the Okapi formulation) ==
  *
  * score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), k1 = 1.2, b = 0.75 —
  * the standard Lucene/Okapi constants. Query-side term frequency is not
  * weighted (each distinct query term counts once), the common simplification
  * for short queries; here a "query" is a whole query document, making this
  * the classic more-like-this ranker.
  *
  * == Determinism (the oracle contract) ==
  *
  * Per-term contributions quantize to 1e-6 integers BEFORE the per-(query,
  * doc) sum (same trick as text_unigram_logprob / text_entropy), so the
  * aggregate is a sum of longs — identical under any partial-aggregation
  * order — and the rank's total order (sum_q DESC, doc_id) never compares
  * drifting doubles. Constants are written as the same literals in both
  * engines ("2.2", not `K1 + 1`: 1.2d + 1 and the literal 2.2d are
  * DIFFERENT doubles, and DuckDB would parse the printed sum differently
  * than Scala computed it).
  *
  * == 100 TB shape ==
  *
  *  - The query set is a fixed 20-literal id list ([[QueryDocIds]], same
  *    argument as Similarity.QueryIds): O(Q) at any corpus size, pushed
  *    into the parquet scan as an IN filter.
  *  - The corpus token stream is pruned by a broadcast of the DISTINCT
  *    query-term set BEFORE the tf shuffle — on a real vocabulary the
  *    postings that survive are the query terms' postings only, so the
  *    one shuffle (groupBy doc_id, token) carries candidate postings,
  *    not the corpus. df/avgdl/N ride in as broadcast one-row scalars;
  *    no driver collect anywhere.
  *  - Per-query ranking reuses [[Similarity.twoStageTopKBy]] (salted
  *    two-stage top-k): a common query term can match a constant
  *    fraction of the corpus, and a plain per-query window would funnel
  *    that into one reducer.
  *
  * == Hybrid RRF (`ann_hybrid_rrf`) ==
  *
  * Reciprocal-rank fusion (Cormack et al., SIGIR'09): rrf(d) =
  * Σ_rankers 1/(60 + rank_r(d)) over the BM25 top-20 and the embedding
  * cosine top-20 (vec_id ≡ doc_id in the fixture, FIXTURES.md). Rank
  * lists — not scores — cross the fusion boundary, so the two rankers'
  * score scales never need calibrating; both rank orders are
  * oracle-deterministic (sum_q longs; 4-decimal-rounded cosine with id
  * tie-break), so the fused output stays hash-checkable. The fusion
  * itself joins two ≤(Q·depth)-row frames — negligible at any scale.
  */
object Retrieval {

  /** Fixed query-doc id list: 0, 25, …, 475 — all present from sf0.001 up
    * (500 docs), so every scale exercises all 20 queries. A literal list,
    * not a corpus predicate: the query side must stay O(Q) at 100 TB.
    */
  val QueryDocIds: IndexedSeq[Int] = (0 until 20).map(_ * 25)

  /** BM25 constants (Okapi defaults). Rendered as literals "1.2" / "2.2" /
    * "0.25" / "0.75" in BOTH engines — see the determinism note above.
    */
  val BmTopK = 10
  val FuseDepth = 20
  val RrfTopK = 10
  val RrfK = 60

  private[graft] def isQueryDoc(c: org.apache.spark.sql.Column) =
    c.isin(QueryDocIds: _*)
  private[graft] val queryIdsSql = QueryDocIds.mkString(", ")

  /** dl = size(split(text, " ")) without the regex split: splitting on a
    * single-char literal always yields (#separators + 1) fields (empty
    * fields included — split keeps them, and so does DuckDB's
    * string_split), so dl ≡ #spaces + 1 for EVERY string, including "".
    * Two cheap codegen string scans replace a corpus-wide regex split in
    * the stats passes whose only need is the length (r20; the token
    * stream itself still pays split once, for the generator).
    */
  private def docLen(text: org.apache.spark.sql.Column) =
    (length(text) - length(replace(text, lit(" "), lit(""))) + 1).cast("long")

  /** Per-term document frequency of the standing queries' terms, plus
    * the corpus scalars — the FROZEN statistics the BM25 serves score
    * against. Bounded by the query vocabulary (Q × terms + 2 scalars),
    * never corpus-sized. `idx` positions the term in
    * [[FrozenIndexStats.unionTerms]], the deduplicated standing
    * vocabulary the one-pass tf expression is aligned to.
    */
  final case class TermStat(term: String, idx: Int, df: Long)
  final case class QueryTerms(query_id: Long, terms: Seq[TermStat])
  final case class FrozenIndexStats(nDocs: Long, sumDl: Long,
      unionTerms: Seq[String], queries: Seq[QueryTerms])

  /** Collect the frozen index statistics for the standing query set: the
    * one O(query-vocab) driver materialization performed at
    * index-refresh time. df here is the SAME df [[bmScored]] computes
    * (distinct docs containing the token), so served scores are
    * bit-identical to batch scores against the same corpus snapshot.
    */
  /** The standing query set's (query_id, term) pairs, collected once per
    * dataset content version per JVM (r21). This is the SAME bounded
    * O(query-vocab) driver materialization [[frozenStats]] performs —
    * hoisted into a shared content-keyed cache so the batch scorer can
    * bind the vocabulary into a
    * [[graft.functions.StandingTf]] expression: per-doc term frequencies
    * then compute in ONE codegen loop per row, the occurrence-level
    * explode + broadcast prune + tf shuffle disappear outright (guide
    * §2.4), and the posting stage's input is distinct (doc, term) rows
    * instead of token occurrences. Cold-build attributed; content-keyed
    * like Similarity's model caches, so an in-place rewrite refreshes.
    */
  private val standingQtCache = new graft.JvmCache[String, Array[(Long, String)]]

  private[graft] def standingQt(s: SparkSession, d: String): Array[(Long, String)] =
    standingQtCache.getOrBuild(Datasets.key(s, d, "documents"), "bm25_standing_queries") {
      Tables.documents(s, d).filter(isQueryDoc(col("doc_id")))
        .select(col("doc_id").as("query_id"),
          explode(split(col("text"), " ")).as("token")).distinct()
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }

  def frozenStats(s: SparkSession, d: String): FrozenIndexStats = {
    val docs = Tables.documents(s, d)
    val qtRows = standingQt(s, d)
    val st = docs
      .select(docLen(col("text")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .head()
    if (qtRows.isEmpty) return assembleFrozen(Array.empty, st.getLong(0), st.getLong(1))
    // df via the frozen-vocab tf expression (r21): one codegen loop per
    // doc replaces the occurrence explode + broadcast semi-join + double
    // distinct; a term's df = #docs whose tf against the union vocabulary
    // is positive — the identical count.
    val union = qtRows.map(_._2).distinct.sorted.toSeq
    val tfFn = graft.functions.GraftFunctions.registerStandingTf(s, union)
    val dfByIdx = Materialize.spreadScan(docs)
      .select(posexplode(expr(s"$tfFn(split(text, ' '))")))
      .filter(col("col") > 0)
      .groupBy("pos").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val idxOf = union.zipWithIndex.toMap
    // a query term absent from every doc (df 0) never appeared in the old
    // dfq inner join either — drop it the same way
    val rows = qtRows.flatMap { case (qid, term) =>
      dfByIdx.get(idxOf(term)).map(df => (qid, term, df))
    }
    assembleFrozen(rows, st.getLong(0), st.getLong(1))
  }

  /** Assemble [[FrozenIndexStats]] from collected (query_id, term, df)
    * rows — shared by the full-recompute [[frozenStats]] and the
    * postings-store freeze ([[BmStore.frozenStats]]), so both construct
    * the identical deduplicated-vocabulary layout.
    */
  private[graft] def assembleFrozen(rows: Array[(Long, String, Long)],
      nDocs: Long, sumDl: Long): FrozenIndexStats = {
    // deduplicated standing vocabulary + per-term positions: terms repeat
    // heavily across queries, and the tf expression counts each union
    // term ONCE per document instead of once per (query, term)
    val union = rows.map(_._2).distinct.sorted.toSeq
    val idxOf = union.zipWithIndex.toMap
    val byQuery = rows.groupBy(_._1)
      .map { case (qid, rs) =>
        QueryTerms(qid, rs.map { case (_, t, df) => TermStat(t, idxOf(t), df) }
          .sortBy(_.term).toSeq)
      }
      .toSeq.sortBy(_.query_id)
    FrozenIndexStats(nDocs, sumDl, union, byQuery)
  }

  /** Invert frozen standing-query statistics to the TERM→QUERIES index
    * layout `(terms, per-term df, per-term sorted query lists)` the
    * percolation-style scorer consumes ([[graft.functions.PercolateHitsDl]])
    * in the postings-store doc-vector serve. df is term-level: every
    * query sharing a term carries the same df.
    */
  private[graft] def invertedIndex(frozen: FrozenIndexStats)
      : (Seq[String], Seq[Long], Seq[Seq[Long]]) = {
    val byTerm = frozen.queries
      .flatMap(q => q.terms.map(t => (t.idx, t.term, t.df, q.query_id)))
      .groupBy(_._1).toSeq.sortBy(_._1)
    (byTerm.map(_._2.head._2), byTerm.map(_._2.head._3),
      byTerm.map(_._2.map(_._4).sorted.toSeq))
  }

  /** (query_id, doc_id, n_terms, sum_q): quantized BM25 partial sums for
    * every (query, candidate) pair sharing ≥1 term, self-pairs excluded.
    * Shared by the standalone top-k and the hybrid fusion.
    */
  private[graft] def bmScored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val qtRows = standingQt(s, d)
    if (qtRows.isEmpty) {
      // no standing queries ⇒ the old qt joins produced an empty result;
      // reproduce its exact schema
      import s.implicits._
      return Seq.empty[(Long, Long, Int, Long)]
        .toDF("query_id", "doc_id", "n_terms", "sum_q")
    }
    // Postings via the frozen-vocab StandingTf expression (r21, VERDICT
    // r20 #7): per-doc term frequencies against the standing vocabulary
    // compute in ONE codegen loop per row — one HashMap probe per token —
    // so the posting stage's input is distinct (doc, term) rows with
    // tf > 0 instead of one row per token OCCURRENCE. Replaces, output-
    // identically: the corpus-stream explode (Generate over every
    // occurrence), the broadcast semi-join prune, AND the tf shuffle
    // (groupBy doc, dl, token) — the pipeline's one corpus-sized exchange
    // is gone outright (guide §2.4); what remains shuffles nothing until
    // the per-(query, doc) aggregate over candidate postings. dl rides
    // the same split (size(ws), unchanged since r20). The standing
    // vocabulary is the SAME bounded driver materialization frozenStats
    // collects, shared via [[standingQt]]'s content-keyed cache.
    val union = qtRows.map(_._2).distinct.sorted.toSeq
    val idxOf = union.zipWithIndex.toMap
    val tfFn = graft.functions.GraftFunctions.registerStandingTf(s, union)
    // corpus stream spread: no-op at real scale, un-serializes the
    // single-split fixture scan (r20)
    val tf = Materialize.spreadScan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        posexplode(expr(s"$tfFn(ws)")))
      .filter(col("col") > 0)
      .select(col("doc_id"), col("dl"), col("pos").as("idx"),
        col("col").cast("long").as("tf"))
      .transform(Materialize.once) // feeds both the df branch and the score join
    // tf rows are distinct (doc_id, term) pairs, so df is a re-aggregation
    // of tf — no second corpus pass
    val dfq = tf.groupBy("idx").agg(count(lit(1)).as("df"))
    val st = docs
      .select(docLen(col("text")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    // Quantize per (doc_id, term), BEFORE the query fan-out (r20): the
    // rounded contribution q = round(idf·tfw·1e6) depends only on
    // (df, tf, dl, corpus scalars) — never on query_id — and the later
    // per-(query, doc) aggregate sums the identical longs, so hoisting
    // the transcendentals+round above the qt join changes nothing but
    // evaluates them once per POSTING instead of once per (query, doc,
    // term) row (sf0.1: 155 k vs 3.1 M; the ratio is the query count's
    // term coverage at any scale).
    val qd = tf.join(broadcast(dfq), "idx")
      .crossJoin(broadcast(st))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("tfw",
        col("tf") * lit(2.2) / (col("tf") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / (col("sum_dl") / col("n_docs")))))
      .withColumn("q", round(col("idf") * col("tfw") * lit(1e6)).cast("long"))
      .select("doc_id", "idx", "q")
    // the (query_id, term-idx) fan-out side is driver-built from the same
    // collected standing set — one row per (query, term), exactly the old
    // qt distinct
    import s.implicits._
    val qtIdx = qtRows.map { case (qid, term) => (qid, idxOf(term)) }
      .toSeq.toDF("query_id", "idx")
    qd.join(broadcast(qtIdx), "idx")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("int").as("n_terms"), sum("q").as("sum_q"))
  }

  /** BM25 candidates ranked per query to depth k (salted two-stage top-k;
    * total order sum_q DESC, doc_id).
    */
  private def bmRanked(s: SparkSession, d: String, k: Int): DataFrame =
    Similarity.twoStageTopKBy(bmScored(s, d), k, col("query_id"),
      xxhash64(col("doc_id")), Seq(col("sum_q").desc, col("doc_id")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25_topk" -> ((s, d) =>
      // score rounds in INTEGER space: sum_q is exact 1e-6 units, so
      // ~1% of rows land on a half-exact 4th decimal where double
      // round() diverges between engines (Spark decimal HALF_UP vs
      // DuckDB binary — caught by the sf0.001 oracle); (sum_q+50) div
      // 100 is the same HALF_UP, engine-independent (sum_q > 0: idf
      // and tf weights are strictly positive)
      bmRanked(s, d, BmTopK).select(
        col("query_id"), col("rank"), col("doc_id"), col("n_terms"),
        (expr("(sum_q + 50) div 100") / lit(1e4)).as("score"))),
    "ann_hybrid_rrf" -> ((s, d) => {
      val bmr = bmRanked(s, d, FuseDepth)
        .select(col("query_id"), col("doc_id"), col("rank").as("r_bm"))
      val e = Similarity.withEmb(s, d)
      val q = e.filter(isQueryDoc(col("vec_id")))
        .select(col("vec_id").as("query_id"), col("emb").as("qe"))
      val pairs = e.select(col("vec_id"), col("emb").as("ce"))
        .join(broadcast(q), col("query_id") =!= col("vec_id"))
        .withColumn("cosine", round(expr("dot_double(qe, ce)") /
          (sqrt(expr("dot_double(qe, qe)")) * sqrt(expr("dot_double(ce, ce)"))), 4))
      val cr = Similarity.twoStageTopK(pairs, FuseDepth, col("cosine").desc)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank").as("r_cos"))
      val fused = bmr.join(cr, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_bm")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("r_cos")), lit(0.0)), 6))
        .withColumn("r_bm", coalesce(col("r_bm"), lit(0)).cast("int"))
        .withColumn("r_cos", coalesce(col("r_cos"), lit(0)).cast("int"))
      Similarity.twoStageTopKBy(fused, RrfTopK, col("query_id"),
          xxhash64(col("doc_id")), Seq(col("rrf").desc, col("doc_id")))
        .select("query_id", "rank", "doc_id", "r_bm", "r_cos", "rrf")
    })
  )

  /** Shared BM25 oracle CTEs up to the aggregated (query_id, doc_id,
    * n_terms, sum_q) frame — the structural twin of [[bmScored]]. Every
    * constant and paren mirrors the Spark expression tree; `::DOUBLE`
    * casts keep DuckDB out of DECIMAL arithmetic (its decimal 2.2·tf is
    * exact where Spark's double 2.2·tf is not).
    */
  private[graft] def bmCtesFor(statsBaseOnly: Boolean): String = {
    // statsBaseOnly mirrors the postings store's FROZEN-statistics growth
    // contract (BmStore): postings (tf/dl) cover the grown corpus, but
    // df/avgdl/N stay pinned to the base build (`doc_id % 10 <> 0`, the
    // SigStore split) until the next full rebuild.
    val dfW = if (statsBaseOnly) " WHERE doc_id % 10 <> 0" else ""
    s"""t AS (SELECT doc_id, len(string_split(text, ' ')) dl,
       |        unnest(string_split(text, ' ')) token FROM documents),
       |qt AS (SELECT DISTINCT doc_id query_id, token FROM t
       |       WHERE doc_id IN ($queryIdsSql)),
       |pr AS (SELECT t.doc_id, t.dl, t.token FROM t
       |       JOIN (SELECT DISTINCT token FROM qt) qk ON qk.token = t.token),
       |tf AS (SELECT doc_id, dl, token, count(*) tf FROM pr GROUP BY 1, 2, 3),
       |dfq AS (SELECT token, count(*) df FROM tf$dfW GROUP BY 1),
       |st AS (SELECT count(*) n_docs, sum(len(string_split(text, ' ')))::BIGINT sum_dl
       |       FROM documents$dfW),""".stripMargin
  }

  /** Scoring tail (sc → bm) shared by every BM25 oracle variant — the
    * frozen-stats incremental oracle swaps only the dfq/st CTEs upstream.
    */
  private[graft] val bmScoreCtes: String =
    s"""sc AS (SELECT qt.query_id, tf.doc_id,
       |         CAST(round(ln(1.0::DOUBLE + (st.n_docs - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE)) *
       |           (tf.tf * 2.2::DOUBLE / (tf.tf +
       |              1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * tf.dl / (st.sum_dl / st.n_docs)))) *
       |           1e6) AS BIGINT) q
       |       FROM tf JOIN qt ON qt.token = tf.token
       |               JOIN dfq ON dfq.token = tf.token
       |               CROSS JOIN st
       |       WHERE tf.doc_id <> qt.query_id),
       |bm AS (SELECT query_id, doc_id, CAST(count(*) AS INT) n_terms,
       |         sum(q)::BIGINT sum_q
       |       FROM sc GROUP BY 1, 2)""".stripMargin

  /** Final top-k projection over `bm` — shared by all BM25 oracles. */
  private[graft] val bmTopKSelect: String =
    s"""SELECT query_id, rank, doc_id, n_terms, ((sum_q + 50) // 100) / 1e4 score FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY sum_q DESC, doc_id) AS INT) rank
       |  FROM bm) WHERE rank <= $BmTopK""".stripMargin

  private val bmCtes: String =
    s"""${bmCtesFor(statsBaseOnly = false)}
       |$bmScoreCtes""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "text_bm25_topk" ->
      s"""WITH $bmCtes
         |$bmTopKSelect""".stripMargin,
    "ann_hybrid_rrf" ->
      s"""WITH $bmCtes,
         |bmr AS (SELECT query_id, doc_id, rank r_bm FROM (
         |          SELECT *, CAST(row_number() OVER (
         |            PARTITION BY query_id ORDER BY sum_q DESC, doc_id) AS INT) rank
         |          FROM bm) WHERE rank <= $FuseDepth),
         |${Similarity.embCte},
         |cp AS (SELECT q.vec_id query_id, c.vec_id doc_id,
         |         round(list_dot_product(q.emb, c.emb) /
         |           (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) cosine
         |       FROM e q JOIN e c ON q.vec_id IN ($queryIdsSql) AND q.vec_id <> c.vec_id),
         |cr AS (SELECT query_id, doc_id, rank r_cos FROM (
         |         SELECT *, CAST(row_number() OVER (
         |           PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS INT) rank
         |         FROM cp) WHERE rank <= $FuseDepth),
         |f AS (SELECT coalesce(b.query_id, c.query_id) query_id,
         |        coalesce(b.doc_id, c.doc_id) doc_id,
         |        CAST(coalesce(b.r_bm, 0) AS INT) r_bm,
         |        CAST(coalesce(c.r_cos, 0) AS INT) r_cos,
         |        round(coalesce(1.0::DOUBLE / ($RrfK + b.r_bm), 0.0::DOUBLE) +
         |              coalesce(1.0::DOUBLE / ($RrfK + c.r_cos), 0.0::DOUBLE), 6) rrf
         |      FROM bmr b FULL OUTER JOIN cr c
         |        ON b.query_id = c.query_id AND b.doc_id = c.doc_id)
         |SELECT query_id, rank, doc_id, r_bm, r_cos, rrf FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) rank
         |  FROM f) WHERE rank <= $RrfTopK""".stripMargin
  )
}
