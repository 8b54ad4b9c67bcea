package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tie-proximity probe for the rounds [[graft.operators.ExactRound]]
  * deliberately LEFT on plain `round` (r20, VERDICT r19 #1).
  *
  * The r19 sf0.1 episode proved structural-tie reasoning can be wrong:
  * quality_score's "harmless" float round hid true decimal half-way ties
  * where Spark (BigDecimal shortest-repr, ties up) and DuckDB (double
  * multiply, nearest double below, ties down) structurally disagree.
  * This probe converts the remaining measure-zero-tie ARGUMENTS into
  * MEASUREMENTS: for every residual column it computes the minimum
  * distance of the pre-round value ×10^scale to the nearest …x.5
  * boundary. A distance ≫ the engines' double-evaluation jitter
  * (≲1e-9 at 1e6 scale for libm-vs-JDK `pow`) means no corpus of that
  * shape can flip a round between engines.
  *
  * Two kinds of evidence, strongest first:
  *  - CLOSED-FORM (complete input domain, any corpus size): hybrid-RRF's
  *    pre-round value is 1/(K+r₁)+1/(K+r₂) with ranks ≤ FuseDepth — the
  *    whole domain is (20+1)² points, enumerated exhaustively here and
  *    pinned by TieProbeSpec. Same for curriculum_manifest's
  *    (band+1)/10 at scale 2 (always integer ×10² — distance exactly
  *    0.5).
  *  - MEASURED (per scale point): the mixture family's weight/upsample/
  *    rate columns depend on per-lang corpus counts through p^0.3
  *    (irrational) — measured at every fixture dir passed on the
  *    command line (sf0.1 plus the generated sf1/sf10 ScaleSmoke dirs).
  *
  * `sbt "runMain graft.TieProbe <dir> [<dir> ...]"` — one JSON line per
  * (column, dir) plus the closed-form lines; redirect to
  * TIEPROBE_r{N}.json.
  */
object TieProbe {

  /** Distance of v×10^s to the nearest half-way boundary (0 = exact tie,
    * 0.5 = maximally safe).
    */
  def tieDistance(v: Double, scale: Int): Double = {
    val x = v * math.pow(10, scale)
    math.abs(x - math.floor(x) - 0.5)
  }

  private def tieDistCol(c: org.apache.spark.sql.Column, scale: Int) =
    abs(c * lit(math.pow(10, scale)) -
      floor(c * lit(math.pow(10, scale))) - lit(0.5))

  /** Exhaustive RRF domain sweep: every reachable (r_bm, r_cos) pair plus
    * the single-sided rows of the full-outer fuse. Returns
    * (minDistance, description of the argmin point).
    */
  def rrfDomainMin(): (Double, String) = {
    val k = graft.operators.Retrieval.RrfK
    val depth = graft.operators.Retrieval.FuseDepth
    var best = (Double.MaxValue, "")
    for (r1 <- 1 to depth) {
      val single = 1.0 / (k + r1)
      val ds = tieDistance(single, 6)
      if (ds < best._1) best = (ds, s"single r=$r1")
      for (r2 <- 1 to depth) {
        val v = 1.0 / (k + r1) + 1.0 / (k + r2)
        val d = tieDistance(v, 6)
        if (d < best._1) best = (d, s"pair r_bm=$r1 r_cos=$r2")
      }
    }
    best
  }

  /** Exhaustive curriculum-rate domain: bands 0..9 at scale 2. */
  def curriculumDomainMin(): Double =
    (0 to 9).map(b => tieDistance((b + 1) / 10.0, 2)).min

  /** Per-lang pre-round values of every residual mixture-family column
    * over one (lang, n_docs) measure frame. Returns
    * (column, scale, lang, preRound, distance) rows.
    */
  private def mixtureDistances(byLang: DataFrame, suffix: String)
      : DataFrame = {
    val keep = graft.operators.SamplingOps.KeepFraction
    val ext = graft.operators.SamplingOps.mixtureExtended(byLang)
      .withColumn("up_pre", col("weight") / col("p"))
      .withColumn("rate_up_pre", col("weight") * col("n_total") / col("n_docs"))
      .withColumn("rate_samp_pre",
        least(lit(1.0), col("weight") * lit(keep) * col("n_total") / col("n_docs")))
    val cols = Seq(
      (s"mixture_weight$suffix", "w_pre", 6),
      (s"mixture_upsample$suffix", "up_pre", 4),
      (s"upsample_rate$suffix", "rate_up_pre", 6),
      (s"sample_rate$suffix", "rate_samp_pre", 6))
    cols.map { case (name, c, sc) =>
      ext.select(
        lit(name).as("column"), lit(sc).as("scale"), col("lang"),
        col(c).as("pre_round"), tieDistCol(col(c), sc).as("distance"))
    }.reduce(_ unionByName _)
  }

  def probeDir(s: SparkSession, d: String): Seq[(String, Int, String, Double, Double)] = {
    val docs = graft.sources.Tables.documents(s, d)
    val byDocs = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val byTokens = docs.groupBy("lang")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_docs"))
    mixtureDistances(byDocs, "")
      .unionByName(mixtureDistances(byTokens, "_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getDouble(3), r.getDouble(4)))
      .toSeq
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "target/sf1", "target/sf10")
        .filter(p => new java.io.File(p, "documents.parquet").isDirectory)
    val (rrfMin, rrfAt) = rrfDomainMin()
    println(f"""{"column":"hybrid_rrf","kind":"closed_form_full_domain","scale":6,"min_tie_distance":$rrfMin%.9f,"argmin":"$rrfAt","domain":"all ranks 1..${graft.operators.Retrieval.FuseDepth} incl single-sided","verdict":"${if (rrfMin > 1e-6) "safe" else "CONVERT"}"}""")
    println(f"""{"column":"curriculum_rate","kind":"closed_form_full_domain","scale":2,"min_tie_distance":${curriculumDomainMin()}%.9f,"domain":"bands 0..9","verdict":"safe"}""")
    if (dirs.isEmpty) {
      println("""{"warning":"no fixture dirs found — closed-form lines only"}""")
      return
    }
    val spark = Session.local()
    try dirs.foreach { d =>
      val rows = probeDir(spark, d)
      rows.groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1._1).foreach {
        case ((colName, sc), grp) =>
          val (_, _, lang, pre, dist) = grp.minBy(_._5)
          val verdict = if (dist > 1e-6) "safe" else "CONVERT"
          println(f"""{"column":"$colName","kind":"measured","dir":"$d","scale":$sc,"n_groups":${grp.size},"min_tie_distance":$dist%.9f,"argmin_lang":"$lang","pre_round":$pre%.12f,"verdict":"$verdict"}""")
      }
    } finally spark.stop()
  }
}
