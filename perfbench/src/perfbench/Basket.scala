package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Row}

import graft.{ColdBuilds, SparkEntry}

/** engine_basket: a fixed list of `SparkEntry.queries`, each built and
  * written to a `noop` sink, after one untimed pass that checks every
  * query's output digest.
  */
object Basket {

  /** One query per family: analytics aggregate (the control: its count
    * and noop plans agree), fraud scoring, text, the BmStore-served index,
    * incremental dedup against the persisted SigStore, decontamination,
    * the AnnIndexIO-served IVF-PQ index, the training manifest (exact and
    * near-dup dedup, connected components, TrainingPipeline) and a KMV
    * sketch. Sized to the run budget; see perfbench/README.md.
    */
  val Queries: Seq[String] = Seq(
    "q_pricing_summary",
    "fraud_score_v1",
    "text_pii_scrub",
    "text_bm25_served_topk",
    "dedup_incremental_stored",
    "decontam_bloom",
    "ann_ivfpq_served_topk",
    "corpus_train_manifest",
    "q_approx_distinct_kmv")

  val TinyQueries: Seq[String] = Seq("q_pricing_summary", "fraud_score_v1", "text_pii_scrub")

  /** Canonical text of one value: doubles to 10 significant digits, so a
    * reduction-order difference in the last bits does not change the
    * digest.
    */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
        .stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-independent digest: columns by name, rows sorted, SHA-256. */
  def digest(df: DataFrame, corrupt: Boolean = false): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(c => col(s"`$c`")): _*).collect()
      .map(r => (0 until r.length).map(i => canon(r.get(i))).mkString("|"))
    if (corrupt && rows.nonEmpty) rows(0) = rows(0) + "~"
    val md = MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().take(12).map(x => f"$x%02x").mkString)
  }

  private def readDigests(path: String): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    val root = new ObjectMapper().readTree(new java.io.File(path))
    root.fields().asScala.map { e =>
      e.getKey -> ((e.getValue.get("rows").asLong(), e.getValue.get("sha256").asText()))
    }.toMap
  }

  private def writeDigests(path: String, d: Seq[(String, (Long, String))]): Unit = {
    val body = d.sortBy(_._1).map { case (q, (n, h)) =>
      s"""  "$q": {"rows": $n, "sha256": "$h"}"""
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val queries = SparkEntry.queries
    val dir = r.opts.dataDir
    val order = new scala.util.Random(r.opts.seed)
      .shuffle(if (r.opts.tiny) TinyQueries else Queries)
    val expected = if (r.opts.recordDigests.nonEmpty) Map.empty[String, (Long, String)]
      else readDigests(r.opts.digests)
    val cold0 = ColdBuilds.mark()

    // untimed warm-up and correctness pass; store builds happen here
    val got = order.map { q =>
      val d = try Some(r.phase(s"warm-up $q")(
        digest(queries(q)(spark, dir), r.opts.corrupt && q == order.head)))
      catch { case e: Exception => r.note(s"$q threw $e"); None }
      if (r.opts.recordDigests.isEmpty)
        r.check(d.isDefined && expected.get(q) == d, s"digest of $q: $d != ${expected.get(q)}")
      q -> d
    }
    if (r.opts.recordDigests.nonEmpty)
      writeDigests(r.opts.recordDigests, got.collect { case (q, Some(d)) => q -> d })

    val walls = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
    // a pass takes longer than --seconds, so one untraced pass is the
    // minimum; the traced run needs two of each kind to balance its order
    val timed = r.timed(if (r.opts.trace) 2 else 1) { _ =>
      val t0 = System.nanoTime()
      var build, exec = 0L
      order.foreach { q =>
        val q0 = System.nanoTime()
        try {
          val df = r.tracer.span(s"SparkEntry.queries($q)")(queries(q)(spark, dir))
          val q1 = System.nanoTime()
          r.tracer.span("exec.noop")(df.write.format("noop").mode("overwrite").save())
          val q2 = System.nanoTime()
          build += q1 - q0
          exec += q2 - q1
          walls.getOrElseUpdate((q, r.tracer.enabled), mutable.ArrayBuffer.empty) += (q2 - q0) / 1e9
          r.attempted += 1
        } catch { case e: Exception => r.check(ok = false, s"$q threw $e") }
      }
      Sample(System.nanoTime() - t0, Map("build" -> build, "exec" -> exec))
    }

    def total(traced: Boolean): Double =
      order.flatMap(q => walls.get((q, traced))).map(w => Stats.median(w.toSeq)).sum
    if (!r.opts.trace) {
      // one pass is one request for every query's full result; the
      // per-query walls were tried as requests and spread 0.16-0.18
      // across seeds, against 0.11 for the pass walls
      val passes = timed.plain.map(_.wallNs / 1e6)
      r.e2e("work_s") = total(traced = false)
      r.e2e("latency_p50_ms") = Stats.median(passes)
      r.e2e("latency_p99_ms") = Stats.quantile(passes, 0.99)
      r.note(f"engine_basket: ${order.size} queries, ${timed.plain.size} timed passes, " +
        f"basket_total_s ${total(traced = false)}%.3f")
    } else {
      val units = timed.traced.size.toDouble
      r.layer("basket.build_s") = timed.traced.map(_.parts("build")).sum / 1e9 / units
      r.layer("basket.exec_s") = timed.traced.map(_.parts("exec")).sum / 1e9 / units
      r.layer("basket.cold_builds") = ColdBuilds.since(cold0).size.toDouble
      order.foreach(q => walls.get((q, true)).foreach(w =>
        r.layer(s"basket.q.${q}_s") = Stats.median(w.toSeq)))
      r.layer("trace.overhead_frac") = total(traced = true) / total(traced = false) - 1
    }
  }

  /** One-off capture: `Dataset.count()` against the noop sink, per query,
    * best of three each after the warm-up pass.
    */
  def bridgeCount(r: Run): Unit = {
    val queries = SparkEntry.queries
    val dir = r.opts.dataDir
    Queries.foreach(q => queries(q)(r.spark, dir).write.format("noop").mode("overwrite").save())
    def best(f: => Unit): Double =
      (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.min
    Queries.foreach { q =>
      val c = best(queries(q)(r.spark, dir).count())
      val n = best(queries(q)(r.spark, dir).write.format("noop").mode("overwrite").save())
      println(f"""{"bridge":"count_vs_noop","query":"$q","count_s":$c%.3f,"noop_s":$n%.3f}""")
    }
  }
}
