package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.model.FraudConstants._
import graft.operators.FraudRules
import graft.sources.Tables
import graft.streaming.{FraudStream, ScoredEvent}

/** A stream corpus: JSON value rows in send order, malformed rows mixed
  * in, and the reference fold's verdict per event id.
  */
final case class StreamCorpus(rows: Array[String], index: Map[String, Int],
    expected: Map[String, Flags], malformed: Int) {

  /** (events, malformed rows) among the first `k` rows. */
  def prefix(k: Int): (Long, Long) = {
    val events = index.valuesIterator.count(_ < k).toLong
    (events, k - events)
  }
}

/** What the harness's sinks saw during one streaming session. */
final class Outcome {
  val deliveries = new ConcurrentLinkedQueue[(Long, Array[String])]()
  val delivered = new AtomicLong
  /** Rows whose micro-batch has passed all three sinks. */
  val completed = new AtomicLong
  @volatile var pending = 0L
  val alerts = new AtomicLong
  val deadLetters = new AtomicLong
  val mainNs, alertsNs, auditNs = new AtomicLong
  var queries: Seq[StreamingQuery] = Nil
  def lastDeliveryNs: Long = deliveries.asScala.map(_._1).foldLeft(0L)(math.max)
}

/** The streaming half of fraud_pipeline, and stream_drain: the v2 topology
  * (`streaming.Main.v2Pipelines` → `FraudStream.fanOut`, plus the
  * dead-letter query) fed from a `MemoryStream`.
  */
object FraudStreams {

  private val Malformed = Seq(
    """{"schema_version":"1.0","card_id":""",
    "not json at all",
    """{"event_id":"orphan","amount":1.0}""")

  /** Renders a generated corpus to JSON value rows in send order (event
    * `seq` of every replica before event `seq + 1`), keeping the first
    * `limit` events and mixing in about 0.1% malformed rows. A prefix of
    * each card's events keeps the fold's verdicts, which depend only on a
    * card's earlier events.
    */
  def render(r: Run, gen: Dataset[GenRow], limit: Int = Int.MaxValue): StreamCorpus = {
    val spark = r.spark
    import spark.implicits._
    val rendered = gen
      .select($"seq", $"replica", $"event_id",
        to_json(struct(Corpus.WireColumns.map(col): _*)).as("value"),
        $"exp_high", $"exp_rapid", $"exp_travel")
      .orderBy($"seq", $"replica")
      .limit(limit)
      .collect()
    val rnd = new scala.util.Random(r.opts.seed)
    val rows = mutable.ArrayBuffer.empty[String]
    val index = mutable.HashMap.empty[String, Int]
    val expected = mutable.HashMap.empty[String, Flags]
    var malformed = 0
    rendered.foreach { row =>
      if (rnd.nextInt(1000) == 0) {
        rows += Malformed(malformed % Malformed.size)
        malformed += 1
      }
      index(row.getString(2)) = rows.size
      expected(row.getString(2)) = Flags(row.getBoolean(4), row.getBoolean(5), row.getBoolean(6))
      rows += row.getString(3)
    }
    StreamCorpus(rows.toArray, index.toMap, expected.toMap, malformed)
  }

  /** The topology's input: a `MemoryStream` per query, fed the same rows,
    * as two consumers of one topic would read it. (A `MemoryStream` drops
    * rows once one query commits them, so two queries cannot share one.)
    */
  final class Feed(r: Run) {
    private implicit val ctx: org.apache.spark.sql.SQLContext = r.spark.sqlContext
    import r.spark.implicits._
    val main: MemoryStream[String] = MemoryStream[String]
    val deadLetter: MemoryStream[String] = MemoryStream[String]
    def add(rows: Seq[String]): Unit = { main.addData(rows); deadLetter.addData(rows) }
    // MemoryStream is one partition; a kafka topic is several
    def frame(in: MemoryStream[String]): DataFrame = in.toDF().repartition(r.opts.cores)
  }

  /** Starts the main fan-out query and the dead-letter query. */
  def start(r: Run, feed: Feed, ckpt: String, out: Outcome): Unit = {
    val spark = r.spark
    import spark.implicits._
    val parent = r.tracer.currentSpan
    def sink(name: String, acc: AtomicLong)(body: => Unit): Long = {
      val t0 = System.nanoTime()
      body
      val t1 = System.nanoTime()
      acc.addAndGet(t1 - t0)
      r.tracer.record(name, parent, t0, t1)
      t1
    }
    val p = r.tracer.span("streaming.v2Pipelines")(
      graft.streaming.Main.v2Pipelines(feed.frame(feed.main), RapidTxCountV1))
    val main = r.tracer.span("FraudStream.fanOut")(FraudStream.fanOut(
      p.scored,
      writeMain = df => {
        var rows: Array[String] = null
        val t = sink("sink.main", out.mainNs) {
          rows = FraudStream.toV2Json(df.as[ScoredEvent]).collect().map(_.getString(0))
        }
        out.deliveries.add((t, rows))
        out.delivered.addAndGet(rows.length)
        out.pending = rows.length
        ()
      },
      writeAlerts = df => {
        sink("sink.alerts", out.alertsNs) {
          out.alerts.addAndGet(FraudStream.toV2Json(df.as[ScoredEvent]).collect().length)
        }
        ()
      },
      writeAudit = df => {
        sink("sink.audit", out.auditNs)(df.write.format("noop").mode("overwrite").save())
        out.completed.addAndGet(out.pending)
        ()
      },
      checkpointDir = s"$ckpt/main"))
    val dlq = graft.streaming.Main.v2Pipelines(feed.frame(feed.deadLetter), RapidTxCountV1)
      .deadLetter.writeStream
      .option("checkpointLocation", s"$ckpt/dlq")
      .foreachBatch { (b: DataFrame, _: Long) => out.deadLetters.addAndGet(b.count()); () }
      .start()
    out.queries = Seq(main, dlq)
  }

  /** Waits until `events` rows have passed all three sinks and the dead-letter sink
    * `malformed` rows, or `timeoutS` passes; then stops both queries.
    */
  def finish(r: Run, out: Outcome, events: Long, malformed: Long, timeoutS: Double = 60): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    def waitFor(cond: => Boolean): Unit =
      while (!cond && System.nanoTime() < deadline && out.queries.forall(_.isActive))
        LockSupport.parkNanos(200000L)
    waitFor(out.completed.get >= events && out.deadLetters.get >= malformed)
    // let the last micro-batch commit, so its progress event is posted
    waitFor(out.queries.forall(!_.status.isTriggerActive))
    out.queries.foreach { q =>
      q.exception.foreach(e => r.note(s"FAIL stream query ${q.name}: $e"))
      q.stop()
    }
  }

  /** Checks every delivered row against the reference fold and returns
    * each event's delivery time and the rule hits seen.
    */
  def verify(r: Run, c: StreamCorpus, out: Outcome): (mutable.HashMap[String, Long], Map[String, Long]) = {
    val json = new ObjectMapper()
    val at = mutable.HashMap.empty[String, Long]
    var wrong, dup, unknown = 0L
    var first = r.opts.corrupt
    var fraud = 0L
    val hits = mutable.Map("high_amount" -> 0L, "rapid" -> 0L, "travel" -> 0L).withDefaultValue(0L)
    for ((t, rows) <- out.deliveries.asScala; row <- rows) {
      val node = json.readTree(row)
      val id = node.get("event_id").asText()
      val score = node.get("risk_score").asInt() + (if (first) 1 else 0)
      first = false
      val reasons = node.get("reasons").elements().asScala.map(_.asText()).toSeq
      val status = node.get("status").asText()
      if (status == "FRAUD") fraud += 1
      reasons.foreach {
        case ReasonHighAmount => hits("high_amount") += 1
        case ReasonRapid => hits("rapid") += 1
        case ReasonTravel => hits("travel") += 1
        case _ => ()
      }
      c.expected.get(id) match {
        case None => unknown += 1
        case Some(f) =>
          if (at.contains(id)) dup += 1 else at(id) = t
          if (f.score != score || f.reasons != reasons ||
            status != (if (f.score >= FraudThreshold) "FRAUD" else "LEGIT")) wrong += 1
      }
    }
    val missing = c.expected.size - at.size
    val bad = wrong + dup + unknown + missing
    r.attempted += c.expected.size
    r.failed += bad
    if (bad > 0)
      r.note(s"FAIL stream: $missing missing, $wrong mis-scored, $dup duplicated, $unknown unknown")
    r.check(out.deadLetters.get == c.malformed,
      s"dead letters ${out.deadLetters.get} != injected ${c.malformed}")
    val expFraud = c.expected.values.count(_.score >= FraudThreshold)
    r.check(out.alerts.get == expFraud, s"alerts ${out.alerts.get} != reference $expFraud")
    Seq("high_amount", "rapid", "travel").foreach(k =>
      r.check(hits(k) > 0, s"stream: rule $k never fired"))
    (at, hits.toMap + ("fraud" -> fraud))
  }

  /** Progress-derived per-layer metrics of the traced iterations' main
    * queries, per iteration.
    */
  def streamLayers(r: Run, t: Timed, mainIds: Set[java.util.UUID], out: Seq[Outcome]): Unit = {
    val units = t.traced.size.toDouble
    val ps = t.totals.progress.filter(p => mainIds.contains(p.id)).toSeq
    def dur(k: String): Double = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / units
    val trig = ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0))
    r.layer("stream.batches") = ps.size / units
    if (trig.nonEmpty) {
      r.layer("stream.batch_ms_p50") = Stats.median(trig)
      r.layer("stream.batch_ms_max") = trig.max
    }
    r.layer("stream.latest_offset_ms") = dur("latestOffset")
    r.layer("stream.query_planning_ms") = dur("queryPlanning")
    r.layer("stream.add_batch_ms") = dur("addBatch")
    r.layer("stream.wal_commit_ms") = dur("walCommit")
    r.layer("stream.commit_offsets_ms") = dur("commitOffsets")
    val ops = ps.flatMap(_.stateOperators.toSeq)
    r.layer("state.rows_total") =
      ps.groupBy(_.id).values.map(_.last.stateOperators.map(_.numRowsTotal).sum.toDouble).sum / units
    r.layer("state.memory_bytes_peak") =
      if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max.toDouble
    r.layer("state.commit_ms") = ops.map(_.commitTimeMs).sum / units
    r.layer("state.update_ms") = ops.map(_.allUpdatesTimeMs).sum / units
    r.layer("state.rows_dropped_late") = ops.map(_.numRowsDroppedByWatermark).sum / units
    r.layer("sink.main_ms") = out.map(_.mainNs.get).sum / 1e6 / units
    r.layer("sink.alerts_ms") = out.map(_.alertsNs.get).sum / 1e6 / units
    r.layer("sink.audit_ms") = out.map(_.auditNs.get).sum / 1e6 / units
    r.layer("parse.dead_letter_rows") = out.map(_.deadLetters.get).sum / units
  }

  // ---------------------------------------------------------------- drain

  /** stream_drain: a backlog queued before the query starts, drained to
    * completion per iteration. Not among the measured workloads; used for
    * the local[1] capture and to size the paced rate.
    */
  def drain(r: Run): Unit = {
    val (replicas, perReplica) = if (r.opts.tiny) (32, 96) else (625, 64)
    val c = r.repeatedSetup(if (r.opts.tiny) 1 else 3)(_ =>
      render(r, Corpus.generate(r.spark, r.opts.seed, replicas, perReplica)))
    var session = 0
    def once(rows: Array[String], events: Long, malformed: Long): (Outcome, Long) = {
      session += 1
      val feed = new Feed(r)
      feed.add(rows.toSeq)
      val out = new Outcome
      val t0 = System.nanoTime()
      start(r, feed, r.dir(s"ckpt/drain$session"), out)
      finish(r, out, events, malformed)
      (out, t0)
    }
    val warm = math.min(c.rows.length, 2000)
    r.phase("warm-up")(once(c.rows.take(warm), c.prefix(warm)._1, c.prefix(warm)._2))
    val outs = mutable.ArrayBuffer.empty[(Outcome, Boolean)]
    val timed = r.timed(2) { _ =>
      val (out, t0) = once(c.rows, c.expected.size, c.malformed)
      outs += ((out, r.tracer.enabled))
      val (at, hits) = verify(r, c, out)
      hits.foreach { case (k, v) => r.layer(s"rules.$k") = v.toDouble }
      Sample(out.lastDeliveryNs - t0, latencyMs = at.valuesIterator.map(t => (t - t0) / 1e6).toArray)
    }
    val walls = timed.plain.map(_.wallNs / 1e9)
    if (!r.opts.trace) {
      val lat = timed.plain.flatMap(_.latencyMs)
      r.e2e("work_s") = Stats.median(walls)
      r.e2e("latency_p50_ms") = Stats.median(lat)
      r.e2e("latency_p99_ms") = Stats.quantile(lat, 0.99)
      r.note(f"stream_drain: ${c.expected.size} events over ${replicas * 8} cards, " +
        f"${walls.size} drains, drain_eps ${c.expected.size / Stats.median(walls)}%.0f events/s")
    } else {
      val traced = outs.filter(_._2).map(_._1).toSeq
      streamLayers(r, timed, traced.flatMap(_.queries.headOption.map(_.id)).toSet, traced)
      r.layer("stream.backlog_max_events") = c.rows.length.toDouble
      r.layer("trace.overhead_frac") =
        Stats.median(timed.traced.map(_.wallNs / 1e9)) / Stats.median(walls) - 1
    }
  }

  // ---------------------------------------------------------------- paced

  /** Open-loop sessions over one corpus: each starts fresh queries and
    * sends the corpus's first rows at `rate` events/s.
    */
  final class Pacer(r: Run, c: StreamCorpus, rate: Int) {
    val periodNs: Double = 1e9 / rate
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Double]
    private var sessions = 0

    /** Sends rows [0, count) on a fixed schedule, handing each 50 ms tick's
      * due rows to the source at once, as a producer's linger would (a
      * `MemoryStream` makes one input partition per `addData`). Returns
      * the schedule start.
      */
    private def send(feed: Feed, out: Outcome, count: Int): Long = {
      val tickNs = 50000000L
      val t0 = System.nanoTime() + tickNs
      var nextTick = t0
      var i = 0
      var late = 0L
      var most = 0L
      while (i < count) {
        val now = System.nanoTime()
        if (now < nextTick) LockSupport.parkNanos(nextTick - now)
        else {
          var j = i
          while (j < count && t0 + (j * periodNs).toLong <= now) j += 1
          if (j > i) {
            feed.add(c.rows.slice(i, j).toSeq)
            late = math.max(late, System.nanoTime() - (t0 + (i * periodNs).toLong))
            most = math.max(most, j - out.delivered.get)
            i = j
          }
          nextTick += tickNs
        }
      }
      lateMs += late / 1e6
      backlog += most.toDouble
      t0
    }

    /** One session over the first `count` rows; returns its outcome and
      * schedule start.
      */
    def session(count: Int): (Outcome, Long) = {
      sessions += 1
      val feed = new Feed(r)
      val out = new Outcome
      start(r, feed, r.dir(s"ckpt/paced$sessions"), out)
      val t0 = send(feed, out, count)
      val (events, malformed) = c.prefix(count)
      finish(r, out, events, malformed)
      (out, t0)
    }

    /** Latency of every delivered event from its scheduled send time, ms. */
    def latencies(at: mutable.HashMap[String, Long], t0: Long): Array[Double] =
      at.iterator.map { case (id, t) => (t - (t0 + (c.index(id) * periodNs).toLong)) / 1e6 }.toArray
  }
}

/** fraud_pipeline: the paper's detector run both ways over one generated
  * corpus. Batch: `FraudRules.scoreTransactions` over the corpus in parquet,
  * written to a `noop` sink so every output column is computed. Stream: the
  * v2 topology fed by an open-loop generator at a fixed rate.
  */
object FraudPipeline {

  /** Open-loop send rate of the stream half, events per second. */
  val PacedRate = 1500

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val tiny = r.opts.tiny
    val (replicas, perReplica) = if (tiny) (16, 64) else (125, 160)
    val rate = if (tiny) 500 else PacedRate
    // the batch half makes three passes whatever --seconds says; the
    // stream half gets all of --seconds, because each micro-batch is one
    // independent latency sample
    val streamS = r.opts.seconds
    val sessionS = if (r.opts.trace) streamS / 2 else streamS
    var cached: Option[Dataset[GenRow]] = None
    val genNs = mutable.ArrayBuffer.empty[Long]
    val writeNs = mutable.ArrayBuffer.empty[Long]
    val (events, dir, corpus) = r.repeatedSetup(if (tiny) 1 else 3) { k =>
      cached.foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      val gen = Corpus.generate(spark, r.opts.seed, replicas, perReplica).cache()
      gen.count()
      val t1 = System.nanoTime()
      val dir = r.dir(s"input$k")
      gen.select(Corpus.WireColumns.map(col): _*).write.parquet(s"$dir/transactions.parquet")
      genNs += t1 - t0
      writeNs += System.nanoTime() - t1
      cached = Some(gen)
      (gen, dir, FraudStreams.render(r, gen, math.ceil(rate * sessionS).toInt))
    }
    val n = replicas.toLong * perReplica

    def pass(): Sample = {
      val t0 = System.nanoTime()
      val src = r.tracer.span("sources.Tables")(Tables(spark, dir, "transactions"))
      val scored = r.tracer.span("operators.scoreTransactions")(
        FraudRules.scoreTransactions(src, RapidTxCountV1))
      val t1 = System.nanoTime()
      r.tracer.span("exec.noop")(scored.write.format("noop").mode("overwrite").save())
      val t2 = System.nanoTime()
      Sample(t2 - t0, Map("build" -> (t1 - t0), "exec" -> (t2 - t1)))
    }

    // untimed warm-up and correctness pass: every event against the
    // reference fold
    r.phase("warm-up: batch check") {
      val actual0 = FraudRules.scoreTransactions(Tables(spark, dir, "transactions"), RapidTxCountV1)
        .select($"event_id", $"rule_high_amount", $"rule_rapid", $"rule_travel", $"score", $"status")
      val actual =
        if (!r.opts.corrupt) actual0
        else {
          val victim = events.select($"event_id").head().getString(0)
          actual0.withColumn("score",
            when($"event_id" === victim, $"score" + 1).otherwise($"score"))
        }
      val expScore = when($"exp_high", HighAmountScore).otherwise(0) +
        when($"exp_rapid", RapidScore).otherwise(0) + when($"exp_travel", TravelScore).otherwise(0)
      val ok = $"exp_high".isNotNull && $"score".isNotNull &&
        $"exp_high" === $"rule_high_amount" && $"exp_rapid" === $"rule_rapid" &&
        $"exp_travel" === $"rule_travel" && $"score" === expScore &&
        $"status" === when(expScore >= FraudThreshold, "FRAUD").otherwise("LEGIT")
      def hits(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      val row = events.select($"event_id", $"exp_high", $"exp_rapid", $"exp_travel")
        .join(actual, Seq("event_id"), "full_outer")
        .agg(count(lit(1)), hits(!ok), hits($"rule_high_amount"), hits($"rule_rapid"),
          hits($"rule_travel"), hits($"status" === "FRAUD"))
        .head()
      val bad = row.getLong(1) + math.abs(row.getLong(0) - n)
      r.attempted += n
      r.failed += bad
      if (bad > 0) r.note(s"FAIL batch: $bad of $n events missing or mis-scored")
      Seq("high_amount" -> 2, "rapid" -> 3, "travel" -> 4, "fraud" -> 5).foreach { case (k, i) =>
        r.check(row.getLong(i) > 0, s"batch: rule $k never fired")
        r.layer(s"rules.$k") = row.getLong(i).toDouble
      }
    }
    cached.foreach(_.unpersist())
    val pacer = new FraudStreams.Pacer(r, corpus, rate)
    r.phase("warm-up: stream")(pacer.session(math.min(corpus.rows.length, 500)))

    // the first noop pass after the check still compiles; keep it untimed
    r.phase("warm-up: batch pass")(pass())
    val batch = r.timed(3, 0)(_ => pass())
    val outs = mutable.ArrayBuffer.empty[(Outcome, Boolean)]
    val stream = r.timed(1, streamS) { _ =>
      val (out, t0) = pacer.session(corpus.rows.length)
      outs += ((out, r.tracer.enabled))
      val (at, _) = FraudStreams.verify(r, corpus, out)
      Sample(out.lastDeliveryNs - t0, latencyMs = pacer.latencies(at, t0))
    }
    // the Spark-wide per-layer metrics describe the batch passes
    r.lastTimed = batch

    val walls = batch.plain.map(_.wallNs / 1e9)
    val lat = stream.plain.flatMap(_.latencyMs)
    if (!r.opts.trace) {
      r.e2e("work_s") = Stats.median(walls)
      r.e2e("latency_p50_ms") = Stats.median(lat)
      r.e2e("latency_p99_ms") = Stats.quantile(lat, 0.99)
      r.note(f"batch: $n events over ${replicas * 8} cards, passes " +
        walls.map(w => f"$w%.3f").mkString(" ") + f" s, ${n / Stats.median(walls)}%.0f events/s")
      // events of one micro-batch share its delivery time, so the batches,
      // not the events, are the independent latency samples
      val batches = outs.filterNot(_._2).map(_._1.deliveries.asScala.count(_._2.nonEmpty)).sum
      r.note(f"stream: $rate events/s open loop for $sessionS%.1f s, ${lat.length} latency samples " +
        f"from $batches micro-batches, generator late by at most ${pacer.lateMs.max}%.1f ms")
    } else {
      val t = batch.traced
      r.layer("gen.generate_s") = Stats.median(genNs.map(_ / 1e9).toSeq)
      r.layer("sources.write_s") = Stats.median(writeNs.map(_ / 1e9).toSeq)
      r.layer("operators.build_ms") = Stats.median(t.map(_.parts("build") / 1e6))
      r.layer("exec.noop_s") = Stats.median(t.map(_.parts("exec") / 1e9))
      batch.totals.plans.lastOption.foreach { c =>
        r.layer("plan.window_nodes") = c("window").toDouble
        r.layer("plan.exchanges") = c("exchange").toDouble
        r.layer("plan.sorts") = c("sort").toDouble
      }
      r.layer("trace.overhead_frac") = Stats.median(t.map(_.wallNs / 1e9)) / Stats.median(walls) - 1
      val traced = outs.filter(_._2).map(_._1).toSeq
      FraudStreams.streamLayers(r, stream, traced.flatMap(_.queries.headOption.map(_.id)).toSet, traced)
      r.layer("stream.backlog_max_events") = pacer.backlog.last
      r.layer("gen.late_ms_max") = pacer.lateMs.last
    }
  }
}
