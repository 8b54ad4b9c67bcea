package graft

/** The counter-tripwire idiom, extracted (r15, VERDICT r14 #9 — the
  * stale-gate lesson institutionalized): every auto-routing plan gate
  * ships a VOLUME PROBE that records, per executed arm, an
  * execution-observable row count (candidates scored, messages joined,
  * postings read), so a spec can assert the router's arms differ where
  * they should. The r14 jaccard gate shipped inverted for four rounds
  * precisely because its toggle was only ever checked by output equality
  * and wall-clock — both of which an inverted gate preserves; a volume
  * counter cannot be fooled that way.
  *
  * Existing instance of the idiom outside this object: the components
  * fixpoint's per-round message-source counter (Dedup.CcProbe). This object is the
  * REUSABLE seam for new gates: cheap when silent (callers only count
  * under their own probe property), driver-side, single-JVM — a test
  * seam, not telemetry.
  */
object PlanVolume {

  /** Bounded like CcProbe (ADVICE r15: a long-running serve stream with a
    * volume probe left ON records one entry per batch forever — the same
    * slow driver leak the bounded planCache fixed). [[BoundedRing]]:
    * newest 4096 kept, O(1) eviction; far more than any spec reads.
    */
  private val buf = new BoundedRing[(String, String, Long)](4096)

  def reset(): Unit = synchronized(buf.clear())

  /** Record that `probe`'s executed arm `arm` processed `rows` rows. */
  def record(probe: String, arm: String, rows: Long): Unit =
    synchronized(buf.add((probe, arm, rows)))

  def records(probe: String): Seq[(String, Long)] = synchronized(
    buf.toSeq.filter(_._1 == probe).map(r => (r._2, r._3)))
}
