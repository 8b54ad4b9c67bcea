package graft

/** JVM-wide registry of COLD CACHE BUILDS — every per-JVM / per-content
  * cache helper (Lloyd k-means trainer, ANN index train sample, BM25
  * store build / frozen-stats collect, the jaccard postings count behind
  * the prefix screen's broadcast gate, …) records a named event when it
  * actually executes its BUILDING branch (a cache hit records nothing;
  * [[JvmCache.getOrBuild]] records the tag on a miss). Bench snapshots
  * the registry around each timed query and emits the cold builds that fired inside that
  * timer into the artifact row, and WarmServe gates on it (VERDICT r13 #2/#7): a
  * cached-helper query whose first invocation pays a one-time build can
  * then never book that build into its own serve cost unnoticed — the
  * exact misread behind r12's embedding_kmeans "18.3 s" vs r13's honest
  * "42 s build + 4.3 s serve", and the suspected cause of the r13
  * kmeans 4.1× CPU jump.
  *
  * Event names are coarse component labels ("kmeans_trainer",
  * "bm_store_build", …), deliberately few: the artifact consumer needs
  * "which one-time cost landed in this timer", not a trace.
  */
object ColdBuilds {

  private val events = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def record(what: String): Unit = { events.add(what); () }

  /** [[record]] with the phase's wall seconds baked into the tag
    * (`"sig_absorb_base_sigs:61.2s"`): for multi-phase cold builds the
    * artifact row then ATTRIBUTES its build cost phase by phase instead
    * of naming one opaque umbrella (VERDICT r15 #2 — the 80.5 s stored-
    * components cold build needed to say what it bought).
    */
  def timed[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    record(f"$what:${(System.nanoTime() - t0) / 1e9}%.1fs")
    r
  }

  /** Position marker for the snapshot idiom:
    * `val m = mark(); …timed work…; since(m)` — the cold builds that
    * fired inside the timed window (single-threaded driver issue order;
    * the queue preserves insertion order).
    */
  def mark(): Int = events.size

  def since(m: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    events.asScala.toSeq.drop(m)
  }
}
