package graft

/** A per-JVM, bounded LRU cache of driver-side values: parquet schemas,
  * trained models, frozen statistics and plan verdicts. Every such cache
  * in the engine is one of these, so they share one bound, one cold-build
  * attribution and one [[JvmCache.clearAll]].
  *
  * The lock is never held while a value is built. A build may run Spark
  * jobs, look up another key of the same cache, or run beside a build on
  * another thread (`TrainingPipeline.manifestOn` overlaps two); holding
  * the lock across it would serialize those jobs. Two threads that miss
  * the same key both build, and the first value stored wins.
  */
final class JvmCache[K, V](bound: Int = JvmCache.MaxEntries) {
  private val lru = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      this.size() > bound
  }
  JvmCache.live.synchronized(JvmCache.live.put(this, ()))

  def size: Int = lru.synchronized(lru.size())

  def get(key: K): Option[V] = lru.synchronized(Option(lru.get(key)))

  def put(key: K, value: V): Unit = lru.synchronized(lru.put(key, value)): Unit

  def clear(): Unit = lru.synchronized(lru.clear())

  /** The value for `key`, built on a miss with no cold-build record. */
  def getOrElseUpdate(key: K)(build: => V): V =
    get(key).getOrElse {
      val v = build
      lru.synchronized(Option(lru.putIfAbsent(key, v)).getOrElse(v))
    }

  /** The value for `key`; a miss records `coldTag` in [[ColdBuilds]] and
    * then builds.
    */
  def getOrBuild(key: K, coldTag: String)(build: => V): V =
    getOrElseUpdate(key) {
      ColdBuilds.record(coldTag)
      build
    }
}

object JvmCache {

  /** Entries per cache. Every key holds a small driver value (a schema,
    * a model of at most K × dims doubles, a verdict), so the bound caps
    * the number of dataset versions a long-running JVM remembers.
    */
  val MaxEntries = 256

  // weak keys: a cache a spec builds and drops is not kept alive here
  private val live = new java.util.WeakHashMap[JvmCache[_, _], Unit]

  /** Empty every cache in this JVM. */
  def clearAll(): Unit = {
    val caches = live.synchronized(new java.util.ArrayList(live.keySet))
    caches.forEach(_.clear())
  }
}
