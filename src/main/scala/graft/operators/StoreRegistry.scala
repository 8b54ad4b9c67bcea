package graft.operators

/** Best-effort provenance for the persisted store families (r20, the
  * SCALE_r20 cold-capture lesson): [[graft.StoreGc]]'s liveness used to
  * come ONLY from the caller's declared dataset list, and the first sf1
  * capture this round ran against stores a sweep had reaped because the
  * hand-typed list omitted `target/sf1` — the documented footgun firing
  * in practice. The fix derives what the caller was being asked to
  * remember: every store-root RESOLUTION already knows its dataset dir,
  * so the one store-root resolver
  * ([[graft.sources.Datasets.storeRoot]]) records it here, and the reaper
  * treats "a dataset that ever resolved a store and still exists on
  * disk" as live alongside the declared list. Deleting a dataset dir
  * (spec fixtures, calibration copies) kills its registry entries'
  * effect immediately — liveness is re-checked against the filesystem
  * at sweep time, and non-dry sweeps compact dead lines away.
  *
  * Strictly additive to correctness: registry writes are best-effort
  * (an IO failure never fails a serve), and a LOST entry only degrades
  * to the old behavior (declared-roots-only, cold rebuild on mistake —
  * correctness-safe by the stores' cache contract).
  */
private[graft] object StoreRegistry {

  /** Per-JVM dedup so each dataset dir is appended at most once per
    * process (resolvers run per query invocation).
    */
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-user (the scan-calib lesson: shared /tmp paths get clobbered
    * across users) under the same tmp root the families live in.
    */
  private[graft] def registryFile(tmpRoot: String =
      sys.props.getOrElse("java.io.tmpdir", "/tmp")): java.io.File =
    new java.io.File(tmpRoot,
      s"graft_store_registry_${sys.props.getOrElse("user.name", "anon")}.tsv")

  /** Record a canonical dataset dir (see [[graft.sources.Datasets]]). */
  def note(canonicalDir: String): Unit =
    if (seen.add(canonicalDir)) appendLine(canonicalDir)

  private def appendLine(line: String): Unit = synchronized {
    try {
      val w = new java.io.FileWriter(registryFile(), true)
      try w.write(line + "\n")
      finally w.close()
    } catch {
      case _: java.io.IOException => () // best-effort, never fatal
    }
  }

  /** Registered dataset dirs that still exist — the sweep-time liveness
    * check (a deleted dataset's stores become reapable the moment the
    * dir is gone, regardless of what the registry remembers).
    */
  private[graft] def liveDirs(tmpRoot: String =
      sys.props.getOrElse("java.io.tmpdir", "/tmp")): Seq[String] = {
    val f = registryFile(tmpRoot)
    if (!f.isFile) Seq.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val dirs =
        try src.getLines().map(_.trim).filter(_.nonEmpty).toSeq.distinct
        finally src.close()
      dirs.filter(new java.io.File(_).isDirectory)
    }
  }

  /** Drop dead lines (GC housekeeping on non-dry sweeps). */
  private[graft] def compact(tmpRoot: String =
      sys.props.getOrElse("java.io.tmpdir", "/tmp")): Unit = synchronized {
    val f = registryFile(tmpRoot)
    if (f.isFile) {
      val alive = liveDirs(tmpRoot)
      try {
        val w = new java.io.FileWriter(f, false)
        try alive.foreach(d => w.write(d + "\n"))
        finally w.close()
      } catch {
        case _: java.io.IOException => ()
      }
    }
  }
}
