package graft

/** One-line JSON of the ACTUAL measurement conditions of this JVM —
  * emitted by Bench and by perfbench so an artifact can never
  * again be read against assumed conditions (r14: an env var that
  * silently failed to cross a process boundary would have shipped rows
  * measured at the wrong parallelism with nothing in the artifact to
  * say so; the cross-check against task-thread count vs cpu/wall ratios
  * cost an afternoon).
  */
object Conditions {
  def row(label: String, extra: (String, String)*): String = {
    val xmx = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getMax / (1024L * 1024)
    val extras = extra.map { case (k, v) => s""","$k":"$v"""" }.mkString
    s"""{"metric":"${label}_conditions","heap_max_mb":$xmx""" +
      s""","spark_graft_cpus":"${sys.env.getOrElse("SPARK_GRAFT_CPUS", "<unset>")}"""" +
      s""","host_cores":${Runtime.getRuntime.availableProcessors}$extras}"""
  }
}
