package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites run in a single
  * forked JVM; creating a session per suite wastes ~5 s each).
  */
object TestSpark {

  /** Root of the driver-generated parquet fixtures, resolvable on machines
    * where `/root/testdata` doesn't exist (ADVICE r11: the fixture-drift
    * tripwire should CANCEL with a clear message elsewhere, not hard-fail):
    * `GRAFT_TESTDATA=...` overrides the default.
    */
  val testdataRoot: String =
    sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")

  /** The sf0.001 fixture dir every spec reads. */
  val sf0001: String = s"$testdataRoot/sf0.001"

  /** True when the fixture root is present; specs that need it call
    * `assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)` so an
    * absent root cancels with an actionable message instead of failing.
    */
  def fixturesPresent: Boolean = new java.io.File(sf0001).isDirectory
  val fixturesHint: String =
    s"testdata not found at $sf0001 — point GRAFT_TESTDATA at the fixture root"

  /** AQE-aware executed-plan traversal shared by the plan-shape specs
    * (BmStoreSpec / PlanShapeSpec): AdaptiveSparkPlanExec
    * and QueryStageExec hide their inner plan from a plain `collect`, so
    * any future traversal fix lands once here instead of silently
    * diverging across suites (self-review r12).
    */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.SparkPlan]
    def go(n: org.apache.spark.sql.execution.SparkPlan): Unit = {
      buf += n
      n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          go(q.plan)
        case other => other.children.foreach(go)
      }
    }
    go(p)
    buf.toSeq
  }

  /** [[planNodes]] of an EXECUTED DataFrame (count() forces AQE's final
    * plan).
    */
  def executedNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.count()
    planNodes(df.queryExecution.executedPlan)
  }

  def executedScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    executedNodes(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }

  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
