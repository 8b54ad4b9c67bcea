package graft

import org.apache.spark.sql.SparkSession

/** The session every harness main runs on: `local[SPARK_GRAFT_CPUS]`
  * (every available core when unset), one shuffle partition per core, UTC,
  * no UI, WARN logging. AQE is Spark 4's default and is left alone.
  * `streaming.Main` builds its own session: its master and shuffle width
  * are deployment settings.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else `Runtime.availableProcessors`; a value that
    * is not a positive integer fails instead of falling back silently.
    */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS='$v': expected a positive integer"))
  }

  def local(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
