package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Dev-only: SPARK_GRAFT_ONLY=a,b,c limits the dump to named queries
    // (unset in the driver run → full surface).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Dev-only twin of check_oracle.py --skip-recursive (r20): drop the
    // queries whose DuckDB oracle is a recursive-CTE fixpoint — the
    // pruned sf0.1 standing gate's Spark side.
    val skipRecursive = sys.env.get("SPARK_GRAFT_SKIP_RECURSIVE").contains("1")
    def isPruned(name: String): Boolean = skipRecursive &&
      SparkEntry.oracleSql.get(name).exists(_.toUpperCase.contains("RECURSIVE"))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) && !isPruned(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
