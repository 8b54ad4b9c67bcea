package graft

/** Result peeker: collects and prints the named queries' rows (default
  * limit 30) — the dev loop's "just show me the output" counterpart to
  * [[Explain]]. `sbt "runMain graft.Show [sfDir] [query...]"`.
  */
object Show {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q1_agg")
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).show(30, truncate = false)
    }
    spark.stop()
  }
}
