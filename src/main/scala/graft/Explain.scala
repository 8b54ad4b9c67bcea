package graft

/** Plan auditor: prints the formatted physical plan for the named queries
  * (default: the bench headline) so pushdown / broadcast / codegen can be
  * eyeballed. `sbt "runMain graft.Explain [sfDir] [query...]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Bench.headline
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
