package graft

/** Dev-loop peeker for registered queries:
  *  - `plan` prints each query's formatted physical plan, so pushdown,
  *    broadcasts and codegen can be eyeballed (default: the bench
  *    headline);
  *  - `rows` collects and prints each query's first 30 rows (default:
  *    `q_pricing_summary`).
  *
  * `sbt "runMain graft.Show plan|rows [sfDir] [query...]"`; an unknown
  * query name fails before the session starts.
  */
object Show {

  /** (plan mode?, sfDir, registered query names) from the arguments. */
  private[graft] def parse(args: Array[String]): (Boolean, String, Seq[String]) = {
    require(args.headOption.exists(Set("plan", "rows")),
      "usage: Show plan|rows [sfDir] [query...]")
    val plan = args(0) == "plan"
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else if (plan) Bench.headline
      else Seq("q_pricing_summary")
    (plan, args.lift(1).getOrElse("/root/testdata/sf0.01"), SparkEntry.registered(names))
  }

  def main(args: Array[String]): Unit = {
    val (plan, sfDir, names) = parse(args)
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (plan) df.explain("formatted") else df.show(30, truncate = false)
    }
    spark.stop()
  }
}
