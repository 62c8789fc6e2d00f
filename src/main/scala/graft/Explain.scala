package graft

/** Plan-inspection tool: `sbt "runMain graft.Explain <sfDir> <query>..."`
  * prints `explain("formatted")` for the named queries (all if none
  * given) — the loop used to confirm pushdown, pruning, broadcast
  * choices and codegen spans (SURVEY §5). The session is
  * [[GraftSession.local]] at `$SPARK_GRAFT_CPUS` (default 4), so the
  * printed plans are the plans Verify and Bench run, AQE rules of
  * [[GraftExtensions]] included.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
    else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
