package graft.tools

import graft.{GraftSession, SparkEntry}

/** Diagnostic: wall-time selected registry queries (cold + warm)
  * through the same noop sink Bench uses — the quick per-query
  * timing loop for perf work, without running the whole suite.
  *
  * Run: `sbt "runMain graft.tools.QTime q_a q_b ..."`
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32).
  */
object QTime {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QTime <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000L).write.format("noop").mode("overwrite").save()
    def once(q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (q <- args) {
      val cold = once(q)
      val warm = once(q)
      println(f"[qtime] $q%-24s cold=$cold%7.2f s  warm=$warm%7.2f s")
    }
    spark.stop()
  }
}
