package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name filter, for
    // partial-table dirs (e.g. the round-8 sf1 replica has only
    // `documents`). The driver's two-arg call is unchanged.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').map(_.trim).toSet))
      case _ => sys.error("usage: Verify <sfDir> <outDir> [q1,q2,...]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the session Bench times, so the oracle gate checks that config
    val spark = GraftSession.local(cpus)
    CkptGc.quietUnpersistWarnings()
    new java.io.File(outDir).mkdirs()
    // On failure, DELETE the query's output dir: when outDir is
    // reused, a previous run's parquet would otherwise survive a
    // crash and the downstream compare would happily hash-match stale
    // results — a thrown query must surface as a missing/err row,
    // never as a phantom pass. `rmTree` skips an unlistable subtree
    // instead of throwing, so the delete cannot escape the per-query
    // catch and abort the loop.
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // sweep per-query localCheckpoint blocks (CkptGc) so the
      // 270-dump session doesn't accumulate storage memory
      val ckptBefore = CkptGc.snapshot(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        LocalFiles.rmTree(new java.io.File(s"$outDir/$name"))
      }
      CkptGc.sweep(spark, ckptBefore)
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
    // In filtered mode, emit only the filtered queries' oracles:
    // otherwise check.py reports a spurious FAIL for every skipped
    // query, and — in a REUSED outDir — would compare a skipped
    // query's stale parquet from an earlier run as if it were fresh
    // (the same phantom-pass hazard rmTree above exists to kill).
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
