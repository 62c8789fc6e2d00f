package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session —
  * `getOrCreate` — so the suite doesn't pay repeated startup), built
  * by [[GraftSession.builder]] so the specs exercise the configuration
  * the engine ships and the benchmark times. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * scoped to `bytes` ([[GraftSession.withConf]]). At 1 byte every
    * input is above the gate of [[SmallPlanToOneStage]] and
    * [[SmallSortToSinglePartition]]: a plan built inside is the plan an
    * input of cluster size gets. */
  def withAdvisory[T](bytes: Long)(body: => T): T =
    GraftSession.withConf(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      bytes.toString)(body)

  /** Runs `body` over a fresh temp directory named `prefix…` and
    * removes the directory however `body` exits. */
  def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir) finally LocalFiles.rmTree(dir.toFile)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
