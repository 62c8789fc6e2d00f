package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry key: the Spark builder the driver runs over
  * `(session, sfDir)` and the DuckDB SQL its result is hash-checked
  * against, declared side by side. The oracle SQL is built on first
  * use, so indexing the registry and running builders never pays for
  * the generated oracle cascades. */
final class Key(val name: String,
    val build: (SparkSession, String) => DataFrame, oracleSql: => String) {
  lazy val oracle: String = oracleSql
}

object Key {

  def apply(name: String, build: (SparkSession, String) => DataFrame,
            oracle: => String): Key = new Key(name, build, oracle)

  /** Index `keys` by name. A name declared twice throws, naming it: a
    * Map built from a repeated name would silently keep only one. */
  def byName(keys: Seq[Key]): Map[String, Key] = {
    val dups = keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    require(dups.isEmpty,
      s"registry key declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    keys.map(k => k.name -> k).toMap
  }
}
