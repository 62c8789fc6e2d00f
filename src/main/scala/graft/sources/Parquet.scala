package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** The one parquet opener of the program: `spark.read.parquet(path)`
  * with the schema read from one footer on the driver instead of in a
  * Spark job.
  *
  * `spark.read.parquet` infers the schema (with `mergeSchema` off) from
  * exactly one file's footer, but reads it in a one-task job that
  * ships a closure and the session's serialized Hadoop conf. Here the
  * driver reads that same footer and hands the schema to the reader
  * ([[FooterSchema]]), so the DataFrame, its plan and its partitions
  * are those of `spark.read.parquet`, and opening a table runs no job.
  * At 100 TB the driver reads one footer, as the one task did before.
  *
  * Falls back to `spark.read.parquet` where Spark must infer: with
  * `spark.sql.parquet.mergeSchema=true` (it then merges every footer),
  * and where the path holds no data file (it then raises its own
  * error). Schema-evolving trees read through `CatalogOps.mergedRead`.
  */
object Parquet {
  def read(spark: SparkSession, path: String): DataFrame =
    FooterSchema.infer(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
}
