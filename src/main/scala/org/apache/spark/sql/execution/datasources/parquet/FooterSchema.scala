package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Package-access shim: the data schema `spark.read.parquet(path)`
  * infers with `mergeSchema` off, read from one footer on the driver.
  *
  * Spark's own inference reads the footer of one file in a one-task
  * Spark job (`SchemaMergeUtils.mergeSchemasInParallel`), which ships a
  * task closure and the serialized Hadoop conf for a single footer
  * read. This shim reads the same footer without the job:
  *
  *  - the path is globbed, checked and listed by Spark's own
  *    `DataSource.checkAndGlobPathIfNecessary` and [[InMemoryFileIndex]],
  *    so globs, nested partition directories and missing paths behave
  *    as in `spark.read.parquet`;
  *  - the file is the one `ParquetUtils.inferSchema` picks from the
  *    index's `allFiles` (which holds no `.`-prefixed file and no
  *    `_`-prefixed one but the summaries): a `_common_metadata`
  *    summary, else a `_metadata` one, else the first file by path;
  *  - the footer goes through `ParquetFileFormat.readSchema`, which
  *    honours Spark's row-metadata key, `binaryAsString`,
  *    `int96AsTimestamp`, TIMESTAMP_NTZ inference and `nanosAsLong`.
  *
  * `None` means "let Spark infer": `spark.sql.parquet.mergeSchema` is
  * on, there is no file to read (Spark then raises its own error), or
  * a data column shares its name with a partition directory (Spark
  * places and types such a column differently when given the schema).
  */
object FooterSchema {
  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) return None
    val conf = spark.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), conf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val index = new InMemoryFileIndex(spark, roots, Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !isSummary(f.getPath.getName)))
      .flatMap { f =>
        ParquetFileFormat.readSchema(ParquetFileFormat
          .readParquetFootersInParallel(conf, Seq(f), sqlConf.ignoreCorruptFiles),
          spark)
      }
      .filterNot(_.exists(c => index.partitionSchema.exists(p =>
        sqlConf.resolver(p.name, c.name))))
  }

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_METADATA_FILE
}
