package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema `spark.read.parquet(paths)` would infer, resolved on the
  * driver. Spark's inference (`ParquetUtils.inferSchema`) reads its
  * footer through `mergeSchemasInParallel`, which starts a Spark job
  * even for one file. This bridge touches the same file and converts
  * it with Spark's own footer reader and converter
  * (`readParquetFootersInParallel` on driver threads, then
  * `readSchema`), so the session's binary-as-string, INT96, NTZ and
  * nanos-as-long settings and the Spark row-metadata key apply as they
  * do in Spark. It lives in this package because those helpers are
  * private[parquet] (the same one-object-bridge technique as
  * `GraftShims`). Nothing is cached: every call opens its footer.
  */
object GraftParquetSchema {

  /** The schema `spark.read.parquet(paths: _*)` resolves, or None
    * where Spark's own inference must run: a session with `mergeSchema`
    * on, a missing path (a glob included), a nested (partitioned)
    * layout, no data file, or a footer skipped as corrupt. */
  def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val listed = try paths.flatMap { p =>
      val path = new Path(p)
      path.getFileSystem(hadoopConf).listStatus(path).toSeq
    } catch { case _: java.io.FileNotFoundException => return None }
    val leaves = listed
      .filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
      .sortBy(_.getPath.toString)
    if (leaves.exists(_.isDirectory)) return None
    // ParquetUtils.inferSchema's choice over the path-sorted leaves:
    // `_common_metadata`, else `_metadata`, else the first data file
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val data = leaves.filterNot(f =>
      Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)(f.getPath.getName))
    if (data.isEmpty) return None
    val touch = named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE)).getOrElse(data.head)
    // nullable throughout, as a file-source relation's data schema is
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      hadoopConf, Seq(touch), conf.ignoreCorruptFiles), spark).map(_.asNullable)
  }

  /** The schema of `spark.read.parquet(paths: _*)`, with no job where
    * [[footerSchema]] resolves it. */
  def schemaOf(spark: SparkSession, paths: Seq[String]): StructType =
    footerSchema(spark, paths).getOrElse(spark.read.parquet(paths: _*).schema)

  /** `spark.read.parquet(paths: _*)`, handed the footer schema where
    * [[footerSchema]] resolves it, so building the frame starts no job. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
}
