package org.apache.spark.sql.execution.datasources.parquet

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet schema inference without a Spark job. `spark.read.parquet(path)`
  * infers its schema through `mergeSchemasInParallel`, which reads even a
  * single footer in a one-task job. [[footerSchema]] reads the footer Spark
  * would pick on the driver and converts it with Spark's own
  * `ParquetFileFormat.readSchema` (same converter, same session confs), so
  * `spark.read.schema(s).parquet(path)` gives the frame the inferring read
  * gives. `readSchema` is `private[parquet]`, hence this package.
  */
object GraftParquetShims {

  /** The schema `spark.read.parquet(path)` would infer, when `path` is one
    * file or a flat directory of data files: the file itself, or the
    * directory's first data file in path order (hidden files skipped as
    * Spark's file index skips them). `None` for anything else — a missing
    * path, a glob, partition subdirectories, summary files, no data file,
    * an unreadable footer — which leaves the inference to Spark.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    Try(fs.getFileStatus(p)).toOption.flatMap { st =>
      if (st.isFile) Some(st) else firstDataFile(fs.listStatus(p))
    }.flatMap { f =>
      ParquetFileFormat.readSchema(
        ParquetFileFormat.readParquetFootersInParallel(conf, Seq(f),
          ignoreCorruptFiles = false), spark)
    }.map(_.asNullable) // as a file source relation reports its data schema
  }

  private def firstDataFile(children: Array[FileStatus]): Option[FileStatus] = {
    val listed = children.filterNot(c =>
      HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
    val summaries = Set(ParquetFileWriter.PARQUET_METADATA_FILE,
      ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    if (listed.exists(c => c.isDirectory || summaries(c.getPath.getName))) None
    else listed.sortBy(_.getPath.toString).headOption
  }
}
