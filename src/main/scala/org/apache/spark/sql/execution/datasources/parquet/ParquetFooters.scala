package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Table metadata read from parquet footers on the driver, with no
  * Spark job. `spark.read.parquet(path)` infers a schema by launching
  * a one-task job that reads one footer, and `count()` launches a job
  * that reads every footer's row-group row counts; a CI check's short
  * queries pay for dozens of such jobs. The helpers
  * that turn a footer into a Spark schema are `private[parquet]`, so
  * this bridge lives in Spark's parquet package (the same shim
  * rationale as `graftbridge.ColumnBridge`).
  */
object ParquetFooters {

  /** Data files under `path` in the order Spark's file index lists
    * them: a directory's files before its subdirectories' files, and
    * `_`/`.`-prefixed entries skipped by Spark's own rule (partition
    * backups, `_SUCCESS`, checksum files). Summary files
    * (`_metadata`, `_common_metadata`) are not data files. A file
    * path is its own single data file; a missing path has none.
    */
  def dataFiles(conf: Configuration, path: String): Iterator[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      !HadoopFSUtils.shouldFilterOutPathName(n) &&
        !n.startsWith("_metadata") && !n.startsWith("_common_metadata")
    }
    def walk(dir: Path): Iterator[FileStatus] = {
      val (dirs, files) = fs.listStatus(dir).filter(visible).partition(_.isDirectory)
      files.iterator ++ dirs.iterator.flatMap(d => walk(d.getPath))
    }
    if (!fs.exists(root)) Iterator.empty
    else {
      val st = fs.getFileStatus(root)
      if (st.isDirectory) walk(root) else Iterator.single(st)
    }
  }

  private def footer(conf: Configuration, f: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** The data schema Spark infers with `mergeSchema` off: the first
    * data file's footer, through the Spark schema stored in its
    * key-value metadata when present, else converted under the
    * session's parquet confs (nanos-as-long, NTZ inference, binary as
    * string). Partition columns are not part of it; Spark discovers
    * them from the paths. None when `path` holds no data file.
    */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(conf, path).nextOption().map { f =>
      val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, footer(conf, f)),
        new ParquetToSparkSchemaConverter(sqlConf))
    }
  }

  /** `spark.read.parquet(path)` with the data schema taken from
    * [[schema]], so resolving the relation launches no job. Partition
    * columns are still discovered from the paths. With no data file
    * under `path` Spark's own read runs, and fails the way it always
    * has (path not found, or no schema to infer).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    schema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Rows under `path`: the sum of every data file's row-group row
    * counts. The footer is read with no row-group filter; a filtered
    * read drops the row groups and would count 0.
    */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(conf, path).map { f =>
      var n = 0L
      footer(conf, f).getBlocks.forEach(b => n += b.getRowCount)
      n
    }.sum
  }
}
