package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation,
  IntLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.parquet.schema.Type.Repetition

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.RebaseDateTime
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StructType,
  TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.HadoopFSUtils

/** Table metadata read from parquet footers on the driver, with no
  * Spark job. `spark.read.parquet(path)` infers a schema by launching
  * a one-task job that reads one footer, `count()` launches a job
  * that reads every footer's row-group row counts, and `max()` a job
  * that scans the column; a CI check's short queries pay for dozens
  * of such jobs. The helpers that turn a footer into a Spark schema
  * are `private[parquet]`, so this bridge lives in Spark's parquet
  * package (the same shim rationale as `graftbridge.ColumnBridge`).
  */
object ParquetFooters {

  /** Data files under `path` in the order Spark's file index lists
    * them: a directory's files before its subdirectories' files, and
    * `_`/`.`-prefixed entries skipped by Spark's own rule (partition
    * backups, `_SUCCESS`, checksum files). Summary files
    * (`_metadata`, `_common_metadata`) are not data files. A file
    * path is its own single data file; a missing path has none. Paths
    * are qualified, as a Spark file index holds them.
    */
  def dataFiles(conf: Configuration, path: String): Iterator[FileStatus] = {
    val root = qualified(conf, path)
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

  private def qualified(conf: Configuration, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(conf).makeQualified(p)
  }

  private def footer(conf: Configuration, f: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.NO_FILTER)

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** One data file's Spark schema: the one stored in its key-value
    * metadata when present, else its parquet schema converted under
    * the session's parquet confs (nanos-as-long, NTZ inference, binary
    * as string).
    */
  private def sparkSchema(spark: SparkSession, f: FileStatus, meta: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
      new ParquetToSparkSchemaConverter(classic(spark).sessionState.conf))

  /** The DataFrame `spark.read.parquet(path)` gives, built from graft's
    * own listing. The relation is the one Spark's parquet source
    * resolves: an `InMemoryFileIndex`, `ParquetFileFormat`, and the
    * schema Spark infers with `mergeSchema` off (the first data file's)
    * minus the partition columns, nullable. But the index takes its
    * files from [[dataFiles]] through a private cache, so the read
    * launches no job and skips the data-source lookup, the glob check
    * and the second listing Spark's reader makes.
    * Partition columns are still inferred from the paths. The listing
    * holds no block locations, as with Spark's `ignoreDataLocality`.
    *
    * Spark's reader runs instead when `path` holds no data file, so it
    * fails the way it always has (path not found, or no schema to
    * infer), and when it holds a `_spark_metadata` log: a file sink's
    * output is read through the log's index, with the footer schema of
    * the first file the log commits — the file Spark infers from. A
    * listing can put a file the log never committed first.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(conf, path).toArray
    if (files.isEmpty) return spark.read.parquet(path)
    val session = classic(spark)
    val sqlConf = session.sessionState.conf
    if (FileStreamSink.hasMetadata(Seq(path), conf, sqlConf)) {
      val logged = new MetadataLogFileIndex(session, qualified(conf, path), Map.empty, None)
        .allFiles()
      if (logged.isEmpty) spark.read.parquet(path)
      else spark.read.schema(sparkSchema(spark, logged.head, footer(conf, logged.head)))
        .parquet(path)
    } else {
      val s = sparkSchema(spark, files.head, footer(conf, files.head))
      val root = qualified(conf, path)
      val options = Map("path" -> path)
      val index = new InMemoryFileIndex(session, Seq(root), options, Some(s),
        new Listed(root, files))
      val partitions = index.partitionSchema
      val data = StructType(s.filterNot(f =>
        partitions.exists(p => sqlConf.resolver(p.name, f.name))))
      SchemaUtils.checkSchemaColumnNameDuplication(data, sqlConf.resolver)
      SchemaUtils.checkSchemaColumnNameDuplication(partitions, sqlConf.resolver)
      session.baseRelationToDataFrame(HadoopFsRelation(index, partitions, data.asNullable,
        None, new ParquetFileFormat(), options)(session))
    }
  }

  /** A file-status cache that answers for one table root with a
    * listing already made. A refresh invalidates it, and the index
    * then lists the way Spark does.
    */
  private final class Listed(root: Path, files: Array[FileStatus]) extends FileStatusCache {
    @volatile private var held: Option[Array[FileStatus]] = Some(files)
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (path == root) held else None
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = held = None
  }

  /** The value `spark.read.parquet(path).agg(max(column)).head.get(0)`
    * returns, from the row-group statistics in the footers: Some(null)
    * when every value is null or there is no row, and None when the
    * statistics cannot tell, so the query must run.
    *
    * The statistics tell when the column is a top-level data column
    * whose parquet order is Spark's in every data file: a signed
    * INT32/INT64 read as int or long, a DATE, or a TIMESTAMP in micros
    * (with or without time zone); and every row group with rows has
    * statistics for it (a row group of nulls only is skipped). Dates
    * and timestamps must also lie past the last Julian/Gregorian
    * switch, where Spark reads them as stored in every rebase mode.
    * Anything else falls back: strings, binary, floats, decimals,
    * INT96, nanos read as long, a row group without statistics, and a
    * partition column, which no footer holds (Microbatch's period
    * column is one, so its window query always runs).
    */
  def max(spark: SparkSession, path: String, column: String): Option[Any] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(conf, path).toSeq
    val metas = files.map(footer(conf, _))
    val at = ColumnPath.get(column)
    for {
      first <- files.headOption
      t <- sparkSchema(spark, first, metas.head).find(_.name == column).map(_.dataType)
      if metas.forall(stored(_, column, t))
      ranges = metas.flatMap(_.getBlocks.asScala).filter(_.getRowCount > 0).map(range(_, at))
      if ranges.forall(_.isDefined)
      present = ranges.flatten.flatten
      if present.forall(_._1 >= floor(t))
    } yield present.map(_._2).maxOption.map(v => CatalystTypeConverters.convertToScala(
      if (t == IntegerType || t == DateType) v.toInt else v, t)).orNull
  }

  /** A row group's (min, max) for the column at `at`: Some(None) when
    * it holds nulls only, None when its statistics cannot tell.
    */
  private def range(b: BlockMetaData, at: ColumnPath): Option[Option[(Long, Long)]] =
    b.getColumns.asScala.find(_.getPath == at).map(_.getStatistics).flatMap { st =>
      if (st == null || st.isEmpty) None
      else if (st.hasNonNullValue) Some(Some((
        st.genericGetMin.asInstanceOf[Number].longValue,
        st.genericGetMax.asInstanceOf[Number].longValue)))
      else if (st.isNumNullsSet && st.getNumNulls == b.getRowCount) Some(None)
      else None
    }

  /** The smallest stored value Spark reads unchanged in every rebase
    * mode.
    */
  private def floor(t: DataType): Long = t match {
    case DateType => RebaseDateTime.lastSwitchJulianDay.toLong
    case TimestampType | TimestampNTZType => RebaseDateTime.lastSwitchJulianTs
    case _ => Long.MinValue
  }

  /** Whether `column` is stored in this file in an order Spark's type
    * `t` shares: a top-level, non-repeated signed INT32/INT64, a DATE
    * or a TIMESTAMP(MICROS).
    */
  private def stored(meta: ParquetMetadata, column: String, t: DataType): Boolean = {
    val schema = meta.getFileMetaData.getSchema
    schema.containsField(column) && {
      val f = schema.getType(schema.getFieldIndex(column))
      f.isPrimitive && !f.isRepetition(Repetition.REPEATED) && {
        val p = f.asPrimitiveType
        (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation, t) match {
          case (INT32, null, IntegerType) | (INT64, null, LongType) => true
          case (INT32, i: IntLogicalTypeAnnotation, IntegerType) =>
            i.isSigned && i.getBitWidth == 32
          case (INT64, i: IntLogicalTypeAnnotation, LongType) =>
            i.isSigned && i.getBitWidth == 64
          case (INT32, _: DateLogicalTypeAnnotation, DateType) => true
          case (INT64, ts: TimestampLogicalTypeAnnotation, TimestampType | TimestampNTZType) =>
            ts.getUnit == TimeUnit.MICROS
          case _ => false
        }
      }
    }
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
