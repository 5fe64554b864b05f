package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table registry over a scale-factor directory of parquet tables.
  *
  * Plays the role of the reference's `raw_edu` source schema
  * (reference: DbtEducationalDataProject/models/staging/sources.yml) —
  * every query resolves its inputs here, like dbt's `source()`.
  *
  * Scale note: each table is a parquet relation with full pushdown
  * (PushedFilters / ReadSchema pruning), so filters and projections
  * written against these tables reach the scan. Its schema is read
  * from one parquet footer on the driver, so resolving a table
  * launches no Spark job (Spark's own inference runs a one-task job
  * per read). At 100 TB the same code works over a partitioned table
  * root; nothing here assumes single files.
  *
  * Building one puts graft's fork-free `file:` filesystem in place on
  * `spark` ([[graft.io.ForkFreeLocalFs.install]]), as
  * [[graft.core.Warehouse]] does: a caller may hand in a session graft
  * did not build.
  */
final case class Catalog(spark: SparkSession, dir: String) {
  graft.io.ForkFreeLocalFs.install(spark)

  def table(name: String): DataFrame = ParquetFooters.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  def events: DataFrame     = Catalog.normalizeEventTs(table("events"))
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Resolved on-disk schema of the raw events table — what a file
    * STREAM over the same landing directory must declare (readStream
    * requires an explicit schema; hard-coding one bakes in a storage
    * encoding, which is exactly the break this probe prevents).
    */
  def eventsRawSchema: org.apache.spark.sql.types.StructType =
    table("events").schema
}

object Catalog {

  /** THE events-time chokepoint: normalize the `ts` column to the
    * canonical TIMESTAMP_NTZ whatever the storage encoding is. The
    * driver has shipped events.parquet as INT64 TIMESTAMP(NANOS)
    * (read as raw long under `spark.sql.legacy.parquet.nanosAsLong`)
    * and as timestamp[us] with no timezone (read as TIMESTAMP_NTZ);
    * a plain LTZ timestamp is also accepted. Every events consumer —
    * batch via `Catalog.events`, streams via
    * `normalizeEventTs(readStream…)` — goes through here, so a future
    * encoding change is a one-line fix instead of a five-site hunt.
    *
    * All sessions pin `spark.sql.session.timeZone=UTC`, so the
    * LTZ→NTZ cast is the identity on the wall clock (and DST-free).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // INT64 nanos-as-long: truncate to micros
        df.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case TimestampType => // LTZ: same instant, UTC wall clock
        df.withColumn("ts", col("ts").cast(TimestampNTZType))
      case TimestampNTZType => df
      case other =>
        throw new IllegalArgumentException(
          s"unsupported events.ts encoding: $other")
    }

  /** Micros since the epoch for any timestamp flavor. `unix_micros`
    * only accepts TIMESTAMP_LTZ; routing NTZ through a cast under the
    * pinned UTC session makes the same expression valid for both, so
    * time arithmetic (session gaps, range-join bins) never cares how
    * the source stored time.
    */
  def epochMicros(c: Column): Column = unix_micros(c.cast(TimestampType))
}
