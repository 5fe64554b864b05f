package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main, tool and test builds its
  * session here, so plan dumps, timings, the oracle dump and the tests
  * read data under the same conf contract:
  *
  *  - `local[cores]`, with one shuffle partition per core;
  *  - `spark.sql.session.timeZone=UTC` — the events-ts normalization in
  *    [[graft.sources.Catalog]] and every oracle assume it;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`, so INT64-nanos
  *    timestamps read as raw longs (the encoding the oracle relies on);
  *  - no Spark UI, and the warehouse dir under the JVM tmpdir;
  *  - `file:` paths go through [[graft.io.ForkFreeLocalFs]], which
  *    starts no `chmod` or `readlink` process per file.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Get or build the session. `shufflePartitions` defaults to `cores`;
    * `master` replaces `local[cores]` for a deployment that names one.
    */
  def apply(cores: Int = cpus, shufflePartitions: Option[Int] = None,
      master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_spark_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.io.ForkFreeLocalFs.install(s)
    s
  }

  /** Stop `spark`, clear the builder's cached active and default
    * sessions, and build a fresh one (Bench's per-pass recycle).
    */
  def restart(spark: SparkSession): SparkSession = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    apply()
  }
}
