package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooters
import org.apache.spark.sql.functions._

import graft.core.{Scratch, Snapshot, Warehouse}
import graft.sources.Catalog

/** Warehouse and Catalog reads take their schema from one parquet
  * footer and their row counts from every footer, on the driver. Both
  * must agree with what Spark's own inference and `count()` give, on
  * every table shape the engine writes, and launch no Spark job.
  */
class FooterSpec extends SparkSpec {

  /** The sf0.01 inputs beside the shared sf0.001 test data. */
  private val sf = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString

  /** Runs `f` under a fresh job group and returns the jobs it launched. */
  private def jobsOf(f: => Unit): Int = {
    val group = s"footer-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  private def assertMatchesSpark(wh: Warehouse, schema: String, table: String): Unit = {
    val inferred = spark.read.parquet(wh.path(schema, table))
    var got: DataFrame = null
    var rows = -1L
    assert(jobsOf { got = wh.read(schema, table); got.schema; rows = wh.rowCount(schema, table) } == 0,
      s"$schema.$table: a footer read or count launched a Spark job")
    assert(got.schema == inferred.schema, s"$schema.$table schema")
    assert(rows == inferred.count(), s"$schema.$table row count")
    assert(got.exceptAll(inferred).isEmpty && inferred.exceptAll(got).isEmpty,
      s"$schema.$table rows")
  }

  /** The m14 swap shape: a completed partition swap's hidden backup. */
  private def plantBackup(wh: Warehouse, table: String, partition: String): Unit = {
    val live = java.nio.file.Paths.get(wh.path("raw", table), partition)
    val old = live.resolveSibling(wh.hiddenOldName(live.getFileName.toString))
    java.nio.file.Files.createDirectories(old)
    java.nio.file.Files.list(live).forEach(f =>
      java.nio.file.Files.copy(f, old.resolve(f.getFileName)))
  }

  test("Warehouse.read and rowCount agree with Spark's inference and count() on every table shape") {
    val wh = Warehouse.scratch(spark, "footer")
    val base = spark.range(0L, 2000L)
      .select(col("id"), (col("id") % 3).cast("int").as("yr"),
        (col("id") % 2).cast("string").as("half"),
        concat(lit("k"), col("id").cast("string")).as("name"),
        timestamp_micros(col("id") * 1000000L).as("ts"))

    wh.write(base.repartition(4), "raw", "flat")
    assert(new java.io.File(wh.path("raw", "flat")).list()
      .count(_.endsWith(".parquet")) > 1, "the flat table must be multi-file")
    assertMatchesSpark(wh, "raw", "flat")

    wh.write(base, "raw", "by_yr", partitionBy = Seq("yr"))
    plantBackup(wh, "by_yr", "yr=1")
    assertMatchesSpark(wh, "raw", "by_yr")

    wh.write(base, "raw", "by_yr_half", partitionBy = Seq("yr", "half"))
    plantBackup(wh, "by_yr_half", "yr=2/half=0")
    assertMatchesSpark(wh, "raw", "by_yr_half")

    wh.write(base.filter(col("id") < 500), "raw", "appended")
    wh.write(base.filter(col("id") >= 500), "raw", "appended", mode = "append")
    assertMatchesSpark(wh, "raw", "appended")

    Snapshot.capture(wh, "snapshots", "snap", base.filter(col("id") < 100),
      Seq("id"), "ts")
    Snapshot.capture(wh, "snapshots", "snap",
      base.filter(col("id") < 150).withColumn("ts", col("ts") + expr("interval 1 day")),
      Seq("id"), "ts")
    assertMatchesSpark(wh, "snapshots", "snap")

    wh.write(base.limit(0), "raw", "empty")
    assertMatchesSpark(wh, "raw", "empty")
  }

  test("Catalog tables: footer schema and row count equal Spark's for every input") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(tables.contains("events") && tables.size >= 10)
    def check(t: String): Unit = {
      val path = s"$sf/$t.parquet"
      val inferred = spark.read.parquet(path)
      var got: DataFrame = null
      var rows = -1L
      assert(jobsOf { got = Catalog(spark, sf).table(t); got.schema
        rows = ParquetFooters.rowCount(spark, path) } == 0, s"$t launched a job")
      assert(got.schema == inferred.schema, s"$t schema under $key=${spark.conf.get(key)}")
      assert(rows == inferred.count(), s"$t row count")
    }
    try {
      tables.foreach(check)
      Seq("true", "false").foreach { v => spark.conf.set(key, v); check("events") }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a table with no data file fails the way spark.read.parquet does") {
    val wh = Warehouse.scratch(spark, "footer_missing")
    def condition(f: => DataFrame): String =
      intercept[AnalysisException](f).getCondition
    assert(condition(wh.read("raw", "absent")) ==
      condition(spark.read.parquet(wh.path("raw", "absent"))))
    assert(condition(wh.read("raw", "absent")) == "PATH_NOT_FOUND")
    assert(condition(Catalog(spark, wh.root).table("absent")) == "PATH_NOT_FOUND")
    assert(wh.rowCount("raw", "absent") == 0L)
    val empty = java.nio.file.Paths.get(wh.path("raw", "no_files"))
    java.nio.file.Files.createDirectories(empty)
    java.nio.file.Files.createFile(empty.resolve("_SUCCESS"))
    assert(condition(wh.read("raw", "no_files")) ==
      condition(spark.read.parquet(empty.toString)))
    Scratch.remove(java.nio.file.Paths.get(wh.root))
  }
}
