package graft

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooters
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{IncrementalStrategy, Materialization, Materializer, Model, Scratch,
  Snapshot, Warehouse}
import graft.sources.Catalog

/** Warehouse and Catalog reads build the relation Spark's parquet
  * source resolves from graft's own listing and one parquet footer, and
  * take row counts and an append watermark from every footer, on the
  * driver. Each must agree with what Spark's own reader, `count()` and
  * `max()` give, on every table shape the engine writes, and launch no
  * Spark job.
  */
class FooterSpec extends SparkSpec {

  /** The sf0.01 inputs beside the shared sf0.001 test data. */
  private val sf = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString

  /** Runs `f` under a fresh job group and returns the jobs it launched
    * and the files Spark's own file listing discovered meanwhile.
    */
  private def quiet(f: => Unit): (Int, Long) = {
    val group = s"footer-${System.nanoTime()}"
    val listed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
    (spark.sparkContext.statusTracker.getJobIdsForGroup(group).length,
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - listed)
  }

  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  /** `got`, a graft read of `path`, is what `spark.read.parquet(path)`
    * gives: the schema with its nullability, the partition columns, the
    * files and the rows.
    */
  private def assertSameRead(label: String, got: DataFrame, path: String): Unit = {
    val want = spark.read.parquet(path)
    assert(got.schema == want.schema, s"$label schema")
    assert(relation(got).partitionSchema == relation(want).partitionSchema,
      s"$label partition columns")
    assert(got.inputFiles.sorted.toSeq == want.inputFiles.sorted.toSeq, s"$label files")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$label rows")
  }

  private def assertMatchesSpark(wh: Warehouse, schema: String, table: String): Unit = {
    var got: DataFrame = null
    var rows = -1L
    assert(quiet { got = wh.read(schema, table); got.schema
      rows = wh.rowCount(schema, table) } == ((0, 0L)),
      s"$schema.$table: a footer read or count launched a Spark job or listed files")
    assert(relation(got).location.isInstanceOf[InMemoryFileIndex])
    assertSameRead(s"$schema.$table", got, wh.path(schema, table))
    assert(rows == spark.read.parquet(wh.path(schema, table)).count(), s"$schema.$table row count")
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
      var got: DataFrame = null
      var rows = -1L
      assert(quiet { got = Catalog(spark, sf).table(t); got.schema
        rows = ParquetFooters.rowCount(spark, path) } == ((0, 0L)), s"$t launched a job")
      assertSameRead(s"$t under $key=${spark.conf.get(key)}", got, path)
      assert(rows == spark.read.parquet(path).count(), s"$t row count")
    }
    try Seq("true", "false").foreach { v => spark.conf.set(key, v); tables.foreach(check) }
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a file sink's output is read through its metadata log, as Spark reads it") {
    val wh = Warehouse.scratch(spark, "footer_sink")
    val in = s"${wh.root}/in"
    spark.range(0L, 50L).write.parquet(in)
    val out = wh.path("raw", "sink")
    spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
      .writeStream.format("parquet").option("checkpointLocation", s"${wh.root}/ckpt")
      .trigger(Trigger.AvailableNow()).start(out).awaitTermination()
    // a data file the log never committed: a listing would read it
    spark.range(100L, 110L).coalesce(1).write.parquet(s"${wh.root}/stray")
    val stray = new java.io.File(s"${wh.root}/stray").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(stray.toPath, java.nio.file.Paths.get(out, "part-stray.parquet"))
    var got: DataFrame = null
    assert(quiet { got = wh.read("raw", "sink"); got.schema }._1 == 0)
    assert(relation(got).location.isInstanceOf[MetadataLogFileIndex])
    assertSameRead("file sink", got, out)
    assert(got.count() == 50L)
  }

  /** Runs `f` with Spark writing time-zoned timestamps as `v`; its
    * default is INT96.
    */
  private def writingTimestamps[A](v: String)(f: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the footer max equals agg(max) where statistics tell, and declines elsewhere") {
    writingTimestamps("TIMESTAMP_MICROS") {
      val wh = Warehouse.scratch(spark, "footer_max")
      val eligible = Seq("i", "l", "d", "ts", "ntz")
      val fallback = Seq("s", "dec", "dbl")
      def frame(from: Long, to: Long) = spark.range(from, to).select(
        col("id").cast("int").as("i"), col("id").as("l"),
        date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("d"),
        timestamp_micros(col("id") * 1000003L + 1600000000000000L).as("ts"),
        timestamp_micros(col("id") * 999L + 1500000000000000L).cast("timestamp_ntz").as("ntz"),
        col("id").cast("string").as("s"), col("id").cast("decimal(12,2)").as("dec"),
        col("id").cast("double").as("dbl"), (col("id") % 3).as("p"))
      def nulls(df: DataFrame) = df.select(df.columns.map(c =>
        if (eligible.contains(c)) lit(null).cast(df.schema(c).dataType).as(c) else col(c)): _*)
      def maxOf(table: String, c: String) =
        wh.read("raw", table).agg(max(col(c))).head.get(0)
      def footer(table: String, c: String) = {
        var v: Option[Any] = None
        assert(quiet { v = wh.footerMax("raw", table, c) }._1 == 0, s"$table.$c launched a job")
        v
      }

      // multi-file appends, an all-null file among them, the largest
      // values in neither the first file nor the last
      wh.write(frame(0, 500).repartition(3), "raw", "t")
      wh.write(frame(2000, 3000).repartition(2), "raw", "t", mode = "append")
      wh.write(nulls(frame(3000, 3100)).coalesce(1), "raw", "t", mode = "append")
      wh.write(frame(500, 1000).repartition(2), "raw", "t", mode = "append")
      for (c <- eligible) {
        assert(footer("t", c).isDefined, c)
        assert(footer("t", c).get == maxOf("t", c), c)
      }
      for (c <- fallback) assert(footer("t", c).isEmpty, c)

      // an all-null column gives null, and so an unfiltered append
      wh.write(nulls(frame(0, 100)), "raw", "all_null")
      for (c <- eligible)
        assert(footer("all_null", c) == Some(null) && maxOf("all_null", c) == null, c)
      val mat = Materializer(wh)
      val model = Model("all_null", Seq("src"),
        Materialization.Incremental(IncrementalStrategy.Append("l")), ctx => ctx.source("src"),
        schema = "raw")
      assert(mat.run(model, _ => frame(0, 10)).count() == 110L)

      // partitioned by p: p is in no footer
      wh.write(frame(0, 300), "raw", "by_p", partitionBy = Seq("p"))
      assert(footer("by_p", "p").isEmpty && footer("by_p", "l") == Some(maxOf("by_p", "l")))

      // a file written without statistics, and INT96 timestamps
      wh.write(frame(0, 200), "raw", "no_stats",
        options = Map("parquet.column.statistics.enabled" -> "false"))
      for (c <- eligible) assert(footer("no_stats", c).isEmpty, c)
      writingTimestamps("INT96")(wh.write(frame(0, 200), "raw", "int96"))
      assert(footer("int96", "ts").isEmpty && footer("int96", "l") == Some(maxOf("int96", "l")))

      // an append through the footer watermark and through the query
      // fallback writes exactly the rows past the old max
      for (c <- Seq("ts", "ntz", "d", "s", "dbl")) {
        val m = Model(s"wm_$c", Seq("src"),
          Materialization.Incremental(IncrementalStrategy.Append(c)), ctx => ctx.source("src"),
          schema = "raw")
        mat.run(m, _ => frame(0, 600))
        val old = maxOf(s"wm_$c", c)
        val batch = frame(300, 900)
        val out = mat.run(m, _ => batch)
        assert(out.count() == 600L + batch.filter(col(c) > lit(old)).count(), c)
      }
      Scratch.remove(java.nio.file.Paths.get(wh.root))
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
