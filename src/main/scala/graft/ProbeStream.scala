package graft

import org.apache.spark.sql.SparkSession

/** Dev-loop probe for the STREAMING entries (companion to [[Probe]]):
  * runs one registered entry under a StreamingQueryListener and prints
  * each micro-batch's durationMs breakdown — the bench medians time
  * the whole entry and cannot say whether the seconds go to batch
  * planning, state commit, watermark bookkeeping, or the sink.
  *
  * `runMain graft.ProbeStream e14_stream_join_outer`
  */
object ProbeStream {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // A/B aid: extra session confs as k=v;k=v, so config experiments
    // need no recompile. The r19 state-store provider A/B sets
    // spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider;spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true
    // against the default HDFS-backed provider
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val name = args.headOption.getOrElse("e14_stream_join_outer")
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit =
          println(s"[stream] started ${e.id}")
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = {
          val p = e.progress
          import scala.jdk.CollectionConverters._
          val d = p.durationMs.asScala.map { case (k, v) => s"$k=$v" }
            .toSeq.sorted.mkString(" ")
          println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} $d")
          p.stateOperators.foreach { so =>
            println(s"[stream]   state op=${so.operatorName} " +
              s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
              s"commitMs=${so.commitTimeMs} memUsed=${so.memoryUsedBytes}")
          }
        }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit =
          println(s"[stream] terminated")
      })
    // warmup: absorb codegen/session setup outside the probe timing
    spark.read.parquet(s"$sfDir/nation.parquet")
      .write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    println(f"[stream] TOTAL ${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
  }
}
