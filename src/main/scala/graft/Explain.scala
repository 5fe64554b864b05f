package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode,
  GenerateExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-loop plan and run inspection for the registry entries named in
  * args (default `q23_topk_per_group`):
  *
  *   runMain graft.Explain [--execute | --audit] <names…>
  *
  *  - no flag: each formatted physical plan, nothing runs — the
  *    `.explain` audit loop behind PLANS.md;
  *  - `--execute`: after one untimed warmup, each entry runs through
  *    [[Bench.timed]] (the bench's noop sink and cleanup). It prints
  *    the seconds, the final plan that ran, and the audit line;
  *    streaming entries also print one `[stream]` line per micro-batch,
  *    which says whether their seconds go to batch planning, state
  *    commit, watermark bookkeeping or the sink;
  *  - `--audit`: `--execute` printing only the audit lines.
  *
  * `SPARK_GRAFT_PROBE_CONF=k=v;k=v` sets SQL confs on the session
  * first, so config A/Bs need no recompile. The state-store provider
  * A/B sets
  * spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider;spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true
  * against the default HDFS-backed provider.
  */
object Explain {

  /** Holds the executed plan of the next successful noop write on
    * `spark`, delivered by a QueryExecutionListener. After AQE that is
    * the final plan (`isFinalPlan=true`), the one that ran: reading
    * `df.queryExecution.executedPlan` after `df.count()` gives a plan
    * that never ran, since count() executes another QueryExecution.
    */
  private final class NoopWriteCapture(spark: SparkSession)
      extends QueryExecutionListener {
    private val plans = new LinkedBlockingQueue[SparkPlan]()
    spark.listenerManager.register(this)

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = qe.analyzed match {
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation if r.table.name == "noop-table" =>
          plans.put(qe.executedPlan)
        case _ =>
      }
      case _ =>
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    /** The listener bus is asynchronous: wait for the write's event. */
    def plan(): SparkPlan = Option(plans.poll(60, TimeUnit.SECONDS))
      .getOrElse(throw new IllegalStateException(
        "no executed plan arrived for the noop write within 60 s"))

    def close(): Unit = spark.listenerManager.unregister(this)
  }

  /** Writes `df` to the noop sink and returns the plan that ran. */
  def executedPlan(spark: SparkSession, df: DataFrame): SparkPlan = {
    val capture = new NoopWriteCapture(spark)
    try {
      df.write.format("noop").mode("overwrite").save()
      capture.plan()
    } finally capture.close()
  }

  /** Scan counts over a final plan, its query stages and subqueries:
    * every FileScan / Generate is a real pass over (a stream derived
    * from) the input — more than one over the same table means a
    * shared subtree is recomputed per consumer. ReusedExchange only
    * appears after execution, so an unexecuted plan under-reports reuse.
    */
  private object Audit extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): String = {
      def n(pf: PartialFunction[SparkPlan, Unit]): Int =
        collectWithSubqueries(plan)(pf).size
      s"fileScans=${n { case _: FileSourceScanExec => }}" +
        s" generates=${n { case _: GenerateExec => }}" +
        s" reusedExchanges=${n { case _: ReusedExchangeExec => }}" +
        s" existingRdd=${n { case r: RDDScanExec if r.name == "ExistingRDD" => }}"
    }
  }

  /** One line per micro-batch: its durationMs breakdown and state ops. */
  private object BatchLines extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      println(s"[stream] started ${e.id}")
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => s"$k=$v" }
        .toSeq.sorted.mkString(" ")
      println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} $d")
      p.stateOperators.foreach { so =>
        println(s"[stream]   state op=${so.operatorName} " +
          s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
          s"commitMs=${so.commitTimeMs} memUsed=${so.memoryUsedBytes}")
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      println("[stream] terminated")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession()
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    val auditOnly = args.contains("--audit")
    val execute = auditOnly || args.contains("--execute")
    val wanted0 = args.toSeq.filterNot(_.startsWith("--"))
    val wanted = if (wanted0.isEmpty) Seq("q23_topk_per_group") else wanted0
    // absorb JVM/codegen/filesystem warmup outside the first timing
    if (execute) spark.read.parquet(s"$sfDir/nation.parquet")
      .write.format("noop").mode("overwrite").save()
    for (name <- wanted; fn <- SparkEntry.queries.get(name)) {
      if (!auditOnly) println(s"==== $name ====")
      if (!execute)
        println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      else {
        val capture = new NoopWriteCapture(spark)
        if (!auditOnly) spark.streams.addListener(BatchLines)
        try Bench.timed(spark, sfDir, fn) match {
          case (secs, Some(err)) =>
            println(f"[execute] $name: $secs%.2fs FAILED: $err")
          case (secs, None) =>
            val plan = capture.plan()
            if (!auditOnly) {
              println(f"[execute] $name: $secs%.2fs")
              println(plan)
            }
            println(s"[audit] $name: ${Audit(plan)}")
        } finally {
          capture.close()
          spark.streams.removeListener(BatchLines)
        }
      }
    }
    spark.stop()
  }
}
