package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBridge
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare, and jobs.json:
  * the Spark jobs each entry launched (building its DataFrame and
  * writing it; null where the listener bus did not drain in time),
  * so a rise in job count shows next to the outputs. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver always passes exactly two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val started = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    })
    // jobs started so far once the listener bus has delivered them;
    // None when the bus does not empty in time, so the count reads
    // null and the tally never fails an entry or stops the dump
    def settled(): Option[Long] =
      try { ListenerBridge.drain(spark); Some(started.get) }
      catch { case _: java.util.concurrent.TimeoutException => None }
    val jobs = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      val before = settled()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val n = for (b <- before; a <- settled()) yield a - b
        Some(s"${Bench.jstr(name)}: ${n.fold("null")(_.toString)}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      }
    }
    Files.writeString(Paths.get(s"$outDir/jobs.json"), jobs.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
