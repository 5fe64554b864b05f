package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage a synthetic sf1 corpus: every table of an sf0.1 dir scaled
  * 10× by key-shifted copies with CONSISTENT shifts across join keys
  * (customer/orders share the custkey shift, orders/lineitem the
  * orderkey shift, part/lineitem the partkey shift …), so every
  * relational entry's joins stay referentially intact at 10× the
  * bench volume. Content columns follow Bench.stageScaled's bijection
  * discipline (per-copy letter rotation / vector shift) so planted
  * dedup structure is preserved within a copy and collapsed across
  * copies. Dims (region, nation) stay fixed — scaling a 25-row nation
  * dim would only distort broadcast behavior.
  *
  * Purpose: the once-per-round full-registry sweep at sf1
  * (PLANS.md), confirming the linear band holds where shuffle spills
  * are real:
  *
  *   sbt "runMain graft.tools.StageSf1 /root/testdata/sf0.1 /tmp/sf1"
  *   SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_SCALE10X=0 \
  *     SPARK_GRAFT_BENCH_ITERS=1 sbt "runMain graft.Bench"
  */
object StageSf1 {

  def stage(spark: SparkSession, sfDir: String, outDir: String,
      copies: Int = 10): Unit = {
    def union(mk: Int => DataFrame): DataFrame =
      (0 until copies).map(mk).reduce(_ unionByName _)
    def copyThrough(t: String): Unit =
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def shifted(t: String, shifts: (String, Long)*): Unit =
      union { i =>
        shifts.foldLeft(spark.read.parquet(s"$sfDir/$t.parquet")) {
          case (df, (c, unit)) => df.withColumn(c, col(c) + lit(i * unit))
        }
      }.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val K = 1000000L
    copyThrough("region"); copyThrough("nation")
    shifted("customer", "c_custkey" -> 10 * K)
    shifted("supplier", "s_suppkey" -> K)
    shifted("part", "p_partkey" -> 10 * K)
    shifted("lineitem", "l_orderkey" -> 1000 * K, "l_partkey" -> 10 * K,
      "l_suppkey" -> K)
    // documents/embeddings/orders/events reuse the bench's bijection
    // staging — its orderkey/custkey/user_id shift units match the
    // dimension shifts above, keeping every join referentially intact
    graft.Bench.stageScaled(spark, sfDir, outDir, copies)
    repackEvents(spark, outDir)
  }

  /** The streaming entries symlink `<dir>/events.parquet` into a
    * file-stream landing dir, which matches the driver testdata's
    * SINGLE-FILE layout — a Spark-written DIRECTORY symlinked there
    * is a nested dir the file stream never lists (zero micro-batches,
    * then PATH_NOT_FOUND on the never-created sink). Repack the
    * staged events into one plain parquet FILE to match.
    */
  def repackEvents(spark: SparkSession, outDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val evP = new org.apache.hadoop.fs.Path(s"$outDir/events.parquet")
    val fs = evP.getFileSystem(conf)
    if (fs.getFileStatus(evP).isDirectory) {
      val tmp = new org.apache.hadoop.fs.Path(s"$outDir/_events_repack")
      spark.read.parquet(evP.toString).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
      fs.delete(evP, true)
      require(fs.rename(part, evP), "events repack rename failed")
      fs.delete(tmp, true)
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val spark = graft.GraftSession()
    if (args.contains("--repack-only")) repackEvents(spark, outDir)
    else stage(spark, sfDir, outDir)
    println(s"staged synthetic sf1 at $outDir")
    spark.stop()
  }
}
