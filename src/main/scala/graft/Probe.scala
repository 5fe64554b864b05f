package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ann

/** Dev-loop stage-timing probe (the companion to [[Explain]]): stage a
  * scaled corpus once, then time the individual stages of an operator
  * to find where the seconds actually go — bench medians time the
  * whole plan and cannot localize a bottleneck.
  *
  * `runMain graft.Probe <mode>` prints one line per stage. Modes:
  *  - `d05` (default), `ivf`, `s19`, `mm05`: one operator's stages;
  *  - `10x`, `100x`, `both`: the scale-dial audit (the PLANS.md
  *    candidate-volume method) on the 10×/100× corpora the bench
  *    probes use — codebook, occupancy, and the full Auto operators,
  *    timed and with the candidate volume the dials exist to bound,
  *    plus d13 at 1× vs 10×. Run it when a probe ratio drifts, to tell
  *    "plan got worse" apart from "corpus got bigger / dial landed
  *    elsewhere";
  *  - `m12`: the demo-DAG thread sweep.
  */
object Probe {

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = args.headOption.getOrElse("d05")
    val spark = GraftSession()
    lazy val dir10x = {
      val d = graft.core.Scratch.dir("probe10x").toString
      time("stage 10x corpus")(Bench.stageScaled(spark, sfDir, d))
      d
    }
    def embeddings(dir: String): DataFrame =
      spark.read.parquet(s"$dir/embeddings.parquet")

    def audit(tag: String, dir: String): Unit = {
      val emb = embeddings(dir)
      val n = emb.count()
      val k = math.max(16L, n / 256L)
      println(s"[probe] $tag n=$n k=$k routed=${k > 256L}")
      val cb = time(s"$tag kmeans codebook")(
        Ann.kmeansDf(emb, k).localCheckpoint(true))
      println(s"  centroids = ${cb.count()}")
      // occupancy: Σn² is the within-cluster pair bound
      val stats = time(s"$tag assign + occupancy histogram")(
        Ann.clusterSizes(emb, k)
          .agg(count(lit(1)).as("used"), max("n").as("maxn"),
            sum(col("n") * col("n")).as("sumsq")).head())
      println(s"  used=${stats.getLong(0)}/$k max=${stats.getLong(1)} " +
        s"sumsq=${stats.getLong(2)} (balanced would be ~${n * 256})")
      time(s"$tag full semDedupAuto")(
        println(s"  pairs = ${Ann.semDedupAuto(emb, threshold = 0.4).count()}"))
      time(s"$tag full knnGraphAuto k=3")(
        println(s"  edges = ${Ann.knnGraphAuto(emb, k = 3).count()}"))
    }

    try mode match {
      case "d05" =>
        val emb = embeddings(dir10x)
        val n = time("normed + checkpoint")(
          Ann.normed(emb).localCheckpoint(true))
        time("rows")(println(s"  n = ${n.count()}"))
        for (bits <- Seq(6, 11)) {
          time(s"bucket signatures bits=$bits")(
            println(s"  buckets = ${Ann.lshBuckets(n, 8, bits, 64, 7L).count()}"))
          time(s"candidate pairs bits=$bits")(
            println(s"  cands = ${Ann.lshCandidatePairs(n, 8, bits, 64, 7L).count()}"))
        }
        time("full nearDupLsh bits=6")(
          println(s"  pairs = ${Ann.nearDupLsh(emb, 0.4, 8, 6, 64, 7L).count()}"))
        time("full nearDupLshAuto")(
          println(s"  pairs = ${Ann.nearDupLshAuto(emb, 0.4).count()}"))
      case "ivf" =>
        val emb = embeddings(dir10x)
        val n = time("normed + checkpoint")(
          Ann.normed(emb).localCheckpoint(true))
        val cb = time("ivfCodebook k=16")(
          Ann.ivfCodebook(emb, 16, 2))
        time("assigned (literal codebook) count")(
          println(s"  rows = ${Ann.assigned(emb, cb).count()}"))
        time("full d10 semDedup")(
          println(s"  pairs = ${Ann.semDedup(emb, 0.4).count()}"))
        // the fixed-centroid dial refuses 10x-scale corpora by
        // design (Gate) — report the refusal instead of aborting
        // the probe before the auto comparison it exists to measure
        time("full s05 knnGraph k=3")(
          try println(s"  edges = ${Ann.knnGraph(emb, 3).count()}")
          catch { case e: graft.operators.Gate.SizeGatedException =>
            println(s"  gated by design: ${e.getMessage.takeWhile(_ != ':')}") })
        time("full s05 knnGraphAuto k=3")(
          println(s"  edges = ${Ann.knnGraphAuto(emb, 3).count()}"))
        println(s"  (n frozen: ${n.count()})")
      case "s19" =>
        // localize s19_ann_opq's 10× wall (r18 board ratio 19.6):
        // stage-by-stage replica of Ann.ivfpqOpq's plan
        val emb = embeddings(dir10x)
        val queries = emb.filter(col("vec_id") < 20)
        time("opqAllocation (explode+groupBy+collect)")(
          println(s"  perm head = ${Ann.opqAllocation(emb).take(4)}"))
        val cb = time("ivfCodebook k=16")(Ann.ivfCodebook(emb, 16, 2))
        println(s"  centroids = ${cb.length}")
        time("full ivfpqOpq (registered s19 plan)")(
          noop(Ann.ivfpqOpq(queries, emb, k = 5)))
        time("full ivfpq (s04 plan, same dials)")(
          noop(Ann.ivfpq(queries, emb, k = 5)))
      case "mm05" =>
        // localize mm05_audio_dedup's 10× wall (r18 ratio 24.0):
        // fixture synth vs decode+fingerprint vs pigeonhole join
        val media = graft.operators.Multimodal.wavDupMedia(spark, 1200)
        time("wavDupMedia synth (noop)")(noop(media))
        val fp = graft.operators.Multimodal.audioFingerprint(media)
          .select(col("media_id"), col("afp").as("phash"))
        time("synth + decode + fingerprint (noop)")(noop(fp))
        time("full phashPairs")(
          println(s"  pairs = ${graft.operators.Multimodal
            .phashPairs(fp, maxHamming = 2).count()}"))
      case "10x" | "100x" | "both" =>
        if (mode != "100x") {
          audit("10x", dir10x)
          // d13: isolated 1× vs 10× (the bench measured ratio 13.5 at r10)
          for ((tag, dir) <- Seq(("1x", sfDir), ("10x", dir10x)))
            time(s"d13 $tag (noop)")(
              noop(SparkEntry.queries("d13_cdc_chunk_dedup")(spark, dir)))
        }
        if (mode != "10x") {
          val dir100x = graft.core.Scratch.dir("probe100x").toString
          time("stage 100x embeddings")(
            Bench.stageEmbeddings100x(spark, sfDir, dir100x))
          audit("100x", dir100x)
        }
      case "m12" =>
        // demo-DAG thread sweep: 43 models, threads=1 vs the registered
        // threads=8 — how much of the wall is critical path vs fan-out
        val c = graft.sources.Catalog(spark, sfDir)
        for (t <- Seq(1, 4, 8); rep <- 1 to 2) {
          val wh = graft.core.Warehouse.scratch(spark, s"m12probe_t${t}_$rep")
          time(s"m12 threads=$t rep=$rep")(
            graft.core.Runner(graft.core.Materializer(wh), c.table, threads = t)
              .runAll(graft.cli.DemoProject.graph(19)))
        }
      case other =>
        println(s"unknown probe '$other' " +
          "(have: d05, ivf, s19, mm05, 10x, 100x, both, m12)")
    } finally spark.stop()
  }
}
