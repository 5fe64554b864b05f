package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Bench {

  /** One timed noop-sink pass over every query; a failure is RECORDED
    * as the query's error (first line of the message) instead of
    * silently contributing its time-to-crash to the totals.
    *
    * `phasesOut` (optional): collects [[graft.core.Phase]] sub-phase
    * seconds drained after each run — the streaming entries meter
    * their fixture staging there, so the bench can report
    * (fixture_sec, stream_sec = median − fixture_sec) per e-entry
    * without changing what the entry's own seconds time.
    */
  def runAll(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      phasesOut: scala.collection.mutable.Map[String, Double] = null)
      : Seq[(String, Double, Option[String])] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      graft.core.Phase.drain() // discard residue from prior work
      val (secs, err) = timed(spark, sfDir, fn)
      if (phasesOut != null)
        graft.core.Phase.drain().foreach { case (k, v) =>
          phasesOut(k) = phasesOut.getOrElse(k, 0.0) + v
        }
      (name, secs, err)
    }

  private[graft] def timed(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    // noop sink: materializes every column of the full plan (count()
    // would let Catalyst prune projections + the final sort).
    val err =
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(firstLine(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    // Drop this query's persisted blocks before the next one runs.
    // The iterative operators pin frames with eager localCheckpoint;
    // without this, blocks from ~400 runs accumulate in the
    // BlockManager for the whole session and the tail of the bench
    // (the scale probes) times GC pressure instead of the operator —
    // r10 measured d10_semdedup_auto at 40.3 s here vs 3.7 s in an
    // uncontended session (graft.Probe). Cleanup runs OUTSIDE the
    // timed window: the frame is fully consumed by the noop sink, so
    // nothing downstream re-reads the dropped blocks.
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // drop any state-store providers a streaming entry left loaded
    // (HDFS-backed providers pin their version maps in memory; the
    // lazy maintenance cycle would keep them — and its thread pool —
    // alive under every later query's timing)
    try org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
    catch { case _: Throwable => () }
    (secs, err)
  }

  /** Per-run shuffle-write accounting for the sketch-regime probe: a
    * listener sums stage-level shuffle bytes written during one timed
    * run — the physical quantity the mergeable-sketch aggregates exist
    * to bound (sketch-sized partials vs one shuffled row per distinct).
    */
  private final class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) { bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten); () }
    }
  }

  /** timed() plus the run's total shuffle-write bytes. The listener
    * bus is async — poll until the tally goes quiet before detaching.
    */
  private def timedShuffle(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Long, Option[String]) = {
    val t = new ShuffleTally
    spark.sparkContext.addSparkListener(t)
    val (secs, err) = timed(spark, dir, fn)
    var prev = -1L; var cur = t.bytes.get; var spins = 0
    while (cur != prev && spins < 50) {
      Thread.sleep(100); prev = cur; cur = t.bytes.get; spins += 1
    }
    spark.sparkContext.removeSparkListener(t)
    (secs, cur, err)
  }

  /** Median of an odd or even sample (midpoint average). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ----------------------------------------------------------------
  // scale10x: empirical super-linearity probe. /root/testdata has no
  // sf1, so a 10x corpus is synthesized from sf0.1 as 10 key-shifted
  // copies; each heavy data-proportional operator then runs once on it
  // and reports secs(10x)/median-secs(1x). A roughly-linear operator
  // lands well under ~15 (10x work + shuffle/log-factor overhead).
  //
  // q21 is deliberately NOT probed: its frontier is capped at
  // p_partkey <= 255 by construction, so its work is independent of
  // input scale and the ratio would be a meaningless ~1.

  /** The heavy operators whose work grows with the corpus. */
  val scaleOps: Seq[String] = Seq(
    "d02_dedup_minhash", "d03_dedup_simhash", "d04_ngram_jaccard",
    "d05_embedding_neardup", "d06_dedup_groups", "d09_span_dedup",
    "d10_semdedup", "d11_incremental_dedup", "d12_containment",
    "d13_cdc_chunk_dedup", "d14_exact_substr_scrub",
    "d14_exact_substr_scrub_fast", "e13_funnel",
    // x27 is NOT probed: |V| is capped at 97 hosts by construction,
    // so past the edge-derivation scan its work is scale-free and the
    // ratio would be a meaningless ~1 (q21's reasoning)
    "x26_scalar_quantize",
    "m02_incremental_merge", "m31_merge_on_read", "q26_cohort_retention",
    "q31_window_range_frame", "q34_dpp",
    "s05_knn_graph", "s08_range_search", "x08_tfidf",
    // x20 is probed via its PRODUCTION form (no oracle orderBy) in a
    // dedicated block below — the registered entry's global sort was
    // the superlinear term in the r14 probe (12.4× at 10×)
    "x18_token_budget_sample", "x21_char_entropy",
    "x22_bpe_train", "x24_nb_classifier", "x25_bpe_encode",
    // session-6 ring: sweep-line (sessions scale with users), MG
    // summary agg, hop-exploded window agg, PMI double-agg, funnel
    // one-pass flags, full-outer diff, MMR (shortlist-bounded greedy
    // over a linear brute pass). s11 is NOT probed separately — its
    // cost is s03+s01, both already characterized.
    "q42_interval_concurrency", "q43_approx_topk", "e21_sliding_windows",
    "x28_pmi_collocations", "p04_funnel_report", "t18_audit_compare",
    "s12_mmr_diversify",
    // r13 ring: the heaviest medians that still lacked probes —
    // survivorship (d06's groups + an argmax join), sorted
    // neighborhood (candidate volume n·(w−1) BY CONSTRUCTION — the
    // probe checks the constant), IVF-PQ (train + ADC + re-rank),
    // DSIR importance weights (hashed-ngram double agg), and the
    // registered mm05 base (its 10x payload sibling stages its own
    // fixture)
    "d15_dedup_survivorship", "d17_sorted_neighborhood",
    "d17_sorted_neighborhood_auto",
    "s04_ann_ivfpq", "x17_importance_weights",
    // r13 session-2 ring: the chained stateful pipeline (hourly agg
    // over events + hours×types rollup, both linear in rows) and
    // partition evolution (two partitioned commits + a pruned scan —
    // commit IO is the linear term, pruning keeps the read term a
    // fixed month slice per year)
    // d18's linear term is the self-contained index build + the 20%
    // batch; the probe checks the increment machinery scales with
    // the corpus copies, matches staying structure-preserved
    "e22_multi_stateful", "m51_partition_evolution",
    "d18_incremental_lsh", "m52_multi_table_txn",
    // d19's 16x2 banding and e23's two-batch ingest fold are both
    // corpus-proportional through the same signature/band machinery;
    // s14's in-entry base assignment + batch maintenance are linear
    "d19_minhash_auto", "e23_stream_neardup_ingest", "s14_ann_upsert",
    // r14 ring: the exact bitext margin is the board's one cartesian
    // (compare-scale dial) — probing it at 10× alongside its IVF-
    // shortlist auto sibling measures the crossJoin-vs-equi-join
    // contrast directly; p03 carries the one per-language NTILE
    // window in the composed pipelines, probed against its
    // distributed-NTILE dial; e24 is one window + roll-up (user
    // cardinality scales with the staged copies), x31 is d02's
    // map-side pass with a broadcast eval side (corpus-linear by
    // construction), s16's init+compact are the two corpus-sized
    // writes its docstring prices (linear is the claim)
    "s15_bitext_margin", "p03_ccnet_pipeline",
    "e24_quota_admission", "x31_fuzzy_decontam", "s16_ann_compact",
    // r15: s17 = s16's lifecycle + two committed-snapshot serves —
    // corpus-linear in the same two writes plus two probe joins;
    // m53 = four manifest commits + two reference-counted sweeps —
    // commit IO is the linear term, the sweeps are pure metadata
    "s17_index_asof", "m53_snapshot_expire",
    // r15 session 2: m54 = three branch commits + ref renames (commit
    // IO linear, every ref op pure metadata); x32 = two metadata-sized
    // aggs + one map-side decision pass; x33 = one narrow
    // tokenize→explode→slice projection (its only super-linear risk
    // is the oracle orderBy — the x20 watch item); s18 = s04's probe
    // shape + a second (residual) training pass and per-probe ADC
    // tables — same cluster-key join bounds, linear is the claim
    "m54_table_branches", "x32_temperature_mix", "x33_sliding_chunks",
    // s18 = s04's probe shape + the residual training/encoding pass;
    // m55 = three commit writes + per-era mapped reads (commit IO is
    // the linear term, every mapping op pure metadata)
    // p05 = x32's two aggregates + the copy explode + one range
    // shuffle + the two-phase pack scan — linear in resampled tokens
    "s18_ann_ivfpq_residual", "m55_column_mapping",
    "p05_epoch_materializer",
    // r16 ring: d20 = log2(50) doubling levels, each one (doc,pos)
    // equi-join + one class-key groupBy min — the linearithmic claim the
    // docstring makes, metered here; x34 = one zero-shuffle HOF
    // projection; x35 = one broadcast join; x37 = distinct-word
    // Viterbi + join-back (vocab-bounded DP, corpus-linear join);
    // s19 = s04's probe shape + one DIM-row variance agg; x36 = EM
    // rounds over the distinct-word frame (the x22 cost shape).
    // w01 is NOT probed: its 10x timing would measure the
    // single-threaded fixture WRITE (driver-side test scaffolding),
    // not the reader, which is a splittable text scan by construction.
    // NOTE s05_knn_graph's 10x probe now reports its SizeGatedException
    // message — the fixed-centroid dial refuses 10x-corpus input by
    // design (the r15 verdict item); s05_knn_graph_auto remains the
    // measured scale path.
    "d20_suffix_span", "x34_html_extract", "x35_url_blocklist",
    "x37_unigram_encode", "s19_ann_opq", "x36_unigram_train",
    // s20 = the adaptive-k graph build (s05auto's plan) + beam-bounded
    // hop joins — seeding is the s03 coarse-probe shape, linear claim;
    // p06 = one container scan + one HOF projection + the one
    // md5-window dedup shuffle (its 10x fixture generation is
    // driver-side but linear and outside the claim)
    "s20_ann_nsw", "p06_crawl_ingest_pipeline",
    // r17: s21 = s20's layer-0 build + a geometric stack of smaller
    // ones (~4/3 total at decay 4) + beam-bounded walks per layer —
    // the linear claim is the graph stack; the walks are query-
    // bounded. w02 is NOT probed for w01's reason (its 10x timing
    // would measure the single-threaded driver-side fixture WRITE,
    // not the per-shard walk, which parallelizes across members by
    // construction).
    "s21_ann_hnsw",
    // r17 session 2: x38 = one shingle→hash→bottom-k map-side pass
    // (≤ k longs per source cross the wire) + source-count-sized
    // pairwise array math — corpus-linear by construction, the probe
    // meters the constant. w03 is NOT probed for w01's reason (a 10x
    // timing would measure the single-threaded driver-side fixture
    // write, not the reader, which is a splittable text scan). p07 =
    // w03's selection + one survivors equi-join + p06's zero-shuffle
    // extraction — linear in admitted captures (p06's probe reasoning:
    // the driver-side fixture generation is linear and outside the
    // claim).
    "x38_kmv_overlap", "p07_index_selected_ingest",
    // w05's fixture is HOST-bounded (97 robots records at any corpus
    // size — unlike w01-w04's corpus-sized container renders), so its
    // probe cleanly measures the candidate pass: one broadcast join +
    // one map-side max-struct agg, corpus-linear by construction
    "w05_robots_filter",
    // p08 = w04's parse + pagerank on the FIXED host graph + one
    // broadcast join back to the corpus — the corpus-linear term is
    // the join; w04's 10x fixture generation is driver-side but
    // linear and outside the claim (p06's reasoning)
    "p08_domain_rank_curation")

  /** Stage a `copies`x corpus of the tables the probed operators read.
    * Key columns are shifted per copy so cardinalities scale; content
    * columns are perturbed with a per-copy BIJECTION so the planted
    * duplicate/near-dup structure is preserved WITHIN each copy but
    * destroyed ACROSS copies — a naive 10x concat of identical text
    * would make every doc a 10-way near-dup group and quadratically
    * inflate the true-pair count, measuring output explosion instead
    * of operator scaling.
    *  - documents.text: rotate the 12 most frequent letters by copy
    *    index (bijective per copy => within-copy shingle Jaccard is
    *    exactly preserved; cross-copy shingle overlap collapses);
    *  - embeddings.embedding: circular-shift the vector by the copy
    *    index (exact within-copy cosines; cross-copy ~orthogonal);
    *  - orders keys: shift o_orderkey by a multiple of 10 (keeps
    *    m02's key%10 update-batch shape) and o_custkey so q26's
    *    group-by cardinality scales with the data.
    */
  def stageScaled(spark: SparkSession, sfDir: String, outDir: String,
      copies: Int = 10): Unit = {
    val alpha = "etaoinshrdlu"
    def union(mk: Int => DataFrame): DataFrame =
      (0 until copies).map(mk).reduce(_ unionByName _)

    union { i =>
      val rot = alpha.drop(i % alpha.length) + alpha.take(i % alpha.length)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", translate(col("text"), alpha, rot))
    }.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    union { i =>
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
      if (i == 0) e
      else e.withColumn("embedding",
        concat(slice(col("embedding"), lit(i + 1), size(col("embedding")) - i),
          slice(col("embedding"), lit(1), lit(i))))
    }.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    union { i =>
      spark.read.parquet(s"$sfDir/orders.parquet")
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L))
    }.write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    // events for the e13 funnel probe: user cardinality scales with
    // the copies (ids shifted per copy), per-user history unchanged
    union { i =>
      spark.read.parquet(s"$sfDir/events.parquet")
        .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(i * 10000000L))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** 100× embeddings corpus for the routed-assignment probe. Each
    * copy mixes a circular shift into the original with golden-angle
    * weights, so the 100 variants of a vector point in ~decorrelated
    * directions — a plain 100-way duplication would plant C(100,2)
    * identical-direction pairs per vector and the probe would time
    * output volume, not assignment.
    */
  def stageEmbeddings100x(spark: SparkSession, sfDir: String,
      outDir: String, copies: Int = 100): Unit = {
    (0 until copies).map { i =>
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
      if (i == 0) e
      else {
        val s = i % 63 + 1
        val theta = 2.399963 * i // golden angle: decorrelated mixes
        val (a, b) = (math.cos(theta), math.sin(theta))
        e.withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> cast($a * x + $b * embedding[(j + $s) % 64] as float))"))
      }
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** 100× documents corpus for the d03 banding probe. Two independent
    * letter-rotation bijections over disjoint 12-letter alphabets give
    * 144 distinct per-copy bijections — within-copy shingle structure
    * is exactly preserved, cross-copy overlap collapses, and (unlike
    * reusing the single 12-rotation family at 100 copies) no two
    * copies share a bijection, so true-pair counts stay flat and the
    * probe measures operator scaling, not output explosion.
    */
  def stageDocuments100x(spark: SparkSession, sfDir: String,
      outDir: String, copies: Int = 100): Unit = {
    val a1 = "etaoinshrdlu"; val a2 = "cmfwypvbgkqj"
    (0 until copies).map { i =>
      val r1 = a1.drop(i % 12) + a1.take(i % 12)
      val r2 = a2.drop(i / 12 % 12) + a2.take(i / 12 % 12)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", translate(translate(col("text"), a1, r1), a2, r2))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** 200-copy documents corpus (1M docs at sf0.1): copies 0..143 use
    * the 144 two-alphabet rotation bijections (stageDocuments100x's
    * family); copies 144..199 COMPOSE a word-level reversal — a
    * string bijection, so within-copy shingle structure is exactly
    * preserved — with rotations 0..55. 288 distinct bijections >
    * 200 copies: no two copies share one, cross-copy overlap stays
    * collapsed (palindromic words aside), true-pair counts stay
    * flat, and the probe keeps measuring operator scaling rather
    * than output explosion one decade past the 500k evidence.
    */
  def stageDocuments1m(spark: SparkSession, sfDir: String,
      outDir: String, copies: Int = 200): Unit = {
    val a1 = "etaoinshrdlu"; val a2 = "cmfwypvbgkqj"
    (0 until copies).map { i =>
      val j = i % 144
      val r1 = a1.drop(j % 12) + a1.take(j % 12)
      val r2 = a2.drop(j / 12 % 12) + a2.take(j / 12 % 12)
      val rotated = translate(translate(col("text"), a1, r1), a2, r2)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text",
          if (i < 144) rotated
          else array_join(
            transform(split(rotated, " "), w => reverse(w)), " "))
    }.reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  // ----------------------------------------------------------------

  /** JSON string literal for Bench's line and Verify's
    * oracle_sql.json: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in hand-written oracle SQL would otherwise
    * make `json.load` of oracle_sql.json fail, and the DuckDB compare
    * with it.
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** An error's first message line, capped, for the JSON errors map. */
  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .takeWhile(_ != '\n').take(200)

  /** Best-effort recursive delete of a staged probe corpus. */
  private def deleteDir(spark: SparkSession, dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val doScale = sys.env.getOrElse("SPARK_GRAFT_SCALE10X", "1") != "0"
    // local-iteration aid: comma-separated query-name filter (the
    // driver never sets it — full board). Filtered runs intersect the
    // probe tail with the filter: naming a probed op runs ITS probe
    // (and its dial sibling, for the bases that have one) and nothing
    // else — the uncontended per-op probe graft.Probe compares
    // driver-shaped numbers against.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    def keep(m: Map[String, (SparkSession, String) => DataFrame]) =
      only.fold(m)(f => m.filter { case (k, _) => f(k) })
    val probeOps: Seq[String] = only.fold(scaleOps)(f => scaleOps.filter(f))
    // dial/100x blocks key off their BASE op's presence in the filter
    def probing(base: String): Boolean = only.forall(_.contains(base))
    // hard wall for the optional scale10x tail so a contended sandbox
    // can never push the bench past the driver's patience
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "2400").toDouble
    var spark = GraftSession()
    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9
    def sweepScratch(): Unit = locally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(graft.core.Scratch.root).iterator()
        .asScala.toSeq.foreach(graft.core.Scratch.remove)
    }
    // absorb JVM/codegen/filesystem warmup outside the timings (the
    // alphabetically-first query otherwise pays ~5s of it). A filtered
    // run also runs its first selected entry once, untimed: the two
    // probes above leave most of that warm-up to it (d02 read 4.9 s as
    // the first entry, 2.2 s as d02_auto, the same call, right after).
    // Streaming entries are passed over: they memoize their fixture per
    // session, so a warm-up run would turn the timed run into a restart.
    val streaming = graft.queries.Streaming.all.map(_.name).toSet
    val warmEntry: Option[String] =
      only.flatMap(_ => keep(SparkEntry.queries).keys.toSeq.sorted.find(n => !streaming(n)))
    def warmup(): Unit = {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .write.format("noop").mode("overwrite").save()
      spark.range(1000000).selectExpr("sum(id * 2)")
        .write.format("noop").mode("overwrite").save()
      warmEntry.foreach(n => timed(spark, sfDir, SparkEntry.queries(n)))
    }
    warmup()
    // q34's partitioned-fact layout is a FIXTURE (a 100 TB fact is
    // already date-partitioned on disk) — stage it outside the timed
    // window so all three passes time the DPP-pruned read. Guarded:
    // a staging failure must degrade to q34's own error line (it
    // will retry inside its timed run), never abort all 158 medians
    try graft.queries.Relational.stageQ34(spark, sfDir)
    catch { case _: Throwable => () }

    // INTERLEAVED passes: the same query's samples land ~a full suite
    // apart, so a multi-second host-contention window (observed up to
    // 12x on this sandbox) pollutes at most one of the three samples
    // and the median discards it. Back-to-back repeats would put all
    // samples inside the same window.
    //
    // HERMETIC passes (r15 — the r14 "+46 s on untouched entries"
    // inflation): the r14 artifact's own min-vs-median fingerprint
    // showed pass 1 at r13 speed and passes 2-3 ~1 s slower on every
    // multi-job sub-second entry (t11/t13/t14/t15/t16 medians 2× their
    // own mins) — per-PASS session debt (ContextCleaner/listener
    // backlog, shuffle+broadcast residue, codegen/catalog growth from
    // ~670 prior runs), not host contention, which the median would
    // have discarded. So passes 2+ recycle the SparkSession (the probe
    // tail's discipline) with warmup + the q34 fixture restaged
    // outside the timed window. Scratch is deliberately NOT swept
    // between passes — the streaming entries memoize their
    // source/checkpoint fixture dirs across passes (e08/e11/e14/e15/
    // e16) and q34 its layout; only the tail, which re-keys
    // everything, sweeps it. Samples stay interleaved; what they time
    // is the operator, not the previous pass's JVM residue.
    val fixturePasses =
      scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val passes = (1 to iters).map { p =>
      if (p > 1) {
        spark = GraftSession.restart(spark)
        warmup()
        try graft.queries.Relational.stageQ34(spark, sfDir)
        catch { case _: Throwable => () }
      }
      val phases = scala.collection.mutable.Map.empty[String, Double]
      val r = runAll(spark, sfDir, keep(SparkEntry.queries), phases)
      fixturePasses += phases.toMap
      r
    }
    val names = passes.head.map(_._1)
    // Median over SUCCESSFUL samples only: a query that crashes in
    // some passes would otherwise feed its time-to-crash into the
    // median it is supposed to protect. When every pass fails, the
    // crash times are all there is — fall back to them so the query
    // still reports a number alongside its error.
    val byName = names.map { n =>
      val samples = passes.map(_.find(_._1 == n).get)
      val ok = samples.filter(_._3.isEmpty).map(_._2)
      val times = if (ok.nonEmpty) ok else samples.map(_._2)
      n -> (times, samples.flatMap(_._3))
    }.toMap
    val medians = names.map(n => n -> median(byName(n)._1)).toMap
    val mins = names.map(n => n -> byName(n)._1.min).toMap
    val errs = names.flatMap { n =>
      val es = byName(n)._2
      es.headOption.map(e => (n, e, es.size))
    }

    // x20 lives here (not in scaleOps) since its probe runs the
    // PRODUCTION form in a dedicated block — listing it keeps the
    // "naming a probed op runs ITS probe" contract for filtered runs
    val dialBases = Seq("d05_embedding_neardup", "d03_dedup_simhash",
      "d10_semdedup", "s05_knn_graph", "d06_dedup_groups",
      "s15_bitext_margin", "d04_ngram_jaccard", "p03_ccnet_pipeline",
      "x20_gopher_rules")
    // (name, sec, shuffle_bytes, err) rows filled by the sketch-regime
    // probe inside the 100x-docs block; reported as "sketch_probe"
    val sketchProbe = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Long, Option[String])]
    val scaleResults: Seq[(String, Double, Double, Option[String])] =
      if (!doScale || (probeOps.isEmpty && !dialBases.exists(probing))) Nil
      else if (elapsed > budgetSec)
        // staging alone is 3 full corpus rewrites — budget-gate it too,
        // not just the per-op timings, so a contended host can't blow
        // the wall during staging itself
        probeOps.map(n => (n, -1.0, medians(n), Some("skipped_budget")))
      else {
        // PROBE HERMETICITY (r12 verdict: driver probe seconds read
        // 2-7x higher than uncontended runs of IDENTICAL code while
        // every 1x median held flat — the tail, running last, was
        // timing ~31 min of accumulated session state, not the
        // operators). Two accumulators, both drained here:
        //  - scratch warehouses: 200+ entries x 3 passes of
        //    Warehouse.scratch parquet live until JVM exit (Scratch's
        //    shutdown-hook policy) — gigabytes of dead files competing
        //    for page cache with the staged probe corpus;
        //  - session state: shuffle files, broadcast blocks, and the
        //    ContextCleaner backlog of a 600-run session that
        //    timed()'s clearCache+unpersist does not reach.
        // The tail therefore runs on a FRESH SparkSession over an
        // emptied scratch root — the same isolation an uncontended
        // graft.Probe run has, so the artifact grades the operators.
        sweepScratch()
        val sp = GraftSession.restart(spark)
        // absorb the fresh session's executor/BlockManager setup
        // outside the first probe's timing (head-warmup discipline)
        sp.read.parquet(s"$sfDir/nation.parquet")
          .write.format("noop").mode("overwrite").save()
        val scaleDir = graft.core.Scratch.dir("scale10x").toString
        // a staging failure (disk full, interrupted write) must not
        // take the whole bench line — and all 75 medians — with it
        val staged =
          try { stageScaled(sp, sfDir, scaleDir); None }
          catch { case e: Throwable => Some(firstLine(e)) }
        if (staged.isDefined)
          probeOps.map(n =>
            (n, -1.0, medians(n), Some(s"staging_failed: ${staged.get}")))
        else {
        // q34's 10x fixture layout, staged outside the timed probe
        // (same discipline as the corpus staging above)
        try graft.queries.Relational.stageQ34(sp, scaleDir)
        catch { case _: Throwable => () } // probe itself will report
        // SETTLE the freshly staged corpus before the first timed
        // probe: staging just pushed the 10x corpus through 32
        // concurrent writers, and the ring's first slots otherwise
        // time ext4 writeback + cold readahead instead of the
        // operator — measured: p05's probe read 24.9s in the ring's
        // early window vs 2.6s isolated (ratio 17 vs 1.14), and the
        // same inflation hit every early slot. One untimed noop read
        // per staged table forces the flush and warms the cache —
        // the head-warmup discipline the 1x passes already get.
        for (t <- Seq("documents", "embeddings", "orders", "events"))
          try sp.read.parquet(s"$scaleDir/$t.parquet")
            .write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        // container fixtures for the crawl-family probes, staged
        // OUTSIDE the timed window (the q34 discipline): they render
        // driver-side single-threaded from the 10x documents table —
        // inside p06/p07's probe that renders scaffolding, not the
        // operator (measured: p07's probe dropped ~7s of fixture
        // generation once pre-staged; the operator itself is the
        // linear selection + join the entry claims)
        if (probing("p06_crawl_ingest_pipeline") ||
            probing("p07_index_selected_ingest"))
          try graft.queries.WebQueries.stageCrawlFixtures(sp, scaleDir,
            cdx = probing("p07_index_selected_ingest"))
          catch { case _: Throwable => () }
        // NEWEST-FIRST probe order (r17 verdict: the driver's budget
        // wall fell exactly on the tail of the declaration-ordered
        // ring, so every round-17 arrival — the entries with NO prior
        // probe history — was the one skipped; oldest entries have
        // years of committed ratios and can afford to be the ones a
        // contended run drops)
        val rs = probeOps.reverse.map { n =>
          if (elapsed > budgetSec) (n, -1.0, medians(n), Some("skipped_budget"))
          else {
            val (secs, err) = timed(sp, scaleDir, SparkEntry.queries(n))
            (n, secs, medians(n), err)
          }
        } ++ {
          // the d05 scale dial, now AUTomatic: bits derived from a
          // corpus count (Ann.adaptiveBits — occupancy-preserving),
          // run on the same 10x corpus and reported against the
          // registered fixed-bits d05's 1x median. This is the path a
          // 100x corpus takes without hand-tuning.
          if (elapsed > budgetSec || !probing("d05_embedding_neardup")) Nil
          else {
            val (secs, err) = timed(sp, scaleDir, (s, d) =>
              graft.operators.Ann.nearDupLshAuto(
                s.read.parquet(s"$d/embeddings.parquet"),
                threshold = 0.4, tables = 8, dim = 64, seed = 7L))
            Seq(("d05_embedding_neardup_auto", secs, medians("d05_embedding_neardup"), err))
          }
        } ++ {
          // the d03 scale dial: Manku block-combination banding (at
          // the 10x corpus the dial picks b=6 — 20 tables of 30-bit
          // keys) vs the registered 4×15 pigeonhole, whose random
          // collisions grow n²/2¹⁵ (measured 78× candidate volume at
          // 10×). Same reported pairs, bounded occupancy.
          if (elapsed > budgetSec || !probing("d03_dedup_simhash")) Nil
          else {
            val (secs, err) = timed(sp, scaleDir, (s, d) =>
              graft.operators.Dedup.simhashPairsAuto(
                s.read.parquet(s"$d/documents.parquet"), n = 3, maxDist = 3))
            Seq(("d03_dedup_simhash_auto", secs, medians("d03_dedup_simhash"), err))
          }
        } ++ {
          // the d04 occupancy dial: DF cap derived from (rows, docs)
          // so candidate partners per doc hold at the budget — vs the
          // registered fixed maxDf=1000, probed on the same 10x corpus
          if (elapsed > budgetSec || !probing("d04_ngram_jaccard")) Nil
          else {
            val (secs, err) = timed(sp, scaleDir, (s, d) =>
              graft.operators.Dedup.ngramJaccardPairsAuto(
                s.read.parquet(s"$d/documents.parquet"), n = 3, threshold = 0.5))
            Seq(("d04_ngram_jaccard_auto", secs, medians("d04_ngram_jaccard"), err))
          }
        } ++ {
          // the d10 scale dial: adaptive k (DataFrame-native k-means)
          // vs the registered fixed-k SemDeDup on the same 10x corpus
          if (elapsed > budgetSec || !probing("d10_semdedup")) Nil
          else {
            val (secs, err) = timed(sp, scaleDir, (s, d) =>
              graft.operators.Ann.semDedupAuto(
                s.read.parquet(s"$d/embeddings.parquet"),
                threshold = 0.4))
            Seq(("d10_semdedup_auto", secs, medians("d10_semdedup"), err))
          }
        } ++ {
          // the s05 scale dial: occupancy-held k-NN graph (k ∝ n via
          // the DataFrame-native k-means) vs the registered fixed-16-
          // centroid graph, whose within-cluster work is quadratic
          // at fixed k (ratio ~9 on this probe)
          if (elapsed > budgetSec || !probing("s05_knn_graph")) Nil
          else {
            val (secs, err) = timed(sp, scaleDir, (s, d) =>
              graft.operators.Ann.knnGraphAuto(
                s.read.parquet(s"$d/embeddings.parquet"), k = 3))
            Seq(("s05_knn_graph_auto", secs, medians("s05_knn_graph"), err))
          }
        } ++ {
          // the s15 scale dial: IVF-shortlist bitext margin (per-pool
          // occupancy-held codebooks, cluster-key equi-joins) vs the
          // registered exact form, whose |src|·|tgt| crossJoin is the
          // one cartesian on the board — at 10× the pools are ~500 a
          // side, so the exact product is 100× the 1× work while the
          // shortlist probes ~nProbe/k of it.
          if (elapsed > budgetSec || !probing("s15_bitext_margin")) Nil
          else {
            val (secs, err) = timed(sp, scaleDir, (s, d) => {
              val e = s.read.parquet(s"$d/embeddings.parquet")
              graft.operators.Ann.bitextMarginAuto(
                e.filter(col("label") === 0), e.filter(col("label") === 1), k = 4)
            })
            Seq(("s15_bitext_margin_auto", secs, medians("s15_bitext_margin"), err))
          }
        } ++ {
          // d20 SHUFFLE-METERED at 1× and 10× (the docstring's
          // "linearithmic shuffle volume" claim, measured): the
          // prefix-doubling scrub is log₂(W) levels of one (doc,pos)
          // join + one class-key groupBy min each, with NO pair volume
          // anywhere to go quadratic — write bytes should grow
          // ~linearly in tokens. Metered in the PRODUCTION form (no
          // planted fixture, no oracle orderBy — the x20 rule). The
          // 10× staged corpus is this probe's ceiling by design: six
          // memory-checkpointed token-frame levels at 100× (27M
          // tokens) exceed the driver-shaped 8g heap — refusing to
          // meter past the memory envelope beats crashing the bench
          // that carries all 241 medians (r16 measured exactly that).
          if (elapsed > budgetSec || !probing("d20_suffix_span")) Nil
          else {
            def prod(s: SparkSession, d: String) =
              graft.operators.Dedup.suffixSpanScrub(
                s.read.parquet(s"$d/documents.parquet"), minSpan = 50)
            val (s1, b1, e1) = timedShuffle(sp, sfDir, prod)
            sketchProbe += (("d20_suffix_span_1x_metered", s1, b1, e1))
            val (s10, b10, e10) = timedShuffle(sp, scaleDir, prod)
            sketchProbe += (("d20_suffix_span_10x_metered", s10, b10, e10))
            Nil
          }
        } ++ {
          // the p03 tercile dial: Ntile.exact keeps tercile
          // parallelism at shuffle partitions where the registered
          // per-language NTILE window funnels each language through
          // one task — same assignment, measured on the same corpus
          if (elapsed > budgetSec || !probing("p03_ccnet_pipeline")) Nil
          else {
            val (secs, err) = timed(sp, scaleDir,
              SparkEntry.queries("p03_ccnet_pipeline_auto"))
            Seq(("p03_ccnet_pipeline_auto", secs,
              medians("p03_ccnet_pipeline"), err))
          }
        } ++ {
          // x20 probed in its PRODUCTION form (TextQueries.gopherRules, no
          // global sort): the registered entry's orderBy exists only
          // for the oracle diff — the battery itself is one codegen'd
          // projection pass whose 10× cost should be the scan. The 1×
          // baseline stays the registered median (sort included), so
          // the reported ratio is conservative.
          if (elapsed > budgetSec || !probing("x20_gopher_rules")) Nil
          else {
            val (secs, err) = timed(sp, scaleDir, (s, d) =>
              graft.queries.TextQueries.gopherRules(
                s.read.parquet(s"$d/documents.parquet")))
            Seq(("x20_gopher_rules", secs, medians("x20_gopher_rules"), err))
          }
        } ++ {
          // mm05 payload probe: 10× the CLIPS (1200 base + 400 planted
          // copies, ~52 MB of WAV payload vs ~5 MB registered) through
          // the same decode→fingerprint→pigeonhole pipeline. Linear
          // ratio pins the only-features-leave-the-partition claim:
          // the join and shuffle see 8-byte fingerprints regardless of
          // payload bytes, so cost scales with clip count only.
          if (elapsed > budgetSec || !probing("mm05_audio_dedup")) Nil
          else {
            val (secs, err) = timed(sp, scaleDir, (s, _) =>
              graft.operators.Multimodal.phashPairs(
                graft.operators.Multimodal.audioFingerprint(
                  graft.operators.Multimodal.wavDupMedia(s, 1200))
                  .select(col("media_id"), col("afp").as("phash")),
                maxHamming = 2))
            Seq(("mm05_audio_dedup_10x", secs, medians("mm05_audio_dedup"), err))
          }
        } ++ {
          // 100× embeddings probe: the 10× probe cannot separate the
          // Auto paths' O(n·√k) routed assignment from a quadratic —
          // at 10× the adaptive k is still under RouteThreshold and
          // assignment runs direct. 100× pushes k = n/256 past the
          // threshold, so THIS probe runs the two-level routing live
          // (coarse-cell probe + cell equi-join) at a k where the old
          // keyless broadcast form would score 780+ centroids per row.
          // Embeddings-only staging: ~50 MB, one write.
          if (elapsed > budgetSec ||
              !(probing("d10_semdedup") && probing("s05_knn_graph"))) Nil
          else {
            val dir100 = graft.core.Scratch.dir("scale100x").toString
            val staged100 =
              try { stageEmbeddings100x(sp, sfDir, dir100); None }
              catch { case e: Throwable => Some(firstLine(e)) }
            val rs100 =
              if (staged100.isDefined)
                (Seq("d10_semdedup_auto_100x", "s05_knn_graph_auto_100x") ++
                    (if (probing("s15_bitext_margin"))
                       Seq("s15_bitext_margin_auto_100x",
                         "s15_bitext_margin_auto_routed_100x") else Nil)).map(n =>
                  (n, -1.0, 0.0, Some(s"staging_failed: ${staged100.get}")))
              else (Seq(
                ("d10_semdedup_auto_100x", (s: SparkSession, d: String) =>
                  graft.operators.Ann.semDedupAuto(
                    s.read.parquet(s"$d/embeddings.parquet"), threshold = 0.4)),
                ("s05_knn_graph_auto_100x", (s: SparkSession, d: String) =>
                  graft.operators.Ann.knnGraphAuto(
                    s.read.parquet(s"$d/embeddings.parquet"), k = 3))
              ) ++ (
                // shortlist bitext margin at ~5000-vector pools: the
                // exact crossJoin would be 25M scored pairs; the
                // shortlist scores ~nProbe/k of that through
                // cluster-key equi-joins. Guarded on ITS base being in
                // the filter — the medians lookup below would throw on
                // a filtered run that never benched s15.
                if (!probing("s15_bitext_margin")) Nil
                else Seq(
                  ("s15_bitext_margin_auto_100x", (s: SparkSession, d: String) => {
                    val e = s.read.parquet(s"$d/embeddings.parquet")
                    graft.operators.Ann.bitextMarginAuto(
                      e.filter(col("label") === 0), e.filter(col("label") === 1),
                      k = 4)
                  }),
                  // the ROUTED-probe regime (r15): occupancy 64 pushes
                  // the per-pool codebooks past RouteThreshold (k =
                  // pool/64 > 256 at these pool sizes), so BOTH miner
                  // stages — member assignment AND the query-side
                  // arg-top-nProbe — run the two-level √k routing
                  // live, the path a 100 TB pool takes. The r14 form
                  // would broadcast every centroid to every query
                  // here; this row times the fix.
                  ("s15_bitext_margin_auto_routed_100x",
                    (s: SparkSession, d: String) => {
                    val e = s.read.parquet(s"$d/embeddings.parquet")
                    graft.operators.Ann.bitextMarginAuto(
                      e.filter(col("label") === 0), e.filter(col("label") === 1),
                      k = 4, occupancy = 64L)
                  }))
              )).map { case (n, fn) =>
                if (elapsed > budgetSec) (n, -1.0, 0.0, Some("skipped_budget"))
                else {
                  val (secs, err) = timed(sp, dir100, fn)
                  val base =
                    if (n.startsWith("d10_semdedup")) medians("d10_semdedup")
                    else if (n.startsWith("s15_bitext_margin"))
                      medians("s15_bitext_margin")
                    else medians("s05_knn_graph")
                  (n, secs, base, err)
                }
              }
            deleteDir(sp, dir100)
            rs100
          }
        } ++ {
          // 100× documents probe for the d03 banding dial: at 500k
          // docs the fixed 4×15 pigeonhole's random collisions alone
          // are n²/2^15 ≈ 7.6e9 candidate pairs — unrunnable by
          // design — while the dial re-bands to b=6 (20 tables,
          // 30-bit keys, expected random collisions < 0.01/doc).
          // Only the auto form runs here, like the embeddings probes.
          if (elapsed > budgetSec ||
              !(probing("d03_dedup_simhash") && probing("d06_dedup_groups"))) Nil
          else {
            val dir100d = graft.core.Scratch.dir("scale100xdocs").toString
            val stagedD =
              try { stageDocuments100x(sp, sfDir, dir100d); None }
              catch { case e: Throwable => Some(firstLine(e)) }
            val rsD =
              if (stagedD.isDefined)
                Seq(
                  ("d03_dedup_simhash_auto_100x", "d03_dedup_simhash"),
                  ("d06_dedup_groups_100x", "d06_dedup_groups")
                ).map { case (n, base) => (n, -1.0, medians(base),
                  Some(s"staging_failed: ${stagedD.get}")) }
              else {
                val (secs, err) = timed(sp, dir100d, (s, d) =>
                  graft.operators.Dedup.simhashPairsAuto(
                    s.read.parquet(s"$d/documents.parquet"), n = 3, maxDist = 3))
                // d06: the one candidate-graph consumer without 100x
                // evidence (r11 verdict) — min-label propagation with
                // pointer jumping is O(log d) rounds over the pair
                // volume, which the banded candidate generation keeps
                // linear; this probe measures that claim at 500k docs
                val (secs6, err6) =
                  if (elapsed > budgetSec) (-1.0, Some("skipped_budget"))
                  else timed(sp, dir100d, (s, d) =>
                    graft.operators.DupGroups.groups(
                      graft.operators.Dedup.ngramJaccardPairs(
                        s.read.parquet(s"$d/documents.parquet"),
                        n = 3, threshold = 0.5, maxDf = 1000L)))
                // d04 occupancy dial at 100×: 500k docs is where a
                // mis-sized cap would show — the derived budget/s̄ cap
                // holds candidate partners per doc flat while the
                // corpus grows 100×
                val rsD04 =
                  if (elapsed > budgetSec || !probing("d04_ngram_jaccard")) Nil
                  else {
                    val (s04a, e04a) = timed(sp, dir100d, (s, d) =>
                      graft.operators.Dedup.ngramJaccardPairsAuto(
                        s.read.parquet(s"$d/documents.parquet"),
                        n = 3, threshold = 0.5))
                    Seq(("d04_ngram_jaccard_auto_100x", s04a,
                      medians("d04_ngram_jaccard"), e04a))
                  }
                // d14 family at 100×: the exact-substring scrub's
                // whole scale claim is LINEAR-in-windows coverage (no
                // pair volume), and the fast dial is the registered
                // 100 TB path — so the dial gets the 500k-doc probe
                // (the md5 form's cost is characterized at 10×; only
                // the dial needs the big-corpus evidence).
                val rsD14 =
                  if (elapsed > budgetSec ||
                      !probing("d14_exact_substr_scrub_fast")) Nil
                  else {
                    val (s14, e14p) = timed(sp, dir100d,
                      SparkEntry.queries("d14_exact_substr_scrub_fast"))
                    Seq(("d14_exact_substr_scrub_fast_100x", s14,
                      medians("d14_exact_substr_scrub_fast"), e14p))
                  }
                // d17 auto dial at 100×: 500k docs is where the
                // occupancy-held bucketLen actually moves (the dial
                // picks 2; the fixed form's 37 buckets would each
                // sort ~14k rows in one task) — probe the dial where
                // it differs from the registered fixed form.
                val rsD17 =
                  if (elapsed > budgetSec ||
                      !probing("d17_sorted_neighborhood_auto")) Nil
                  else {
                    val (s17, e17p) = timed(sp, dir100d,
                      SparkEntry.queries("d17_sorted_neighborhood_auto"))
                    Seq(("d17_sorted_neighborhood_auto_100x", s17,
                      medians("d17_sorted_neighborhood_auto"), e17p))
                  }
                // SKETCH-REGIME probe (q43 Misra-Gries / x29 KMV):
                // the oracle gates both only where capacity >= true
                // distincts; their whole reason to exist is the
                // billion-distinct column. The 100x corpus's 144
                // letter-bijections multiply the token vocabulary far
                // past MG's 128 counters and make ~every text
                // distinct (>> KMV's 4096 mins), so HERE each sketch
                // runs in its sketch regime — timed against the
                // exact plan (groupBy-count top-k / count-distinct)
                // on wall AND shuffle-write bytes. Filtered local
                // runs reach this block by naming d03+d06+q43+x29.
                if (elapsed <= budgetSec && probing("q43_approx_topk") &&
                    probing("x29_kmv_distinct")) {
                  val (mgS, mgB, mgE) = timedShuffle(sp, dir100d,
                    SparkEntry.queries("q43_approx_topk"))
                  sketchProbe += (("q43_misra_gries_100x", mgS, mgB, mgE))
                  val (exS, exB, exE) = timedShuffle(sp, dir100d, (s, d) => {
                    val words = s.read.parquet(s"$d/documents.parquet")
                      .select(explode(split(col("text"), " ")).as("word"))
                      .filter(col("word") =!= "")
                    words.groupBy("word").agg(count(lit(1)).as("cnt"))
                      .orderBy(col("cnt").desc, col("word")).limit(10)
                  })
                  sketchProbe += (("q43_exact_topk_100x", exS, exB, exE))
                  val (kvS, kvB, kvE) = timedShuffle(sp, dir100d,
                    SparkEntry.queries("x29_kmv_distinct"))
                  sketchProbe += (("x29_kmv_distinct_100x", kvS, kvB, kvE))
                  val (edS, edB, edE) = timedShuffle(sp, dir100d, (s, d) => {
                    val hashed = s.read.parquet(s"$d/documents.parquet")
                      .select(col("source"), xxhash64(col("text")).as("h"))
                    val per = hashed.groupBy("source")
                      .agg(countDistinct(col("h")).as("n_distinct"),
                        count(lit(1)).as("n_docs"))
                    val all = hashed
                      .agg(countDistinct(col("h")).as("n_distinct"),
                        count(lit(1)).as("n_docs"))
                      .select(lit("__all__").as("source"),
                        col("n_distinct"), col("n_docs"))
                    per.unionAll(all).orderBy("source")
                  })
                  sketchProbe += (("x29_exact_distinct_100x", edS, edB, edE))
                }
                // INCREMENT-ISOLATION probe (d18/e23's core claim):
                // the SAME constant batch (copy-0 doc_id%5=0) ingests
                // against a 1×-seeded and a 100×-seeded store+index;
                // O(batch + matches) means the reported ratio reads
                // ~1 — corpus growth must not reach the increment.
                // Seeding the 100× index is untimed: that one-time
                // build is d02's cost, characterized elsewhere.
                val rsD18 =
                  if (elapsed > budgetSec || !probing("d18_incremental_lsh")) Nil
                  else {
                    import graft.operators.Dedup
                    def increment(oldDocs: DataFrame, tag: String) = {
                      val st = graft.core.Scratch.dir(tag).toString
                      Dedup.lshIngest(oldDocs, s"$st/docs", s"$st/index",
                        n = 3, threshold = 0.5).count() // seed, untimed
                      timed(sp, st, (s, d) =>
                        Dedup.lshIngest(
                          s.read.parquet(s"$sfDir/documents.parquet")
                            .filter(col("doc_id") % 5 === 0)
                            .select("doc_id", "text"),
                          s"$d/docs", s"$d/index", n = 3, threshold = 0.5))
                    }
                    val olds1 = sp.read.parquet(s"$sfDir/documents.parquet")
                      .filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
                    val (s1i, e1i) = increment(olds1, "d18p1")
                    val olds100 = sp.read.parquet(s"$dir100d/documents.parquet")
                      .filter(col("doc_id") % 5 =!= 0 ||
                        col("doc_id") >= 10000000L)
                      .select("doc_id", "text")
                    val (s100i, e100i) = increment(olds100, "d18p100")
                    Seq(("d18_increment_100xcorpus", s100i, s1i,
                      e100i.orElse(e1i)))
                  }
                // 1M-DOC probe (r14): one decade past the 500k
                // evidence for the flagship dedup path — d02's full
                // MinHash-LSH, d14_fast's window scrub, and d18's
                // constant increment against a 1M-seeded index — with
                // d02's SHUFFLE BYTES metered at every corpus decade
                // (1x/10x/100x/200x, rows in the sketch_probe block)
                // so linearity is measured in bytes, not just wall.
                // NOTE: lives inside the 100x-docs block (the decade
                // table's 100x leg reads dir100d), so a FILTERED local
                // run must also name d03_dedup_simhash and
                // d06_dedup_groups to reach it; the driver's
                // unfiltered run always does.
                val rs1m =
                  if (elapsed > budgetSec ||
                      !(probing("d02_dedup_minhash") &&
                        probing("d14_exact_substr_scrub_fast") &&
                        probing("d18_incremental_lsh"))) Nil
                  else {
                    val dir1m = graft.core.Scratch.dir("scale1m").toString
                    val staged1m =
                      try { stageDocuments1m(sp, sfDir, dir1m); None }
                      catch { case e: Throwable => Some(firstLine(e)) }
                    val out =
                      if (staged1m.isDefined)
                        Seq("d02_dedup_minhash_1m",
                          "d14_exact_substr_scrub_fast_1m",
                          "d18_increment_1mcorpus").map(n =>
                          (n, -1.0, 0.0, Some(s"staging_failed: ${staged1m.get}")))
                      else {
                        var d02at1m = (-1.0, Option("skipped_budget"))
                        for ((tag, d) <- Seq(("1x", sfDir), ("10x", scaleDir),
                            ("100x", dir100d), ("200x", dir1m))) {
                          if (elapsed <= budgetSec) {
                            val (s, b, e) = timedShuffle(sp, d,
                              SparkEntry.queries("d02_dedup_minhash"))
                            sketchProbe += ((s"d02_decade_$tag", s, b, e))
                            if (tag == "200x") d02at1m = (s, e)
                          }
                        }
                        val (s14m, e14m) =
                          if (elapsed > budgetSec) (-1.0, Some("skipped_budget"))
                          else timed(sp, dir1m,
                            SparkEntry.queries("d14_exact_substr_scrub_fast"))
                        val (s18m, e18m) =
                          if (elapsed > budgetSec) (-1.0, Some("skipped_budget"))
                          else {
                            import graft.operators.Dedup
                            val st = graft.core.Scratch.dir("d18p1m").toString
                            Dedup.lshIngest( // seed, untimed (d02's cost)
                              sp.read.parquet(s"$dir1m/documents.parquet")
                                .filter(col("doc_id") % 5 =!= 0 ||
                                  col("doc_id") >= 10000000L)
                                .select("doc_id", "text"),
                              s"$st/docs", s"$st/index",
                              n = 3, threshold = 0.5).count()
                            timed(sp, st, (s, d) =>
                              Dedup.lshIngest(
                                s.read.parquet(s"$sfDir/documents.parquet")
                                  .filter(col("doc_id") % 5 === 0)
                                  .select("doc_id", "text"),
                                s"$d/docs", s"$d/index",
                                n = 3, threshold = 0.5))
                          }
                        Seq(
                          ("d02_dedup_minhash_1m", d02at1m._1,
                            medians("d02_dedup_minhash"), d02at1m._2),
                          ("d14_exact_substr_scrub_fast_1m", s14m,
                            medians("d14_exact_substr_scrub_fast"), e14m),
                          // baseline: the REGISTERED d18 median (what
                          // medians carries here); for the strict
                          // increment-vs-increment ratio read this row
                          // against d18_increment_100xcorpus's
                          // sec1x_median, the freshly measured 1×
                          // increment in the same JSON
                          ("d18_increment_1mcorpus", s18m,
                            medians("d18_incremental_lsh"), e18m))
                      }
                    deleteDir(sp, dir1m)
                    out
                  }
                Seq(
                  ("d03_dedup_simhash_auto_100x", secs,
                    medians("d03_dedup_simhash"), err),
                  ("d06_dedup_groups_100x", secs6,
                    medians("d06_dedup_groups"), err6)) ++ rsD04 ++ rsD14 ++ rsD17 ++ rsD18 ++ rs1m
              }
            deleteDir(sp, dir100d)
            rsD
          }
        }
        deleteDir(sp, scaleDir)
        rs
        }
      }

    // millisecond precision: the 9-decimal nanos rendering tripled the
    // stdout line past capped log captures' tail window, and nothing
    // downstream reads sub-ms timing
    def fmt(d: Double): String = f"$d%.3f"
    val qs = names.map(n => s"${jstr(n)}:${fmt(medians(n))}").mkString("{", ",", "}")
    val qmins = names.map(n => s"${jstr(n)}:${fmt(mins(n))}").mkString("{", ",", "}")
    val errJson = errs.map { case (k, e, nFail) =>
      s"""${jstr(k)}:{"msg":${jstr(e)},"failed_passes":$nFail,"of":$iters}"""
    }.mkString("{", ",", "}")
    val scaleJson = scaleResults.map { case (n, s10, s1, err) =>
      val ratio = if (s1 > 0 && s10 >= 0) s10 / s1 else -1.0
      s"${jstr(n)}:{" +
        s""""sec10x":${fmt(s10)},"sec1x_median":${fmt(s1)},"ratio":${fmt(ratio)}""" +
        err.fold("")(e => s""","err":${jstr(e)}""") + "}"
    }.mkString("{", ",", "}")
    val sketchJson = sketchProbe.map { case (n, s, b, err) =>
      s"${jstr(n)}:{" + s""""sec":${fmt(s)},"shuffle_bytes":$b""" +
        err.fold("")(e => s""","err":${jstr(e)}""") + "}"
    }.mkString("{", ",", "}")
    val nErr = errs.size
    val total = names.map(medians).sum
    // per-entry FIXTURE medians (the r17 verdict's stream-vs-fixture
    // decomposition): a new top-level field — never folded into the
    // entry's own seconds, so the timed methodology and every existing
    // number keep their meaning; stream_sec = queries[k] −
    // fixture_sec[k] for consumers that want the engine-owned part
    val fixtureKeys = fixturePasses.flatMap(_.keys).distinct.sorted
    val fixtureJson = fixtureKeys.map { k =>
      s"${jstr(k)}:${fmt(median(fixturePasses.toSeq.map(_.getOrElse(k, 0.0))))}"
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"total_median","value":${fmt(total)},"unit":"sec","iters":$iters,"queries":$qs,"queries_min":$qmins,"errors":$errJson,"scale10x":$scaleJson,"sketch_probe":$sketchJson,"fixture_sec":$fixtureJson,"n_queries":${names.size},"n_ok":${names.size - nErr},"n_err":$nErr,"bench_wall_sec":${fmt(elapsed)},"sf":"$sfDir"}"""
    println(json)
    // the stdout line gets head-truncated by capped log captures (it
    // lost 30 of 66 medians in round 5's durable record) — always
    // persist the full JSON to a file as well, plus a repo-tracked
    // copy (bench_results/latest.json) so each round's numbers are
    // machine-readable from git history, not only from a log tail
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    for (f <- Seq(outFile, "bench_results/latest.json")) {
      try {
        val p = java.nio.file.Paths.get(f)
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $f: ${e.getMessage}") }
    }
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
