package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge

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

  /** timed() plus the run's total shuffle-write bytes, read once the
    * listener bus has delivered every event posted so far. A bus that
    * does not drain within Spark's 10 s reports the row with an error
    * rather than a tally that may miss late stages.
    */
  private def timedShuffle(spark: SparkSession, dir: String, fn: Fn): Res = {
    val t = new ShuffleTally
    spark.sparkContext.addSparkListener(t)
    val (secs, err) = timed(spark, dir, fn)
    val undrained =
      try { ListenerBridge.drain(spark); None }
      catch { case e: java.util.concurrent.TimeoutException =>
        Some(s"shuffle tally incomplete: ${firstLine(e)}") }
    spark.sparkContext.removeSparkListener(t)
    Res(secs, err.orElse(undrained), t.bytes.get)
  }

  /** Median of an odd or even sample (midpoint average). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ----------------------------------------------------------------
  // The probe tail: after the 1× passes, each probe row times one
  // function on a synthesized larger corpus (the test data has no
  // sf1) and reports secs / the 1× median of its base entry. A
  // roughly-linear operator lands well under ~15 at 10× (10× work +
  // shuffle/log-factor overhead).

  /** The 10× ring: registered entries whose work grows with the
    * corpus, each run as registered on the 10× corpus. Probed
    * newest-first (the tail of this list runs first), so a budget cut
    * drops the entries with the longest probe history. Not in the ring:
    *  - q21 (frontier capped at p_partkey <= 255) and x27 (|V| capped
    *    at 97 hosts): scale-free by construction, the ratio reads ~1;
    *  - s11: its cost is s03 + s01, both characterized already;
    *  - w01, w02, w03: a 10× timing would measure the single-threaded
    *    driver-side fixture write, not the splittable reader (w05's
    *    fixture is host-bounded, so its probe measures the filter);
    *  - x20 and mm05: each has its own row in [[allProbes]].
    * d17_sorted_neighborhood's candidate volume is n·(w−1) by
    * construction, so its probe checks the constant. s05_knn_graph's
    * row reports its SizeGatedException by design (the fixed-centroid
    * dial refuses a 10× corpus); s05_knn_graph_auto is its scale path.
    */
  val scaleOps: Seq[String] = Seq(
    "d02_dedup_minhash", "d03_dedup_simhash", "d04_ngram_jaccard",
    "d05_embedding_neardup", "d06_dedup_groups", "d09_span_dedup",
    "d10_semdedup", "d11_incremental_dedup", "d12_containment",
    "d13_cdc_chunk_dedup", "d14_exact_substr_scrub",
    "d14_exact_substr_scrub_fast", "e13_funnel", "x26_scalar_quantize",
    "m02_incremental_merge", "m31_merge_on_read", "q26_cohort_retention",
    "q31_window_range_frame", "q34_dpp",
    "s05_knn_graph", "s08_range_search", "x08_tfidf",
    "x18_token_budget_sample", "x21_char_entropy",
    "x22_bpe_train", "x24_nb_classifier", "x25_bpe_encode",
    "q42_interval_concurrency", "q43_approx_topk", "e21_sliding_windows",
    "x28_pmi_collocations", "p04_funnel_report", "t18_audit_compare",
    "s12_mmr_diversify",
    "d15_dedup_survivorship", "d17_sorted_neighborhood",
    "d17_sorted_neighborhood_auto", "s04_ann_ivfpq", "x17_importance_weights",
    "e22_multi_stateful", "m51_partition_evolution",
    "d18_incremental_lsh", "m52_multi_table_txn",
    "d19_minhash_auto", "e23_stream_neardup_ingest", "s14_ann_upsert",
    "s15_bitext_margin", "p03_ccnet_pipeline",
    "e24_quota_admission", "x31_fuzzy_decontam", "s16_ann_compact",
    "s17_index_asof", "m53_snapshot_expire",
    "m54_table_branches", "x32_temperature_mix", "x33_sliding_chunks",
    "s18_ann_ivfpq_residual", "m55_column_mapping", "p05_epoch_materializer",
    "d20_suffix_span", "x34_html_extract", "x35_url_blocklist",
    "x37_unigram_encode", "s19_ann_opq", "x36_unigram_train",
    "s20_ann_nsw", "p06_crawl_ingest_pipeline", "s21_ann_hnsw",
    "x38_kmv_overlap", "p07_index_selected_ingest", "w05_robots_filter",
    "p08_domain_rank_curation")

  private[graft] type Fn = (SparkSession, String) => DataFrame

  /** A probe corpus. The tail stages each one on first use (outside
    * any timed window) in a scratch dir named by its tag, and deletes
    * it after its last row. `One` is the sf dir itself.
    */
  private[graft] sealed abstract class Corpus(val tag: String)
  private[graft] object Corpus {
    case object One extends Corpus("1x")
    case object Ten extends Corpus("scale10x")
    case object Emb100 extends Corpus("scale100x")
    case object Docs100 extends Corpus("scale100xdocs")
    case object Docs1m extends Corpus("scale1m")
  }

  /** A row's outcome: seconds, error, shuffle-write bytes (sketch rows)
    * and, for the row that measures its own 1× baseline, that baseline.
    */
  private[graft] final case class Res(sec: Double, err: Option[String],
      bytes: Long = 0L, base: Option[Double] = None)

  /** What a row's run gets: the probe session, the 1× dir, its staged
    * corpus dir, and the row's timer (shuffle-metered on sketch rows).
    */
  private[graft] final case class Ctx(sp: SparkSession, sfDir: String,
      dir: String, time: (String, Fn) => Res)

  /** One probe row. It runs when its `base` entry is selected (so a
    * filtered run has benched the base and holds its 1× median), and
    * reports to scale10x as `name` against that median — or, when
    * `sketch`, to sketch_probe with its shuffle bytes, and to scale10x
    * as well under `also`. Fails closed on a base the registry lacks.
    */
  private[graft] final case class ProbeRow(name: String, corpus: Corpus,
      base: String, run: Ctx => Res, sketch: Boolean = false,
      also: Option[String] = None) {
    require(registry.contains(base), s"probe row $name: base $base is not a registry entry")
    def scaleKey: Option[String] = if (sketch) also else Some(name)
    def sketchKey: Option[String] = if (sketch) Some(name) else None
  }

  private lazy val registry = SparkEntry.queries

  /** A registered entry's function; fails closed on an unknown name. */
  private def entry(n: String): Fn = {
    require(registry.contains(n), s"probe table names $n, not a registry entry")
    registry(n)
  }

  /** A row that times `fn` once on its corpus. */
  private def row(name: String, corpus: Corpus, base: String, fn: Fn,
      sketch: Boolean = false, also: Option[String] = None): ProbeRow =
    ProbeRow(name, corpus, base, c => c.time(c.dir, fn), sketch, also)

  /** d18/e23's increment isolation: the SAME constant batch (copy-0
    * doc_id % 5 = 0) ingests, timed, against a store + index seeded
    * untimed (that build is d02's cost) from the rest of the corpus at
    * `corpusDir`. O(batch + matches) means the time holds flat as the
    * seeded corpus grows.
    */
  private def increment(c: Ctx, tag: String, corpusDir: String): Res = {
    import graft.operators.Dedup
    val st = graft.core.Scratch.dir(tag).toString
    Dedup.lshIngest(c.sp.read.parquet(s"$corpusDir/documents.parquet")
        .filter(col("doc_id") % 5 =!= 0 || col("doc_id") >= 10000000L)
        .select("doc_id", "text"),
      s"$st/docs", s"$st/index", n = 3, threshold = 0.5).count()
    c.time(st, (s, d) => Dedup.lshIngest(
      s.read.parquet(s"${c.sfDir}/documents.parquet")
        .filter(col("doc_id") % 5 === 0).select("doc_id", "text"),
      s"$d/docs", s"$d/index", n = 3, threshold = 0.5))
  }

  /** Every probe row, in run order. */
  private[graft] lazy val allProbes: Seq[ProbeRow] = {
    import Corpus._
    import graft.operators.{Ann, Dedup, DupGroups, Multimodal}
    def docs(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
    def emb(s: SparkSession, d: String) = s.read.parquet(s"$d/embeddings.parquet")
    // the shortlist bitext margin over the two label pools
    def bitext(occupancy: Long): Fn = (s, d) => {
      val e = emb(s, d)
      Ann.bitextMarginAuto(e.filter(col("label") === 0),
        e.filter(col("label") === 1), k = 4, occupancy = occupancy)
    }
    val d05auto: Fn = (s, d) =>
      Ann.nearDupLshAuto(emb(s, d), threshold = 0.4, tables = 8, dim = 64, seed = 7L)
    val d03auto: Fn = (s, d) => Dedup.simhashPairsAuto(docs(s, d), n = 3, maxDist = 3)
    val d04auto: Fn = (s, d) => Dedup.ngramJaccardPairsAuto(docs(s, d), n = 3, threshold = 0.5)
    val d10auto: Fn = (s, d) => Ann.semDedupAuto(emb(s, d), threshold = 0.4)
    val s05auto: Fn = (s, d) => Ann.knnGraphAuto(emb(s, d), k = 3)
    // d20 in its production form (no planted fixture, no oracle
    // orderBy): log₂(W) levels of one (doc,pos) join + one class-key
    // min each, no pair volume — shuffle bytes should grow ~linearly in
    // tokens. 10× is its ceiling: six memory-checkpointed token levels
    // at 100× (27M tokens) exceed an 8g driver heap.
    val d20prod: Fn = (s, d) => Dedup.suffixSpanScrub(docs(s, d), minSpan = 50)
    scaleOps.reverse.map(n => row(n, Ten, n, entry(n))) ++ Seq(
      // the 10× dials against their registered fixed forms' 1× medians:
      // d05 derives LSH bits from a count (occupancy-preserving); d03
      // re-bands (b=6: 20 tables of 30-bit keys) where the fixed 4×15
      // pigeonhole's random collisions grow n²/2¹⁵; d04 derives its DF
      // cap from (rows, docs); d10 and s05 take an adaptive k (s05's
      // fixed 16 centroids make within-cluster work quadratic); s15
      // swaps the board's one cartesian for cluster-key equi-joins
      row("d05_embedding_neardup_auto", Ten, "d05_embedding_neardup", d05auto),
      row("d03_dedup_simhash_auto", Ten, "d03_dedup_simhash", d03auto),
      row("d04_ngram_jaccard_auto", Ten, "d04_ngram_jaccard", d04auto),
      row("d10_semdedup_auto", Ten, "d10_semdedup", d10auto),
      row("s05_knn_graph_auto", Ten, "s05_knn_graph", s05auto),
      row("s15_bitext_margin_auto", Ten, "s15_bitext_margin", bitext(256L)),
      row("d20_suffix_span_1x_metered", One, "d20_suffix_span", d20prod, sketch = true),
      row("d20_suffix_span_10x_metered", Ten, "d20_suffix_span", d20prod, sketch = true),
      // distributed NTILE keeps tercile parallelism where the
      // per-language window funnels each language through one task
      row("p03_ccnet_pipeline_auto", Ten, "p03_ccnet_pipeline",
        entry("p03_ccnet_pipeline_auto")),
      // x20's production form: the registered entry's global sort
      // exists only for the oracle diff (12.4× at 10× in r14); the 1×
      // baseline keeps the sort, so the ratio is conservative
      row("x20_gopher_rules", Ten, "x20_gopher_rules",
        (s, d) => graft.queries.TextQueries.gopherRules(docs(s, d))),
      // mm05 at 10× the clips (1200 base + 400 planted copies, ~52 MB
      // of WAV payload), staged by the run itself: only 8-byte
      // fingerprints reach the join, so cost scales with clip count
      row("mm05_audio_dedup_10x", One, "mm05_audio_dedup", (s, _) =>
        Multimodal.phashPairs(
          Multimodal.audioFingerprint(Multimodal.wavDupMedia(s, 1200))
            .select(col("media_id"), col("afp").as("phash")), maxHamming = 2)),
      // 100× embeddings: k = n/256 passes RouteThreshold, so the Auto
      // paths' two-level √k routing runs live. Occupancy 64 pushes s15's
      // per-pool codebooks past it too, in both miner stages.
      row("d10_semdedup_auto_100x", Emb100, "d10_semdedup", d10auto),
      row("s05_knn_graph_auto_100x", Emb100, "s05_knn_graph", s05auto),
      row("s15_bitext_margin_auto_100x", Emb100, "s15_bitext_margin", bitext(256L)),
      row("s15_bitext_margin_auto_routed_100x", Emb100, "s15_bitext_margin", bitext(64L)),
      // 500k docs: d03's fixed pigeonhole would face ~7.6e9 random
      // candidates, so only the dial runs; d06's label propagation is
      // O(log d) rounds over banded pairs; the d04 cap, d14's fast scrub
      // and d17's occupancy-held bucketLen (2 here, 37 fixed) are probed
      // where a mis-sized dial would show
      row("d03_dedup_simhash_auto_100x", Docs100, "d03_dedup_simhash", d03auto),
      row("d06_dedup_groups_100x", Docs100, "d06_dedup_groups", (s, d) =>
        DupGroups.groups(Dedup.ngramJaccardPairs(docs(s, d), n = 3,
          threshold = 0.5, maxDf = 1000L))),
      row("d04_ngram_jaccard_auto_100x", Docs100, "d04_ngram_jaccard", d04auto),
      row("d14_exact_substr_scrub_fast_100x", Docs100,
        "d14_exact_substr_scrub_fast", entry("d14_exact_substr_scrub_fast")),
      row("d17_sorted_neighborhood_auto_100x", Docs100,
        "d17_sorted_neighborhood_auto", entry("d17_sorted_neighborhood_auto")),
      // sketch regime: the 100× vocabulary is far past q43's 128
      // Misra-Gries counters and x29's 4096 KMV mins, so each sketch is
      // timed against its exact plan on wall and shuffle bytes
      row("q43_misra_gries_100x", Docs100, "q43_approx_topk",
        entry("q43_approx_topk"), sketch = true),
      row("q43_exact_topk_100x", Docs100, "q43_approx_topk", (s, d) =>
        docs(s, d).select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("word")).limit(10), sketch = true),
      row("x29_kmv_distinct_100x", Docs100, "x29_kmv_distinct",
        entry("x29_kmv_distinct"), sketch = true),
      row("x29_exact_distinct_100x", Docs100, "x29_kmv_distinct", (s, d) => {
        val hashed = docs(s, d).select(col("source"), xxhash64(col("text")).as("h"))
        val per = hashed.groupBy("source")
          .agg(countDistinct(col("h")).as("n_distinct"), count(lit(1)).as("n_docs"))
        val all = hashed
          .agg(countDistinct(col("h")).as("n_distinct"), count(lit(1)).as("n_docs"))
          .select(lit("__all__").as("source"), col("n_distinct"), col("n_docs"))
        per.unionAll(all).orderBy("source")
      }, sketch = true),
      // the increment against a 1×- and a 100×-seeded index; the row's
      // baseline is the 1× increment measured here, so it reads ~1
      ProbeRow("d18_increment_100xcorpus", Docs100, "d18_incremental_lsh", c => {
        val one = increment(c, "d18p1", c.sfDir)
        val hundred = increment(c, "d18p100", c.dir)
        hundred.copy(err = hundred.err.orElse(one.err), base = Some(one.sec))
      })) ++
      // d02's shuffle bytes at every corpus decade up to 1M docs (200
      // copies); the 200× leg is also d02's 1M-doc scale row
      Seq(("1x", One), ("10x", Ten), ("100x", Docs100), ("200x", Docs1m)).map {
        case (tag, c) => row(s"d02_decade_$tag", c, "d02_dedup_minhash",
          entry("d02_dedup_minhash"), sketch = true,
          also = if (c == Docs1m) Some("d02_dedup_minhash_1m") else None)
      } ++ Seq(
      row("d14_exact_substr_scrub_fast_1m", Docs1m,
        "d14_exact_substr_scrub_fast", entry("d14_exact_substr_scrub_fast")),
      // baseline: the registered d18 median; for the strict increment
      // ratio read it against d18_increment_100xcorpus's sec1x_median
      ProbeRow("d18_increment_1mcorpus", Docs1m, "d18_incremental_lsh",
        c => increment(c, "d18p1m", c.dir)))
  }

  /** The rows a run makes: all of them, or those whose base `only`
    * names — naming a probed entry runs exactly its probes.
    */
  private[graft] def probesFor(only: Option[Set[String]]): Seq[ProbeRow] =
    only.fold(allProbes)(f => allProbes.filter(p => f(p.base)))

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

  /** `copies`× documents corpus (100 copies: 500k docs at sf0.1, 200:
    * 1M), written as `partitions` files. Copies 0..143 use the 144
    * bijections of two letter rotations over disjoint 12-letter
    * alphabets; copies 144..199 COMPOSE a word-level reversal (a string
    * bijection) with rotations 0..55. Within-copy shingle structure is
    * exactly preserved, and with 288 distinct bijections no two copies
    * share one — unlike stageScaled's single 12-rotation family at 100
    * copies — so cross-copy overlap collapses (palindromic words
    * aside), true-pair counts stay flat, and the probe measures
    * operator scaling rather than output explosion.
    */
  def stageDocuments(spark: SparkSession, sfDir: String, outDir: String,
      copies: Int, partitions: Int): Unit = {
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
      .repartition(partitions)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Stage corpus `c` for the rows of `plan`: its dir, or the first
    * line of the staging error. The 10× corpus also gets its
    * fixtures, each staged outside the timed window and left to the
    * probe to report if it fails:
    *  - q34's partitioned-fact layout;
    *  - one untimed read per table, which settles the writeback of
    *    the 32 staging writers and warms the cache (p05's probe read
    *    24.9 s in the ring's early window vs 2.6 s isolated without it);
    *  - the crawl containers p06/p07 read, rendered driver-side from
    *    the 10× documents (inside the probe that time is scaffolding,
    *    ~7 s of p07's).
    */
  private def stage(sp: SparkSession, sfDir: String, c: Corpus,
      plan: Seq[ProbeRow]): Either[String, String] =
    if (c == Corpus.One) Right(sfDir)
    else {
      val dir = graft.core.Scratch.dir(c.tag).toString
      try {
        c match {
          case Corpus.Ten =>
            stageScaled(sp, sfDir, dir)
            quietly(graft.queries.Relational.stageQ34(sp, dir))
            for (t <- Seq("documents", "embeddings", "orders", "events"))
              quietly(sp.read.parquet(s"$dir/$t.parquet")
                .write.format("noop").mode("overwrite").save())
            val names = plan.map(_.name).toSet
            if (names("p06_crawl_ingest_pipeline") || names("p07_index_selected_ingest"))
              quietly(graft.queries.WebQueries.stageCrawlFixtures(sp, dir,
                cdx = names("p07_index_selected_ingest")))
          case Corpus.Emb100 => stageEmbeddings100x(sp, sfDir, dir)
          case Corpus.Docs100 => stageDocuments(sp, sfDir, dir, copies = 100, partitions = 32)
          case _ => stageDocuments(sp, sfDir, dir, copies = 200, partitions = 64)
        }
        Right(dir)
      } catch { case e: Throwable => deleteDir(sp, dir); Left(firstLine(e)) }
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

  /** Runs a fixture step whose failure its consumer will report. */
  private def quietly(f: => Unit): Unit =
    try f catch { case _: Throwable => () }

  /** Best-effort recursive delete of a staged probe corpus. */
  private def deleteDir(spark: SparkSession, dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    } catch { case _: Throwable => () }

  /** The scale dir a run reads (SPARK_GRAFT_SF_DIR); the board's is
    * the default.
    */
  private[graft] def sfDirOf(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def scaleOn(env: Map[String, String]): Boolean =
    env.getOrElse("SPARK_GRAFT_SCALE10X", "1") != "0"

  /** The repo-tracked board: each round's numbers, machine-readable
    * from git history.
    */
  private[graft] val boardFile = "bench_results/latest.json"

  /** The files a run writes its JSON line to: SPARK_GRAFT_BENCH_OUT
    * always, and the tracked board only for the board's own
    * configuration — every entry (no SPARK_GRAFT_BENCH_ONLY), the
    * default scale dir and the 10× tail on — so a filtered, small-scale
    * or tail-less run never overwrites the committed numbers.
    */
  private[graft] def outFiles(env: Map[String, String]): Seq[String] = {
    val board = !env.contains("SPARK_GRAFT_BENCH_ONLY") &&
      sfDirOf(env) == sfDirOf(Map.empty) && scaleOn(env)
    env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json") +:
      (if (board) Seq(boardFile) else Nil)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sfDirOf(sys.env)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val doScale = scaleOn(sys.env)
    // local-iteration aid: comma-separated query-name filter (unset =
    // the full board). A filtered run benches the named entries and
    // runs the probe rows whose base it names (probesFor) — the
    // uncontended per-op probe graft.Probe compares numbers against.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    def keep(m: Map[String, (SparkSession, String) => DataFrame]) =
      only.fold(m)(f => m.filter { case (k, _) => f(k) })
    // built before the session: a probe-table name the registry lacks
    // fails here, not after the 1× passes and the corpus staging
    val plan = probesFor(only)
    // hard wall for the optional probe tail so a contended sandbox
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
    // window so all three passes time the DPP-pruned read. A staging
    // failure degrades to q34's own error line (it retries inside its
    // timed run), never aborts the other medians.
    quietly(graft.queries.Relational.stageQ34(spark, sfDir))

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
        quietly(graft.queries.Relational.stageQ34(spark, sfDir))
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

    // the probe tail's lines: (name, sec10x, sec1x, err) for scale10x
    // and (name, sec, shuffle_bytes, err) for sketch_probe
    val scaleResults = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Double, Option[String])]
    val sketchProbe = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Long, Option[String])]
    if (doScale && plan.nonEmpty) {
      // PROBE HERMETICITY (r12: probe seconds read 2-7x higher than
      // uncontended runs of identical code while every 1x median held
      // flat). The tail runs on a FRESH session over an emptied scratch
      // root: the passes leave gigabytes of dead warehouse parquet and a
      // 600-run session's shuffle/broadcast/ContextCleaner backlog —
      // the same isolation an uncontended graft.Probe run has.
      sweepScratch()
      val sp = GraftSession.restart(spark)
      // the fresh session's executor/BlockManager setup, untimed
      sp.read.parquet(s"$sfDir/nation.parquet")
        .write.format("noop").mode("overwrite").save()
      val dirs = scala.collection.mutable.Map.empty[Corpus, Either[String, String]]
      val lastUse = plan.zipWithIndex.map { case (p, i) => p.corpus -> i }.toMap
      def time(sketch: Boolean)(dir: String, fn: Fn): Res =
        if (sketch) timedShuffle(sp, dir, fn)
        else { val (s, e) = timed(sp, dir, fn); Res(s, e) }
      for ((p, i) <- plan.zipWithIndex) {
        // staging counts against the budget too: it is corpus rewrites
        val r =
          if (elapsed > budgetSec) Res(-1.0, Some("skipped_budget"))
          else dirs.getOrElseUpdate(p.corpus, stage(sp, sfDir, p.corpus, plan)) match {
            case Left(e) => Res(-1.0, Some(s"staging_failed: $e"))
            case Right(d) =>
              try p.run(Ctx(sp, sfDir, d, time(p.sketch)))
              catch { case e: Throwable => Res(-1.0, Some(firstLine(e))) }
          }
        p.sketchKey.foreach(k => sketchProbe += ((k, r.sec, r.bytes, r.err)))
        p.scaleKey.foreach(k =>
          scaleResults += ((k, r.sec, r.base.getOrElse(medians(p.base)), r.err)))
        if (lastUse(p.corpus) == i && p.corpus != Corpus.One)
          dirs.get(p.corpus).foreach(_.foreach(deleteDir(sp, _)))
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
    // persist the full JSON to a file as well, and to the board when
    // this run is the board's own configuration
    for (f <- outFiles(sys.env)) {
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
